"""Behavioral checks for the ML lifecycle (SURVEY.md §2.10) — the
parts a SQL oracle can't see: determinism, persistence round-trips,
and estimator-vs-expression parity."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_fit_and_score_deterministic(spark):
    from projetbigdata_spark.ml.pipeline import fit_and_score

    _, scored, acc = fit_and_score(spark, SF_SMOKE, kind="lr")
    preds = scored.select("prediction").distinct().collect()
    assert {r.prediction for r in preds} <= {0.0, 1.0}
    assert 0.0 <= acc <= 1.0
    # seeded split + deterministic LR -> identical accuracy on re-run
    _, _, acc2 = fit_and_score(spark, SF_SMOKE, kind="lr")
    assert acc == acc2


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _run_cv(spark, kind: str):
    """One CV entry-point call on SF_SMOKE: (model, metric rows) — and
    no cached frame may outlive the call. A JVM GC during the call can
    unpersist RDDs that earlier tests left unreferenced, so the check
    is that no RDD id is persisted after the call that was not before."""
    from projetbigdata_spark.ml.pipeline import crossval_fit, crossval_fit_dt

    before = _persistent_rdds(spark)
    model, metrics = {"lr": crossval_fit, "dt": crossval_fit_dt}[kind](spark, SF_SMOKE)
    assert _persistent_rdds(spark) <= before
    return model, metrics.collect()


@pytest.fixture(scope="module")
def cv_runs(spark):
    """Each classifier's CV run, shared by the tests below."""
    return {kind: _run_cv(spark, kind) for kind in ("lr", "dt")}


def test_crossval_dt_reference_grid(spark, cv_runs):
    """M6 reference parity (script1.py:71-82): the DT grid is exactly
    maxDepth [10, 20], 3-fold, accuracy metric — and seeded, so the
    two grid-point metrics reproduce bit-identically."""
    rows = {r.max_depth: r.avg_accuracy for r in cv_runs["dt"][1]}
    assert sorted(rows) == [10, 20]
    assert all(0.0 <= v <= 1.0 for v in rows.values())
    rows2 = {r.max_depth: r.avg_accuracy for r in _run_cv(spark, "dt")[1]}
    assert rows == rows2


@pytest.mark.parametrize("kind", ["lr", "dt"])
def test_hoisted_crossval_matches_full_pipeline_cv(spark, cv_runs, kind):
    """The CV entry points featurize once and cross-validate only
    [IDF, classifier]. A plain CrossValidator over the full
    build_pipeline — same grid, evaluator, folds and seed — must give
    exactly the same per-grid-point metrics and best model."""
    from pyspark.ml.tuning import CrossValidator

    from projetbigdata_spark.ml.pipeline import build_pipeline
    from projetbigdata_spark.sources.catalog import load_labeled_documents

    model = cv_runs[kind][0]
    pipe = build_pipeline(kind, model.bestModel.stages[2].getNumFeatures())
    clf = pipe.getStages()[-1]
    grid = [
        {clf.getParam(p.name): v for p, v in pm.items()}
        for pm in model.getEstimatorParamMaps()
    ]
    docs = load_labeled_documents(spark, SF_SMOKE)
    twin = CrossValidator(
        estimator=pipe,
        estimatorParamMaps=grid,
        evaluator=model.getEvaluator(),
        numFolds=model.getNumFolds(),
        seed=model.getSeed(),
        parallelism=4,
    ).fit(docs)
    assert model.avgMetrics == twin.avgMetrics
    a = model.bestModel.transform(docs).select("doc_id", "prediction")
    b = twin.bestModel.transform(docs).select("doc_id", "prediction")
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0


@pytest.mark.parametrize(
    "kind, classifier",
    [("lr", "LogisticRegressionModel"), ("dt", "DecisionTreeClassificationModel")],
)
def test_crossval_best_model_scores_raw_documents(spark, cv_runs, kind, classifier):
    """bestModel is a raw-text model again: it carries the hoisted
    stages in front, so it scores load_labeled_documents output
    directly, and its last stage is still the classifier."""
    from projetbigdata_spark.sources.catalog import load_labeled_documents

    best = cv_runs[kind][0].bestModel
    assert type(best.stages[-1]).__name__ == classifier
    docs = load_labeled_documents(spark, SF_SMOKE)
    preds = best.transform(docs).select("doc_id", "prediction").collect()
    assert len(preds) == docs.count()
    assert {r.prediction for r in preds} <= {0.0, 1.0}


def test_model_save_load_roundtrip(spark):
    """S7 rebuilt: PipelineModel.save/load replaces the reference's
    broken pickle persistence (sauvegarde_model.py:8-12)."""
    from pyspark.ml import PipelineModel

    from projetbigdata_spark.ml.pipeline import fit_and_score
    from projetbigdata_spark.sources.catalog import load_labeled_documents

    model, scored, _ = fit_and_score(spark, SF_SMOKE, kind="dt")
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/model"
        model.write().overwrite().save(path)
        reloaded = PipelineModel.load(path)
        docs = load_labeled_documents(spark, SF_SMOKE)
        a = model.transform(docs).select("doc_id", "prediction")
        b = reloaded.transform(docs).select("doc_id", "prediction")
        assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0


def test_ngram_expression_matches_ml_ngram(spark):
    """functions.text.ngrams (Catalyst expression) must agree with
    pyspark.ml.feature.NGram (T4) exactly."""
    from pyspark.ml.feature import NGram

    from projetbigdata_spark.functions.text import ngrams, tokenize
    from projetbigdata_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    toks = docs.select("doc_id", tokenize("text").alias("tokens"))
    ml_out = NGram(n=3, inputCol="tokens", outputCol="ml_grams").transform(toks)
    both = ml_out.select(
        "doc_id", "ml_grams", ngrams(F.col("tokens"), 3).alias("expr_grams")
    )
    mismatch = both.where(F.col("ml_grams") != F.col("expr_grams")).count()
    assert mismatch == 0


def test_assembled_pipeline_concats_features(spark):
    """T6: VectorAssembler output dim = text dim + 1 numeric feature,
    and the assembled pipeline trains and scores end-to-end."""
    from projetbigdata_spark.ml.pipeline import assembled_pipeline
    from projetbigdata_spark.sources.catalog import load_labeled_documents

    docs = load_labeled_documents(spark, SF_SMOKE)
    train, test = docs.randomSplit([0.8, 0.2], seed=42)
    model = assembled_pipeline(num_features=1 << 10).fit(train)
    scored = model.transform(test)
    first = scored.select("assembled").first().assembled
    assert first.size == (1 << 10) + 1
    assert scored.where(F.col("prediction").isNull()).count() == 0


def test_naive_bayes_trains(spark):
    """M4: the NaiveBayes family fits and scores (TF-IDF features are
    non-negative, NB's requirement)."""
    from projetbigdata_spark.ml.pipeline import fit_and_score

    _, scored, acc = fit_and_score(spark, SF_SMOKE, kind="nb")
    assert 0.0 <= acc <= 1.0
    assert {r.prediction for r in scored.select("prediction").distinct().collect()} <= {
        0.0,
        1.0,
    }


def test_kmeans_clusters_deterministic_and_complete(spark):
    """Iterative k-means: seeded fit must cover all vectors, produce k
    non-degenerate clusters, and be reproducible."""
    from projetbigdata_spark.ml.queries import ml_kmeans_clusters
    from projetbigdata_spark.sources.catalog import load_table

    a = ml_kmeans_clusters(spark, SF_SMOKE)
    n_total = load_table(spark, SF_SMOKE, "embeddings").count()
    rows = a.collect()
    assert sum(r.n_vectors for r in rows) == n_total
    assert 1 < len(rows) <= 8
    b = ml_kmeans_clusters(spark, SF_SMOKE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, b))


def test_seeded_split_reproducible(spark):
    """M8 fix-by-decree: randomSplit(seed=42) must be stable (the
    reference's unseeded split, script1.py:45, was not)."""
    from projetbigdata_spark.sources.catalog import load_labeled_documents

    docs = load_labeled_documents(spark, SF_SMOKE)
    a1, b1 = docs.randomSplit([0.8, 0.2], seed=42)
    a2, b2 = docs.randomSplit([0.8, 0.2], seed=42)
    assert a1.select("doc_id").subtract(a2.select("doc_id")).count() == 0
    assert b1.select("doc_id").subtract(b2.select("doc_id")).count() == 0


def test_chisq_expression_vs_mllib(spark):
    """The SQL-style χ² (ml_chisq_tokens) must agree with
    pyspark.ml.stat.ChiSquareTest on the same token features."""
    from pyspark.ml.feature import CountVectorizer
    from pyspark.ml.stat import ChiSquareTest

    from projetbigdata_spark.functions.text import tokenize
    from projetbigdata_spark.ml.queries import ml_chisq_tokens
    from projetbigdata_spark.sources.catalog import load_labeled_documents

    ours = {
        r.token: r.chi2 for r in ml_chisq_tokens(spark, SF_SMOKE).collect()
    }

    docs = load_labeled_documents(spark, SF_SMOKE)
    toks = docs.select(
        "label", F.array_distinct(tokenize("text")).alias("tokens")
    )
    cvm = CountVectorizer(inputCol="tokens", outputCol="features", binary=True).fit(
        toks
    )
    res = ChiSquareTest.test(cvm.transform(toks), "features", "label", flatten=True)
    stats = {
        cvm.vocabulary[r.featureIndex]: r.statistic for r in res.collect()
    }
    for token, chi2 in ours.items():
        assert abs(stats[token] - chi2) < 1e-4, (token, stats[token], chi2)


def test_ml_minhash_lsh_parity_with_expression_tier(spark):
    """The built-in MinHashLSH estimator tier must agree with the
    expression tier (dedup_jaccard_pairs): same shingle universe, so
    shared pairs carry the same exact Jaccard (the expression tier
    floors to the 1e-6 grid, the ml tier rounds — tolerance 2e-6) and
    the pair sets overlap at >= 0.9 recall each way (candidate
    generation differs: seeded internal hashes vs md5-derived
    universal hashes with a df-capped index)."""
    from pyspark.sql import functions as F  # noqa: F401

    from projetbigdata_spark.ml.queries import ml_minhash_pairs
    from projetbigdata_spark.operators.dedup import dedup_jaccard_pairs
    from tests.conftest import SF_CHECK

    expr_pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_jaccard_pairs(spark, SF_CHECK).collect()
    }
    ml_pairs = {
        (r.doc_a, r.doc_b): r.jaccard_ml
        for r in ml_minhash_pairs(spark, SF_CHECK).collect()
    }
    assert expr_pairs and ml_pairs
    shared = set(expr_pairs) & set(ml_pairs)
    assert len(shared) >= 0.9 * len(expr_pairs)
    assert len(shared) >= 0.9 * len(ml_pairs)
    for p in shared:
        assert abs(expr_pairs[p] - ml_pairs[p]) <= 2e-6, (p, expr_pairs[p], ml_pairs[p])


def test_quality_classifier_scorer_python_model(spark):
    """corpus_quality_classifier_scores == a from-scratch Python model:
    md5 60-bit hash -> bucket/sign -> signed counts -> frozen-
    coefficient dot product, exact at integer-micros precision."""
    import hashlib

    from projetbigdata_spark.operators.classifier import (
        QC_COEF_MICROS,
        QC_INTERCEPT_MICROS,
        corpus_quality_classifier_scores,
    )
    from projetbigdata_spark.operators.features import HASH_BUCKETS
    from tests.conftest import SF_SMOKE

    docs = {
        r.doc_id: (r.text, r.lang)
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    }
    expected = {}
    for d, (text, lang) in docs.items():
        logit = QC_INTERCEPT_MICROS
        for w in (text or "").lower().split():
            if not w:
                continue
            hv = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
            sign = 1 if (hv // HASH_BUCKETS) % 2 == 0 else -1
            logit += sign * QC_COEF_MICROS.get(hv % HASH_BUCKETS, 0)
        expected[d] = (lang, logit, logit >= 0)

    got = {
        r.doc_id: (r.lang, r.logit_micros, r.keep)
        for r in corpus_quality_classifier_scores(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_quality_classifier_fit_exports_faithful_coefficients(spark):
    """ml_quality_classifier_fit's coefficient table must reproduce
    the mllib model's own decisions: dotting the exported micros
    against the hashed features recovers model.transform's
    predictions (boundary docs within 1 micro of zero excused —
    that's the export grid, not the model)."""
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    from projetbigdata_spark.ml.pipeline import quality_classifier_fit
    from projetbigdata_spark.ml.queries import ml_quality_classifier_fit
    from tests.conftest import SF_SMOKE

    model, train = quality_classifier_fit(spark, SF_SMOKE)
    coef = {
        r.bucket: r.coef_micros
        for r in ml_quality_classifier_fit(spark, SF_SMOKE).collect()
    }
    icpt = coef.pop(-1)
    rows = (
        model.transform(train)
        .select(
            "doc_id",
            "prediction",
            vector_to_array(F.col("features")).alias("x"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        logit = icpt + sum(
            int(round(x)) * coef.get(b, 0) for b, x in enumerate(r.x)
        )
        if abs(logit) <= 1_000:  # within rounding slack of the boundary
            continue
        assert (logit >= 0) == (r.prediction == 1.0), (r.doc_id, logit)


def test_quality_classifier_report_rolls_up_scores(spark):
    """corpus_quality_classifier_report == the per-lang rollup of the
    scorer frame (exact ppm), with the is_target label following the
    DSIR target convention; fixture must exercise both keep and drop
    verdicts inside the target slice or the audit reads trivially."""
    from collections import defaultdict

    from projetbigdata_spark.operators.classifier import (
        corpus_quality_classifier_report,
        corpus_quality_classifier_scores,
    )
    from projetbigdata_spark.operators.selection import DSIR_TARGET_LANG
    from tests.conftest import SF_CHECK

    scores = corpus_quality_classifier_scores(spark, SF_CHECK).collect()
    agg = defaultdict(lambda: [0, 0])
    for r in scores:
        agg[r.lang][0] += 1
        agg[r.lang][1] += int(r.keep)
    got = {
        r.lang: (r.is_target, r.n_docs, r.n_keep, r.keep_rate_ppm)
        for r in corpus_quality_classifier_report(spark, SF_CHECK).collect()
    }
    assert set(got) == set(agg)
    for lang, (n, k) in agg.items():
        assert got[lang] == (
            lang == DSIR_TARGET_LANG,
            n,
            k,
            (1_000_000 * k) // n,
        ), lang
    tgt = got[DSIR_TARGET_LANG]
    assert 0 < tgt[2] < tgt[1]  # target slice has keeps AND drops


def test_keep_best_quality_python_model(spark):
    """dedup_keep_best_quality == the Python argmax over the component
    labels x the scorer frame: canonical = the cluster member with max
    (logit, -doc_id); full-corpus anchor; keep-count == |clusters| +
    |unclustered|; and the quality pick must DIFFER from min-id
    canonical selection somewhere, or the classifier isn't in the
    loop."""
    from projetbigdata_spark.operators.classifier import (
        corpus_quality_classifier_scores,
        dedup_keep_best_quality,
    )
    from projetbigdata_spark.operators.dedup import (
        dedup_components_verified_prefiltered,
    )
    from projetbigdata_spark.sources.catalog import load_table
    from tests.conftest import SF_CHECK

    logit = {
        r.doc_id: r.logit_micros
        for r in corpus_quality_classifier_scores(spark, SF_CHECK).collect()
    }
    comp = {
        r.doc_id: r.component_id
        for r in dedup_components_verified_prefiltered(
            spark, SF_CHECK
        ).collect()
    }
    best = {}
    for d, c in comp.items():
        if c not in best or (logit[d], -d) > (logit[best[c]], -best[c]):
            best[c] = d
    total = load_table(spark, SF_CHECK, "documents").count()

    got = dedup_keep_best_quality(spark, SF_CHECK).collect()
    assert len(got) == total
    n_keep = 0
    for r in got:
        expect_canon = best[comp[r.doc_id]] if r.doc_id in comp else r.doc_id
        assert r.canonical_id == expect_canon, r.doc_id
        assert r.keep == (r.canonical_id == r.doc_id), r.doc_id
        assert r.logit_micros == logit[r.doc_id], r.doc_id
        n_keep += int(r.keep)
    n_clusters = len(set(comp.values()))
    assert n_keep == n_clusters + (total - len(comp))
    # the quality argmax must disagree with min-id selection somewhere
    min_id = {}
    for d, c in comp.items():
        min_id[c] = min(min_id.get(c, d), d)
    assert any(best[c] != min_id[c] for c in best)


def test_quality_select_python_model(spark):
    """corpus_quality_select == the Python histogram-threshold model:
    bins from biased floor-div, T = largest bin whose top-down
    cumulative count reaches ceil(rate*n), selected iff bin >= T; the
    realized keep count lands in [budget, budget + |T bin| - 1]; and
    selection is monotone in quality (every kept doc's logit >= every
    dropped doc's bin floor)."""
    from collections import Counter

    from projetbigdata_spark.operators.classifier import (
        QS_BIAS,
        QS_BIN,
        QS_RATE_PPM,
        corpus_quality_classifier_scores,
        corpus_quality_select,
    )
    from tests.conftest import SF_CHECK

    logits = {
        r.doc_id: r.logit_micros
        for r in corpus_quality_classifier_scores(spark, SF_CHECK).collect()
    }
    n = len(logits)
    bins = {d: (lm + QS_BIAS) // QS_BIN for d, lm in logits.items()}
    hist = Counter(bins.values())
    budget = (n * QS_RATE_PPM + 999_999) // 1_000_000
    cum = 0
    t_bin = None
    for b in sorted(hist, reverse=True):
        cum += hist[b]
        if cum >= budget:
            t_bin = b
            break
    assert t_bin is not None

    got = {r.doc_id: r for r in corpus_quality_select(spark, SF_CHECK).collect()}
    assert len(got) == n
    n_sel = 0
    for d, r in got.items():
        assert r.logit_micros == logits[d], d
        assert r.bin == bins[d], d
        assert r.threshold_bin == t_bin, d
        assert r.selected == (bins[d] >= t_bin), d
        n_sel += int(r.selected)
    assert budget <= n_sel <= budget + hist[t_bin] - 1
    # monotone in quality: min kept logit >= max dropped logit's bin
    kept_min = min(r.logit_micros for r in got.values() if r.selected)
    drop_max = max(r.logit_micros for r in got.values() if not r.selected)
    assert kept_min > drop_max - QS_BIN
    assert 0 < n_sel < n  # fixture exercises both verdicts


def test_quality_calibration_report_ties_out(spark):
    """corpus_quality_calibration_report: bins partition the corpus
    (Σn_docs = corpus size, Σn_target = target-lang doc count); every
    doc's logit falls in its reported bin ([bin_lo, bin_lo + QS_BIN));
    target_ppm is the exact integral ratio."""
    from projetbigdata_spark.operators.classifier import (
        QS_BIN,
        corpus_quality_calibration_report,
        corpus_quality_classifier_scores,
    )
    from projetbigdata_spark.operators.selection import DSIR_TARGET_LANG
    from projetbigdata_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    total = docs.count()
    n_target = docs.where(f"lang = '{DSIR_TARGET_LANG}'").count()
    rep = corpus_quality_calibration_report(spark, SF_SMOKE).collect()
    assert sum(r.n_docs for r in rep) == total
    assert sum(r.n_target for r in rep) == n_target
    for r in rep:
        assert 0 <= r.n_target <= r.n_docs
        assert r.target_ppm == (1_000_000 * r.n_target) // r.n_docs
    edges = {r.bin: r.bin_lo_micros for r in rep}
    scores = corpus_quality_classifier_scores(spark, SF_SMOKE).collect()
    for s in scores:
        b = min(
            (lo for lo in edges.values() if lo <= s.logit_micros),
            key=lambda lo: s.logit_micros - lo,
        )
        assert b <= s.logit_micros < b + QS_BIN
