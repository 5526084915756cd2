"""ML lifecycle (SURVEY.md §2.10, M1-M9) — the reference's "query
engine" rebuilt on pyspark.ml with the modern Pipeline API.

Reference flow being rebuilt (script1.py:49-90):
    NLTKWordPunctTokenizer -> HashingTF -> IDF -> StringIndexer ->
    DecisionTree / LogisticRegression, tuned by 3-fold CrossValidator,
    scored with model.transform, evaluated with a Multiclass evaluator.

Deliberate fixes over the reference (SURVEY.md §4.3 "fix by decree"):
  - every randomSplit/estimator is seeded (the reference's unseeded
    script1.py:45 split made results non-reproducible);
  - scoring is model.transform (vectorized, JVM) — never the
    reference's per-row broadcast-model predict
    (main_reglogit_generate_txt.py:84-89);
  - persistence is PipelineModel.save/load — the reference's pickle
    round-trip (sauvegarde_model.py:8-12) is documented broken.

Cross-validation featurizes once (_crossval): the tokenizer, stopword
filter and HashingTF learn nothing from the data, so they run once into
a cached frame and CV fits only [IDF, classifier] per fold x grid point;
IDF, the one stateful stage, still fits on each fold's training rows.
`_kFold` draws `rand(seed)` per partition and the cache keeps the scan's
partitions and row order (never widen it), so folds, fits and metrics
are bit-identical to a CV over the full pipeline.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import (
    DecisionTreeClassifier,
    LogisticRegression,
    NaiveBayes,
)
from pyspark.ml.evaluation import (
    BinaryClassificationEvaluator,
    MulticlassClassificationEvaluator,
)
from pyspark.ml.feature import (
    IDF,
    HashingTF,
    RegexTokenizer,
    StopWordsRemover,
)
from pyspark.ml.tuning import CrossValidator, CrossValidatorModel, ParamGridBuilder
from pyspark.sql import DataFrame, SparkSession

from projetbigdata_spark.functions.text import STOPWORDS

SEED = 42


def feature_stages(num_features: int = 1 << 15) -> list:
    """T2 tokenizer + F1 stopwords + A2 TF + A3 IDF as Pipeline stages.
    RegexTokenizer(\\w+|[^\\w\\s]+) is the Catalyst-side stand-in for
    NLTK wordpunct_tokenize (transformers.py:9-41); divergence noted in
    SURVEY.md §4.3."""
    return [
        RegexTokenizer(
            inputCol="text",
            outputCol="raw_tokens",
            pattern=r"\w+|[^\w\s]+",
            gaps=False,
            toLowercase=True,
        ),
        StopWordsRemover(
            inputCol="raw_tokens", outputCol="tokens", stopWords=list(STOPWORDS)
        ),
        HashingTF(inputCol="tokens", outputCol="tf", numFeatures=num_features),
        IDF(inputCol="tf", outputCol="features"),
    ]


def assembled_pipeline(num_features: int = 1 << 12) -> Pipeline:
    """T6 feature-space concat (script4.py:166-175: unigram dict ∪
    trigram dict with index offsets, done by hand) rebuilt with
    VectorAssembler: TF-IDF text vector ⊕ numeric doc-length feature.
    The assembler's offset bookkeeping replaces the reference's manual
    `len(dicoUni)+i` arithmetic."""
    from pyspark.ml.feature import SQLTransformer, VectorAssembler

    return Pipeline(
        stages=[
            *feature_stages(num_features),
            SQLTransformer(
                statement=(
                    "SELECT *, CAST(n_chars AS DOUBLE) AS len_feature FROM __THIS__"
                )
            ),
            VectorAssembler(
                inputCols=["features", "len_feature"], outputCol="assembled"
            ),
            LogisticRegression(
                featuresCol="assembled", maxIter=10, regParam=0.01
            ),
        ]
    )


def make_classifier(kind: str = "lr"):
    """M1-M4: the reference's three classifier families."""
    if kind == "lr":
        # script3_ter.py:150 / script5.py:106 config
        return LogisticRegression(maxIter=30, regParam=0.01)
    if kind == "dt":
        # script1.py:55 config
        return DecisionTreeClassifier(maxDepth=10, seed=SEED)
    if kind == "nb":
        return NaiveBayes()
    raise ValueError(f"unknown classifier kind {kind!r}")


def build_pipeline(kind: str = "lr", num_features: int = 1 << 15) -> Pipeline:
    """M5: the flagship 5-stage pipeline (script1.py:57-61)."""
    return Pipeline(stages=[*feature_stages(num_features), make_classifier(kind)])


def fit_and_score(
    spark: SparkSession, sf_dir: str, kind: str = "lr"
) -> tuple[PipelineModel, DataFrame, float]:
    """M8+M9+M7: seeded 80/20 split, fit, transform, evaluate."""
    from projetbigdata_spark.sources.catalog import load_labeled_documents

    docs = load_labeled_documents(spark, sf_dir)
    train, test = docs.randomSplit([0.8, 0.2], seed=SEED)
    model = build_pipeline(kind).fit(train)
    scored = model.transform(test)
    acc = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    ).evaluate(scored)
    return model, scored, acc


def _crossval(
    spark: SparkSession, sf_dir: str, kind: str, num_features: int,
    grid: dict[str, list], evaluator, num_folds: int, schema: str,
) -> tuple[CrossValidatorModel, DataFrame]:
    """M6 core: seeded CV of the `kind` pipeline over `grid` (classifier
    param name -> values) with the text stages hoisted (module
    docstring). Returns the model, whose bestModel scores raw documents,
    and one `schema` row per grid point: its values, then the metric."""
    from projetbigdata_spark.sources.catalog import load_labeled_documents

    stages = build_pipeline(kind, num_features).getStages()
    clf = stages[-1]
    builder = ParamGridBuilder()
    for name, values in grid.items():
        builder.addGrid(clf.getParam(name), values)
    param_maps = builder.build()
    stateless = PipelineModel(stages[:3])
    docs = stateless.transform(load_labeled_documents(spark, sf_dir)).cache()
    try:
        cv_model = CrossValidator(
            estimator=Pipeline(stages=stages[3:]),
            estimatorParamMaps=param_maps,
            evaluator=evaluator,
            numFolds=num_folds,
            seed=SEED,
            parallelism=4,  # folds x grid points fit; metrics are seeded
            # per-fold averages, so parallelism never changes the numbers
        ).fit(docs)
    finally:
        docs.unpersist()
    cv_model.bestModel = PipelineModel([*stateless.stages, *cv_model.bestModel.stages])
    rows = [
        (*(pm[clf.getParam(name)] for name in grid), float(m))
        for pm, m in zip(param_maps, cv_model.avgMetrics)
    ]
    return cv_model, spark.createDataFrame(rows, schema)


def crossval_fit_dt(
    spark: SparkSession, sf_dir: str
) -> tuple["CrossValidator", DataFrame]:
    """M6 with the REFERENCE's exact CV config (script1.py:71-82):
    DecisionTree grid `maxDepth [10, 20]`, 3-fold (the reference leaves
    CrossValidator at its numFolds=3 default), Multiclass evaluator
    with Spark 1.x `'precision'` == modern `'accuracy'` (the metric was
    renamed in SPARK-15617; `baseOn([evaluator.metricName,'precision'])`
    pinned the same thing). Seeded — the one decreed fix. Text stages
    run once, outside the folds (module docstring); same accuracies."""
    # parity lives in the grid/folds/metric; the hash width is ours to
    # pick — 2^10 keeps the 6 CV fits fast at check scale (DT split
    # search is linear in feature count)
    return _crossval(
        spark, sf_dir, "dt", 1 << 10, {"maxDepth": [10, 20]},
        MulticlassClassificationEvaluator(
            labelCol="label", predictionCol="prediction", metricName="accuracy"
        ),
        num_folds=3, schema="max_depth int, avg_accuracy double",
    )


def crossval_fit(
    spark: SparkSession, sf_dir: str
) -> tuple[CrossValidator, DataFrame]:
    """M6: seeded 2-fold CrossValidator over the reference's LR grid
    shape (maxIter x regParam, main_reglogit.py:92-95), parallelized.
    Text stages run once, outside the folds (module docstring)."""
    return _crossval(
        spark, sf_dir, "lr", 1 << 12,
        {"regParam": [0.01, 0.1], "maxIter": [5, 10]},
        BinaryClassificationEvaluator(labelCol="label"),
        num_folds=2, schema="reg_param double, max_iter int, avg_auc double",
    )


def quality_classifier_fit(
    spark: SparkSession, sf_dir: str
) -> tuple["LogisticRegression", DataFrame]:
    """The GPT-3/CCNet-style QUALITY-CLASSIFIER fit — the reference's
    own LR flow (main_reglogit.py:90-99: per-doc term features ->
    pyspark.ml LogisticRegression; repo reference-exact config
    maxIter=30, regParam=0.01) re-aimed at corpus curation: features
    are the hashing-trick signed counts (operators/features.
    text_feature_hashing — no vocabulary table, the form a corpus-
    scale classifier actually trains on), the label is the DSIR
    target convention (lang == DSIR_TARGET_LANG as the target slice
    vs the raw rest — Brown et al. 2020's "quality" setup of
    target-vs-raw discrimination).

    Vector assembly stays JVM-side: the long-form (doc_id, bucket,
    signed_sum) features fold into a HASH_BUCKETS-wide dense array
    via map_from_entries + a transform over the bucket range, then
    pyspark.ml.functions.array_to_vector — no Python UDF, no pivot.
    Returns (fitted model, the training frame) so callers can score,
    audit, or export coefficients (tools/fit_quality_classifier.py
    freezes them in integer micros for the relational scorer
    operators/classifier.py — the fit is rows-only, the frozen-
    coefficient scoring is full-oracle)."""
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from projetbigdata_spark.operators.features import (
        HASH_BUCKETS,
        text_feature_hashing,
    )
    from projetbigdata_spark.operators.selection import DSIR_TARGET_LANG
    from projetbigdata_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    feats = text_feature_hashing(spark, sf_dir)
    fm = feats.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.col("bucket"),
                    F.col("signed_sum").cast("double").alias("v"),
                )
            )
        ).alias("fm")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(HASH_BUCKETS - 1)),
        lambda b: F.coalesce(F.col("fm")[b], F.lit(0.0)),
    )
    train = (
        docs.join(fm, "doc_id", "left")
        .select(
            "doc_id",
            # NULL lang = raw/non-target (the scorer's convention);
            # a bare `==` comparison yields NULL labels, which
            # LogisticRegression.fit rejects (ADVICE r8).
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1.0)
            .otherwise(0.0)
            .alias("label"),
            array_to_vector(dense).alias("features"),
        )
    )
    lr = LogisticRegression(
        maxIter=30, regParam=0.01, featuresCol="features", labelCol="label"
    )
    return lr.fit(train), train
