"""The benchmark's workloads: each an ordered list of steps.

A step's ``run`` is timed: it calls into the package, forces the result
and returns the output (a pandas frame collected to the client, or the
path of a written sink). Its ``check`` is not timed: it compares that
output with the expected answer and returns an error string, or None
when the output is correct.

Expected answers come from outside Spark wherever the package has one:
DuckDB runs the registered oracle SQL over the same table files, and
``tools/local_correctness._value_hash`` compares the two frames
dtype-strictly. The sentiment classifier has no SQL oracle. Its write
must hold one line per held-out document with a label in {0.0, 1.0},
and the same lines on every pass of the run; the accuracy the fit
reports must be the one those labels give against the true labels
(computed by DuckDB); and cross-validation must return the four grid
points, pick the one with the highest AUC, and get the same AUCs on
every pass.
"""

from __future__ import annotations

import glob
import hashlib
import importlib.util
import math
import os
import sys
from dataclasses import dataclass, field
from typing import Any, Callable

# The two workloads. Each exercises layers the other bypasses, so a
# change to one family of layers has a control workload.
WORKLOADS = {
    # The paper's flagship dataflow (load -> tokenize -> TF-IDF -> fit
    # -> cross-validate -> score -> write), then the scan/shuffle
    # relational, window and event shapes. No text operators, no
    # barriers, no vectors.
    "ml_olap": (
        "fit_and_score",
        "crossval_fit",
        "classifications_write",
        # not q3_shipping_priority: it rounds a double sum to cents and
        # fails its oracle on ~10% of seeds (README.md); q7 sums exactly
        "q7_nation_volume",
        "window_rank_orders",
        "events_session_30m",
        "events_gaps_islands",
    ),
    # The LLM-data composition: the curation ladder with its
    # partitioned parquet write, the CCNet selection, then the vector
    # tier (IVF index build and probe) and BM25 search.
    # Text CPU in higher-order functions, barriers, eager jobs inside
    # query build. No ML fit, no relational joins.
    # The ladder's gates are lazy: curate() only builds a plan, so
    # their stages all run inside the write. Each gate's operator is
    # therefore also forced as a step of its own, so that its layer
    # launches, and is charged for, its own stages.
    "text_vector": (
        "curate_write",
        "text_quality_scores",
        "text_repetition_scores",
        "contamination_ngram_overlap",
        "docs_pack_greedy",
        "corpus_dsir_weights",
        "sim_ivf_topk",
        "text_search_bm25",
    ),
}

CURATE = "corpus_curate"

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@dataclass
class Ctx:
    """What a step needs: the session, the table directory, the output
    directory, the expected answers, and state steps hand on."""

    spark: Any
    data_dir: str
    out_dir: str
    expected: dict
    state: dict = field(default_factory=dict)


@dataclass
class Step:
    name: str
    fn: Callable | None  # the package function the step calls, whose
    # module is the step's layer; None for a write (layer "sink")
    run: Callable[[Ctx], Any]
    check: Callable[[Ctx, Any], str | None]


def load_file_module(root: str, rel: str, name: str):
    """Import a repository file that is not in a package (examples/,
    tools/) under a private module name."""
    if name in sys.modules:
        return sys.modules[name]
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, rel))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


class Checker:
    """Frame signatures under the repository's dtype-strict hash."""

    def __init__(self, root: str) -> None:
        self._hash = load_file_module(
            root, "tools/local_correctness.py", "_perfbench_local_correctness"
        )._value_hash

    def signature(self, pdf) -> dict:
        return {"rows": len(pdf), "cols": sorted(pdf.columns), "hash": self._hash(pdf)}


def _compare(got: dict, want: dict) -> str | None:
    if got["rows"] != want["rows"] or got["cols"] != want["cols"]:
        return (
            f"{got['rows']} rows {got['cols']}, "
            f"oracle {want['rows']} rows {want['cols']}"
        )
    return None if got["hash"] == want["hash"] else "value hash differs from the oracle"


def _query_step(name: str, queries: dict, checker: Checker) -> Step:
    fn = queries[name]

    def run(ctx: Ctx):
        return fn(ctx.spark, ctx.data_dir).toPandas()

    def check(ctx: Ctx, pdf) -> str | None:
        return _compare(checker.signature(pdf), ctx.expected[name])

    return Step(name, fn, run, check)


# --- sentiment: fit, cross-validate, write ------------------------------


def _sentiment_steps() -> dict[str, Step]:
    from pyspark.sql import functions as F

    from projetbigdata_spark.ml.pipeline import crossval_fit, fit_and_score

    def fit(ctx: Ctx):
        _, scored, acc = fit_and_score(ctx.spark, ctx.data_dir, kind="lr")
        ctx.state["scored"] = scored
        return acc

    def check_fit(ctx: Ctx, acc) -> str | None:
        # the same pass writes the scored frame; its labels must give
        # the accuracy the evaluator reported
        rows = _read_classifications(os.path.join(ctx.out_dir, "classifications"))
        labels = ctx.expected["labels"]
        if not rows or any(len(r) != 2 or r[0] not in labels for r in rows):
            return "the scored frame is not the held-out split"
        right = sum(float(r[1]) == labels[r[0]] for r in rows)
        if not math.isclose(acc, right / len(rows), rel_tol=1e-12):
            return f"accuracy {acc}, the written labels give {right / len(rows)}"
        return None

    def cv(ctx: Ctx):
        model, metrics = crossval_fit(ctx.spark, ctx.data_dir)
        lr = model.bestModel.stages[-1]
        best = (lr.getRegParam(), lr.getMaxIter())
        return best, [tuple(r) for r in metrics.collect()]

    def check_cv(ctx: Ctx, out) -> str | None:
        best, rows = out
        grid = sorted((r[0], r[1]) for r in rows)
        if grid != [(0.01, 5), (0.01, 10), (0.1, 5), (0.1, 10)]:
            return f"grid points {grid}"
        top = max(rows, key=lambda r: r[2])
        if best != (top[0], top[1]):
            return f"best model {best}, the highest AUC is at {top[:2]}"
        # the folds and the fits are seeded: every pass gets the same AUCs
        first = ctx.state.setdefault("cv_rows", rows)
        return None if rows == first else "AUCs differ from the first pass"

    def write(ctx: Ctx):
        out = os.path.join(ctx.out_dir, "classifications")
        (
            ctx.state.pop("scored")
            .select(
                F.format_string("%05d", F.col("doc_id")).alias("docid"),
                F.col("prediction").cast("string").alias("label"),
            )
            .write.option("sep", "\t")
            .mode("overwrite")
            .csv(out)
        )
        return out

    def check_write(ctx: Ctx, out) -> str | None:
        rows = _read_classifications(out)
        if any(len(r) != 2 for r in rows):
            return "a line is not docid<TAB>label"
        want = sorted(ctx.expected["labels"])
        if sorted(r[0] for r in rows) != want:
            return f"{len(rows)} lines, expected one per {len(want)} held-out docs"
        if not {r[1] for r in rows} <= {"0.0", "1.0"}:
            return "labels outside {0.0, 1.0}"
        lines = sorted("\t".join(r) for r in rows)
        digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
        first = ctx.state.setdefault("digest", digest)
        return None if digest == first else "digest differs from the first pass"

    return {
        "fit_and_score": Step("fit_and_score", fit_and_score, fit, check_fit),
        "crossval_fit": Step("crossval_fit", crossval_fit, cv, check_cv),
        "classifications_write": Step("classifications_write", None, write, check_write),
    }


def _read_classifications(out: str) -> list[list[str]]:
    """The written (docid, label) lines, split on the tab."""
    lines = []
    for part in sorted(glob.glob(os.path.join(out, "part-*"))):
        with open(part) as fh:
            lines.extend(fh.read().splitlines())
    return [ln.split("\t") for ln in lines]


def heldout_labels(spark, data_dir: str, doc_labels: dict) -> dict:
    """The held-out split fit_and_score scores, as written docid ->
    true label. Spark draws the split, as fit_and_score does; the
    labels are `doc_labels`, computed outside Spark."""
    from projetbigdata_spark.ml.pipeline import SEED
    from projetbigdata_spark.sources.catalog import load_labeled_documents

    docs = load_labeled_documents(spark, data_dir)
    test = docs.randomSplit([0.8, 0.2], seed=SEED)[1]
    ids = (f"{r.doc_id:05d}" for r in test.select("doc_id").collect())
    return {d: doc_labels[d] for d in ids}


# --- curation: examples/corpus_curation.curate + partitioned write -------


def _curate_step(example) -> Step:
    def write(ctx: Ctx):
        out = os.path.join(ctx.out_dir, "curated")
        example.curate(ctx.spark, ctx.data_dir).write.mode("overwrite").partitionBy(
            "split"
        ).parquet(out)
        return out

    def check(ctx: Ctx, out) -> str | None:
        import pyarrow.dataset as ds

        table = ds.dataset(out, format="parquet", partitioning="hive").to_table(
            columns=["doc_id", "split"]
        )
        got = sorted(
            [d, s]
            for d, s in zip(
                table.column("doc_id").to_pylist(), table.column("split").to_pylist()
            )
        )
        want = ctx.expected[CURATE]
        if len(got) != len(want):
            return f"{len(got)} curated docs, the oracle keeps {len(want)}"
        return None if got == want else "curated (doc_id, split) differ from the oracle"

    return Step("curate_write", None, write, check)


def build(workload: str, root: str, queries: dict) -> list[Step]:
    """The steps of `workload`, in order."""
    checker = Checker(root)
    named: dict[str, Step] = {}
    names = WORKLOADS[workload]
    if "crossval_fit" in names:
        named.update(_sentiment_steps())
    if "curate_write" in names:
        example = load_file_module(
            root, "examples/corpus_curation.py", "_perfbench_corpus_curation"
        )
        named["curate_write"] = _curate_step(example)
    return [named.get(n) or _query_step(n, queries, checker) for n in names]


def expected_answers(
    workload: str, root: str, data_dir: str, oracles: dict
) -> dict:
    """Oracle signatures for every query step of `workload`, from DuckDB
    over `data_dir`; the true sentiment label of every document, for
    the sentiment steps; and the (doc_id, split) pairs the
    corpus_curate oracle keeps, for curate_write."""
    import duckdb

    checker = Checker(root)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')"
            )
        out: dict = {}
        for name in WORKLOADS[workload]:
            if name in oracles:
                out[name] = checker.signature(con.execute(oracles[name]).df())
        if "fit_and_score" in WORKLOADS[workload]:
            # the sentiment label: the parity of the number in `source`
            docs = con.execute("SELECT doc_id, source FROM documents").fetchall()
            out["doc_labels"] = {
                f"{d:05d}": float(int(src.removeprefix("src")) % 2) for d, src in docs
            }
        if "curate_write" in WORKLOADS[workload]:
            kept = con.execute(f"SELECT doc_id, split FROM ({oracles[CURATE]}) WHERE kept")
            out[CURATE] = sorted([int(d), s] for d, s in kept.fetchall())
        return out
    finally:
        con.close()
