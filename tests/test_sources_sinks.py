"""Source/sink coverage (SURVEY.md §2.1 S5/S6/S7-adjacent):

  S6 — the reference's prediction sink (`classifications_*.txt`,
       script3.py:206-210: collect() + driver loop) rebuilt as a
       DISTRIBUTED tab-separated write: df.write.csv(sep='\\t'), no
       driver materialization, any number of output parts.
  S5 — libsvm source (`MLUtils.loadLibSVMFile`,
       test_pickle.zip!test_regression_pickle_dumping.py:12) rebuilt
       as spark.read.format('libsvm').
  Partitioned parquet sink — the 100 TB sink posture: write
       partitioned by a dim column, verify partition pruning on read.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_prediction_sink_tab_separated(spark, tmp_path):
    """S6: docid<TAB>label rows, golden-file format
    (classifications_script1.txt: `00000\\t1.0`), written distributed."""
    from projetbigdata_spark.ml.pipeline import fit_and_score

    _, scored, _ = fit_and_score(spark, SF_SMOKE, kind="lr")
    out = str(tmp_path / "classifications")
    (
        scored.select(
            F.format_string("%05d", F.col("doc_id")).alias("docid"),
            F.col("prediction").cast("string").alias("label"),
        )
        .write.option("sep", "\t")
        .mode("overwrite")
        .csv(out)
    )
    back = spark.read.option("sep", "\t").schema("docid string, label string").csv(out)
    assert back.count() == scored.count() > 0
    row = back.orderBy("docid").first()
    assert len(row.docid) == 5 and row.label in ("0.0", "1.0")


def test_libsvm_source_roundtrip(spark, tmp_path):
    """S5: libsvm write+read — (label, features sparse vector)."""
    p = str(tmp_path / "sample.libsvm")
    with open(p, "w") as f:
        f.write("1.0 1:0.5 3:1.5\n0.0 2:2.0\n1.0 1:1.0 2:1.0 3:1.0\n")
    df = spark.read.format("libsvm").option("numFeatures", "4").load(p)
    assert df.columns == ["label", "features"]
    rows = df.orderBy("label").collect()
    assert len(rows) == 3
    # libsvm indices are 1-based: `2:2.0` lands at 0-based position 1
    assert rows[0].features.toArray().tolist() == [0.0, 2.0, 0.0, 0.0]
    assert {r.label for r in rows} == {0.0, 1.0}


def test_json_source_roundtrip(spark, tmp_path):
    """JSON lines sink + schema-explicit source (inference is a
    correctness hazard; production reads always pin the schema)."""
    from projetbigdata_spark.sources.catalog import load_events

    out = str(tmp_path / "events_json")
    e = load_events(spark, SF_SMOKE).select("event_id", "event_type", "value")
    e.write.mode("overwrite").json(out)
    back = spark.read.schema("event_id long, event_type string, value double").json(out)
    assert back.count() == e.count()
    assert back.subtract(e).count() == 0 and e.subtract(back).count() == 0


def test_catalog_rejects_unknown_table(spark):
    import pytest as _pytest

    from projetbigdata_spark.sources.catalog import load_table

    with _pytest.raises(KeyError, match="unknown table"):
        load_table(spark, SF_SMOKE, "nope")


@pytest.mark.parametrize(
    "dirname", ["sp ace", "pct%41x", "pct%zz", "hash#frag", "q?x"]
)
def test_scan_bytes_reads_uri_escaped_dirs(spark, tmp_path, dirname):
    """inputFiles() returns percent-encoded URIs; _scan_bytes decodes
    them back to the on-disk path, so a directory name that is itself
    `%`-, `#`-, `?`- or space-laden still yields the true file size
    (None would silently disable parallel_scan's bytes_per_task cap)."""
    import shutil

    from projetbigdata_spark.sources.catalog import _scan_bytes

    src = f"{SF_SMOKE}/documents.parquet"
    d = tmp_path / dirname
    d.mkdir()
    shutil.copyfile(src, d / "documents.parquet")
    df = spark.read.parquet(str(d / "documents.parquet"))
    assert _scan_bytes(df) == os.path.getsize(src)


def test_partitioned_parquet_sink_prunes(spark, tmp_path):
    """Distributed sink partitioned by `lang`; a lang-filtered read
    must touch only that partition (partition pruning)."""
    from projetbigdata_spark.sources.catalog import load_table

    out = str(tmp_path / "docs_by_lang")
    docs = load_table(spark, SF_SMOKE, "documents")
    docs.write.partitionBy("lang").mode("overwrite").parquet(out)

    back = spark.read.parquet(out)
    en = back.where(F.col("lang") == "en")
    expected = docs.where(F.col("lang") == "en").count()
    assert en.count() == expected > 0
    # pruning is visible in the physical plan's PartitionFilters
    plan = en._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan


def test_orc_sink_source_roundtrip(spark, tmp_path):
    """ORC is the other columnar format Spark ships natively (S5-class
    source breadth): values and schema must survive a write/read
    roundtrip, including the array<float> embedding column."""
    from pyspark.sql import functions as F

    from projetbigdata_spark.sources.catalog import load_table

    src = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "emb_orc")
    src.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.schema == src.schema
    assert back.count() == src.count()
    a = src.agg(F.sum("vec_id")).first()[0]
    b = back.agg(F.sum("vec_id")).first()[0]
    assert a == b


def test_cli_entry_points(spark, capsys):
    """python -m projetbigdata_spark {list,oracle} — the switch-over
    CLI surface (run/explain covered implicitly: same registry path +
    the session factory the whole suite uses)."""
    from projetbigdata_spark.__main__ import main

    assert main(["list", "q1"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary  [SQL]" in out

    assert main(["oracle", "q1_pricing_summary"]) == 0
    assert "l_returnflag" in capsys.readouterr().out

    assert main(["oracle", "ml_crossval_metrics"]) == 0
    assert "rows-only" in capsys.readouterr().out

    assert main(["oracle", "nonexistent_query"]) == 2
