"""Local replica of the driver's correctness check.

Builds the driver's vanilla SparkSession (``local[8]``, 8 shuffle
partitions, UI off, none of ``get_spark``'s confs), imports
``__spark_entry__``, checks that ``entry(spark)`` returns rows, then
runs every ``queries()`` entry next to its ``oracle_sql()`` DuckDB
twin and gates each pair with ``compare``: row count, sorted column
names, and an order-insensitive hash of every cell's string form and
value kind (int/float/str/Timestamp), so int64 5 != float64 5.0 and a
1e-9 float drift fails. Pandas dtypes are reported in the JSON, not
gated. pytest's oracle-parity test applies the same ``compare`` on
the tuned session; perfbench loads ``_value_hash`` from this file.

Also records per-query wall time so the slow families (which burn the
driver's fixed check budget) are visible. A query that raises is
retried once.

Usage:
    python tools/local_correctness.py [--sf SF_DIR]
        [--only prefix1,prefix2] [--json out.json]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from projetbigdata_spark.sources.catalog import TABLES  # noqa: E402


def _cells(df: pd.DataFrame) -> list[tuple[tuple[str, str], ...]]:
    """What ``_value_hash`` digests: each row as (value kind, string
    form) cells, columns sorted by name, rows sorted by string form.
    The kind is the Python type a cell collects to (int, float, str,
    Timestamp, ...), so int64 5 != float64 5.0 while int32/int64 and
    datetime64 ns/us agree."""
    df = df[sorted(df.columns)]
    rows = [
        tuple((type(v).__name__, str(v)) for v in row)
        for row in df.itertuples(index=False)
    ]
    rows.sort(key=lambda r: tuple(x[1] for x in r))
    return rows


def _digest(rows: list[tuple[tuple[str, str], ...]]) -> str:
    h = hashlib.sha256()
    for r in rows:
        for tname, s in r:
            h.update(tname.encode())
            h.update(b"\x00")
            h.update(s.encode())
            h.update(b"\x01")
        h.update(b"\x02")
    return h.hexdigest()


def _value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a frame's values and value kinds."""
    return _digest(_cells(df))


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> dict:
    """The driver's gate on a collected Spark frame and its oracle's:
    same row count, same sorted column names, equal ``_value_hash``.
    Dtypes are reported, not gated (Spark collects datetime64[ns]
    where DuckDB gives [us]). A value mismatch records the first
    differing sorted row of each side."""
    rec: dict = {"spark_rows": len(sdf), "oracle_rows": len(odf)}
    rec["rows_match"] = len(sdf) == len(odf)
    s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
    rec["schema_match"] = s_cols == o_cols
    if rec["schema_match"]:
        s_dtypes = [str(sdf[c].dtype) for c in s_cols]
        o_dtypes = [str(odf[c].dtype) for c in o_cols]
        rec["dtype_match"] = s_dtypes == o_dtypes
        if not rec["dtype_match"]:
            rec["dtypes"] = {
                c: [sd, od]
                for c, sd, od in zip(s_cols, s_dtypes, o_dtypes)
                if sd != od
            }
        s_rows, o_rows = _cells(sdf), _cells(odf)
        rec["hash_match"] = _digest(s_rows) == _digest(o_rows)
        if not rec["hash_match"]:
            i = next(
                (i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b),
                min(len(s_rows), len(o_rows)),
            )

            def row(rows):
                if i >= len(rows):
                    return None
                return {c: f"{s} ({t})" for c, (t, s) in zip(s_cols, rows[i])}

            rec["first_diff"] = {
                "row": i, "spark": row(s_rows), "oracle": row(o_rows)}
    else:
        rec["dtype_match"] = False
        rec["hash_match"] = False
        rec["cols"] = {"spark": s_cols, "oracle": o_cols}
    ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
    rec["status"] = "pass" if ok else "FAIL"
    return rec


def mismatch(rec: dict) -> str:
    """The failing parts of a ``compare`` record, as one JSON line."""
    return json.dumps({
        k: rec[k] for k in
        ("rows_match", "schema_match", "dtype_match", "hash_match",
         "dtypes", "cols", "first_diff") if k in rec})


def _check_one(spark, con, fn, oracle: str | None, sf: str) -> dict:
    """Run one query and its oracle, then ``compare``; raises on any
    failure to produce the Spark frame so the caller can retry."""
    t0 = time.time()
    sdf = fn(spark, sf).toPandas()
    rec: dict = {"spark_sec": round(time.time() - t0, 2)}
    if oracle is None:
        rec.update(spark_rows=len(sdf), status="rows_only")
        return rec
    t1 = time.time()
    odf = con.execute(oracle).df()
    rec["oracle_sec"] = round(time.time() - t1, 2)
    rec.update(compare(sdf, odf))
    return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--only", default="")
    ap.add_argument("--json", default="")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # the driver's own session: none of get_spark's confs
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("local-correctness")
        .getOrCreate()
    )
    import __spark_entry__ as mod

    n_entry = len(mod.entry(spark).collect())
    print(f"ENTRY: {n_entry} rows")
    if not n_entry:
        raise SystemExit("entry(spark) returned no rows")
    queries, oracles = mod.queries(), mod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf}/{t}.parquet')"
        )

    prefixes = [p for p in args.only.split(",") if p]
    results: dict[str, dict] = {}
    n_pass = n_fail = n_rows_only = n_err = 0
    for name, fn in queries.items():
        if prefixes and not any(name.startswith(p) for p in prefixes):
            continue
        rec: dict = {}
        try:
            rec = _check_one(spark, con, fn, oracles.get(name), args.sf)
        except Exception as e:  # noqa: BLE001
            # retry once: one of seven full r3 vanilla-session runs
            # reported a single unreproducible failure right after a
            # heavy pytest run (NEXT.md watch item) — absorb load
            # transients, but record the first error so a genuinely
            # flaky query stays visible in the JSON.
            first_err = f"{type(e).__name__}: {e}"
            try:
                rec = _check_one(
                    spark, con, fn, oracles.get(name), args.sf)
                rec["first_attempt_err"] = first_err
                print(f"{name:40s} RETRY (first attempt: {first_err[:80]})")
            except Exception as e2:  # noqa: BLE001
                rec = {"status": "err",
                       "err": f"{type(e2).__name__}: {e2}",
                       "first_attempt_err": first_err}
                n_err += 1
                print(f"{name:40s} ERR  {rec['err'][:120]}")
                traceback.print_exc(limit=3)
                results[name] = rec
                continue
        status = rec["status"]
        if status == "rows_only":
            n_rows_only += 1
            print(f"{name:40s} ROWS_ONLY {rec['spark_rows']:>8} rows "
                  f"{rec['spark_sec']:>6.2f}s")
        else:
            ok = status == "pass"
            n_pass += ok
            n_fail += not ok
            extra = "" if ok else " " + mismatch(rec)
            print(f"{name:40s} {status:4s} {rec['spark_rows']:>8} rows "
                  f"{rec['spark_sec']:>6.2f}s spark "
                  f"{rec['oracle_sec']:>5.2f}s duck{extra}")
        results[name] = rec

    total_sec = sum(r.get("spark_sec", 0) + r.get("oracle_sec", 0)
                    for r in results.values())
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only, "
          f"{n_err} err / {len(results)} checked; "
          f"total {total_sec:.0f}s")
    slow = sorted(results.items(),
                  key=lambda kv: -kv[1].get("spark_sec", 0))[:10]
    print("slowest:", ", ".join(
        f"{k}={v.get('spark_sec', 0):.1f}s" for k, v in slow))
    if args.json:
        with open(args.json, "w") as f:
            json.dump(results, f, indent=1)
    spark.stop()
    return 1 if (n_fail or n_err) else 0


if __name__ == "__main__":
    raise SystemExit(main())
