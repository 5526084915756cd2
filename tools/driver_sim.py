"""Driver-contract simulator: vanilla SparkSession (NONE of the tuned
confs), import __spark_entry__, run entry() + every queries() entry vs
its oracle_sql() on DuckDB at sf0.01 — sorted columns, 6dp float
rounding, order-insensitive multiset compare. Mirrors the external
verify driver."""

import os
import sys
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

SF = "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(repr(v))
        out.append(tuple(vals))
    return Counter(out)


def main():
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("driver-sim")
        .getOrCreate()
    )
    import __spark_entry__ as mod

    edf = mod.entry(spark)
    erows = edf.collect()
    print(f"ENTRY: {len(erows)} rows")
    assert len(erows) > 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF}/{t}.parquet')")

    queries = mod.queries()
    oracles = mod.oracle_sql()
    bad = []
    for name, fn in queries.items():
        try:
            df = fn(spark, SF)
            cols = df.columns
            srows = [tuple(r) for r in df.collect()]
            if name not in oracles:
                print(f"{name:42s} ROWS_ONLY {len(srows)}")
                continue
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            s, o = norm(srows, cols), norm(orows, ocols)
            if sorted(cols) != sorted(ocols):
                print(f"{name:42s} SCHEMA-MISMATCH {sorted(cols)} vs "
                      f"{sorted(ocols)}")
                bad.append(name)
            elif s == o:
                print(f"{name:42s} MATCH {len(srows)}")
            else:
                only_s = list((s - o).items())[:3]
                only_o = list((o - s).items())[:3]
                print(f"{name:42s} VALUE-MISMATCH rows {len(srows)} vs "
                      f"{len(orows)}\n  spark-only: {only_s}\n  "
                      f"oracle-only: {only_o}")
                bad.append(name)
        except Exception as e:  # noqa: BLE001
            print(f"{name:42s} ERROR {type(e).__name__}: {e}")
            bad.append(name)
    print("RESULT:", "ALL MATCH" if not bad else f"FAILURES: {bad}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
