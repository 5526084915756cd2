"""Materialise a workload's inputs and expected answers for one seed.

    python3 perfbench/prepare.py --workload NAME --seed N --dir DIR

Writes DIR/data/ (the generated tables, see datagen.py) and
DIR/expected.json (the oracle answers DuckDB computes over those
tables). run.py starts this as a child process for every run, into a
fresh directory, so no table or answer outlives the run that made it,
neither the generator's nor DuckDB's memory counts in the benchmark's
peak resident set, and none of it counts in set-up time.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def data_dir(run_dir: str) -> str:
    return os.path.join(run_dir, "data")


def expected_path(run_dir: str) -> str:
    return os.path.join(run_dir, "expected.json")


def prepare(workload: str, seed: int, run_dir: str) -> None:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import datagen
    import workloads
    from projetbigdata_spark import registry

    tables = datagen.generate(data_dir(run_dir), seed)
    _, oracles = registry.collect()
    answers = workloads.expected_answers(workload, ROOT, tables, oracles)
    with open(expected_path(run_dir), "w") as fh:
        json.dump(answers, fh)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", required=True)
    args = ap.parse_args()
    prepare(args.workload, args.seed, args.dir)


if __name__ == "__main__":
    main()
