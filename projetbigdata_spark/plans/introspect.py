"""Physical-plan introspection — the ".explain and iterate" loop
(SURVEY.md §4.2) turned into assertable properties so plan quality is
regression-tested, not just eyeballed once.

Used by tests/test_plans.py to pin the plan shapes we designed for:
filters reaching the parquet scan (PushedFilters), dims broadcast,
no accidental cartesian products, window counts, exchange reuse.
`shuffle_write` measures the shuffle-write bytes that the byte budgets
in tools/shuffle_report.py cap.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession


def physical_plan(df: DataFrame) -> str:
    """The final (AQE-initial) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True iff some scan's PushedFilters mentions `fragment`."""
    plan = physical_plan(df)
    return any(
        "PushedFilters" in line and fragment in line
        for line in plan.splitlines()
    )


def count_op(df: DataFrame, op: str) -> int:
    return physical_plan(df).count(op)


def assert_broadcast_join(df: DataFrame, name: str = "", at_least: int = 1) -> None:
    n = count_op(df, "BroadcastHashJoin")
    assert n >= at_least, f"{name}: expected >= {at_least} broadcast joins, got {n}"


class ShuffleWrite(NamedTuple):
    bytes: int
    records: int
    stages: int


def shuffle_write(spark: SparkSession, run: Callable[[], object]) -> ShuffleWrite:
    """Call `run()` and sum the shuffle writes of the stages it
    completed, read from the session's status store (no UI needed).
    Stages are picked by id, not job group, so those a worker thread
    launches count too; no other thread may run jobs meanwhile."""
    sc = spark.sparkContext._jsc.sc()
    first = sc.dagScheduler().nextStageId()
    run()
    sc.listenerBus().waitUntilEmpty()
    done = []
    for sid in range(first, sc.dagScheduler().nextStageId()):
        try:
            stage = sc.statusStore().lastStageAttempt(sid)
        except Py4JJavaError:  # an id no job event reported
            continue
        if stage.status().toString() == "COMPLETE":
            done.append(stage)
    return ShuffleWrite(
        sum(s.shuffleWriteBytes() for s in done),
        sum(s.shuffleWriteRecords() for s in done),
        len(done),
    )
