"""In-session Spark stage metrics and layer spans, with no UI and no REST.

``StageReader`` reads the session's status store
(``sc._jsc.sc().statusStore()``), the same store the Spark UI renders,
which exists with ``spark.ui.enabled=false``. For one job group it
returns the jobs and the stages they ran, serialised to JSON in the JVM
with the fields of Spark's v1 REST API. Reading when each span closes,
while its stages are still retained, keeps the store's retained-stage
limit from evicting any stage unread.

``Tracer`` times the calls into the package's public driver-side
functions from outside: it replaces each function's bindings in the
package's module namespaces with a wrapper that opens a span. A span
tags the Spark jobs it starts with ``sc.setJobGroup``, so every stage
is attributed to the innermost span that launched it. The layer of a
span is the module that defines the called function.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import re
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

PACKAGE = "projetbigdata_spark"

# The layers spans are recorded for, by module. The relational*
# modules are one layer.
LAYERS = (
    "sources.catalog",
    "ml.pipeline",
    "operators.relational",
    "operators.windows",
    "operators.sessionize",
    "operators.textstats",
    "operators.repetition",
    "operators.dedup",
    "operators.curation",
    "operators.packing",
    "operators.selection",
    "operators.similarity",
    "operators.tfidf",
    "streaming.events_batch",
    "sink",
)
LAYER_FIELDS = ("wall_s", "driver_s", "jobs", "stages", "tasks", "cpu_s", "shuffle_mb")
MB = 1024.0 * 1024.0

# Nodes and edges of a stage's RDD graph in the DOT text Spark renders
# for the UI.
_DOT_NODE = re.compile(r'^\s*(\d+) \[id="node_\d+" labelType="html" label="(.*)"\];$', re.M)
_DOT_EDGE = re.compile(r"^\s*(\d+)->(\d+);$", re.M)


UNITS = {
    "wall_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "cpu_s": "s",
    "shuffle_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced pass reports, with its unit."""
    units = {f"{layer}.{f}": UNITS[f] for layer in LAYERS for f in LAYER_FIELDS}
    units.update(
        {
            "sources.catalog.input_mb": "MB",
            "sink.output_mb": "MB",
            "ml.pipeline.tasks_per_stage": "count",
            "operators.dedup.skipped_stage_share": "share",
            "operators.similarity.skipped_stage_share": "share",
            "spark.wait_s": "s",
            "spark.gc_s": "s",
            "spark.spill_mb": "MB",
            "spark.failed_tasks": "count",
            "spark.storage_mb": "MB",
            "trace.uncovered_s": "s",
        }
    )
    return units


def layer_of(module: str) -> str | None:
    """`projetbigdata_spark.operators.relational3` -> `operators.relational`;
    None for a module that is not one of LAYERS."""
    if not module.startswith(PACKAGE + "."):
        return None
    name = module[len(PACKAGE) + 1 :]
    if name.startswith("operators.relational"):
        name = "operators.relational"
    return name if name in LAYERS else None


class StageReader:
    """Reads the jobs of one job group, and their stages, as dicts with
    the fields of Spark's v1 REST API. With `scans`, each stage also
    gets `readsFiles` (see `_reads_files`)."""

    def __init__(self, spark, scans: bool = False) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._tracker = self._jsc.statusTracker()
        self._store = self._jsc.statusStore()
        self._quantiles = sc._gateway.new_array(jvm.double, 0)
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)
        self._seen_stages: set[int] = set()
        self._scans = scans
        self._dot = jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile
        self._stored_rdds: set[int] = set()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def read_group(self, group: str) -> tuple[list[dict], list[dict]]:
        """The jobs of `group` and the stages those jobs ran (a stage
        shared with an earlier job is returned once, with that job)."""
        jobs, stages = [], []
        for job_id in sorted(self._tracker.getJobIdsForGroup(group)):
            job = self._json(self._store.job(job_id))
            jobs.append(job)
            for sid in sorted(job["stageIds"]):
                if sid in self._seen_stages:
                    continue
                for attempt in self._json(
                    self._store.stageData(sid, False, None, False, self._quantiles)
                ):
                    if attempt["status"] in ("COMPLETE", "FAILED"):
                        self._seen_stages.add(sid)
                        if self._scans:
                            attempt["readsFiles"] = self._reads_files(sid)
                        stages.append(attempt)
        return jobs, stages

    def _reads_files(self, sid: int) -> bool:
        """Whether stage `sid` scanned a table file. Spark's input bytes
        also count reads of cached and localCheckpointed blocks, so a
        stage with input is not necessarily a scan. A scan stage has a
        FileScanRDD in its RDD graph that no stored RDD cut off: one
        that is not upstream of a cached RDD an earlier stage already
        computed. Stages must be read in the order they ran."""
        dot = self._dot(self._store.operationGraphForStage(sid))
        nodes = {int(i): label for i, label in _DOT_NODE.findall(dot)}
        stored = {i for i, label in nodes.items() if f"[{i}] [Cached]" in label}
        hits = stored & self._stored_rdds
        self._stored_rdds |= stored
        down = defaultdict(list)
        for a, b in _DOT_EDGE.findall(dot):
            down[int(a)].append(int(b))

        def cut_off(node: int) -> bool:
            todo, seen = [node], set()
            while todo:
                n = todo.pop()
                if n in hits:
                    return True
                if n not in seen:
                    seen.add(n)
                    todo.extend(down[n])
            return False

        return any(
            label.startswith("FileScanRDD [") and not cut_off(i)
            for i, label in nodes.items()
        )

    def storage_mb(self) -> float:
        """Block-manager memory and disk held by cached/checkpointed RDDs."""
        infos = self._jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB


def stage_totals(stages: list[dict]) -> dict:
    """Whole-pass counters summed over stages."""
    run_s = sum(s["executorRunTime"] for s in stages) / 1000.0
    cpu_s = sum(s["executorCpuTime"] for s in stages) / 1e9
    return {
        "stages": len(stages),
        "tasks": sum(s["numTasks"] for s in stages),
        "cpu_s": cpu_s,
        "wait_s": max(0.0, run_s - cpu_s),
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
        "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages)
        / MB,
        "failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "input_mb": sum(s["inputBytes"] for s in stages) / MB,
        "output_mb": sum(s["outputBytes"] for s in stages) / MB,
        "shuffle_mb": sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in stages)
        / MB,
    }


@dataclass
class Span:
    sid: int
    layer: str
    start: float = 0.0
    end: float = 0.0
    child_s: float = 0.0
    jobs: list = field(default_factory=list)
    stages: list = field(default_factory=list)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of the intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Spans over one session. Every span tags the jobs it starts with
    its own job group and, when it closes, reads those jobs' stages.
    `install()` wraps the package's driver-side functions in spans,
    which open only while `nested` is true; `span(layer)` opens one
    directly."""

    def __init__(self, spark, scans: bool = False) -> None:
        self._sc = spark.sparkContext
        self._reader = StageReader(spark, scans)
        self._stack: list[Span] = []
        self._next = 0
        self.spans: list[Span] = []
        self.nested = False

    def storage_mb(self) -> float:
        return self._reader.storage_mb()

    @contextlib.contextmanager
    def span(self, layer: str):
        span = self._open(layer)
        try:
            yield span
        finally:
            self._close(span)

    def _open(self, layer: str) -> Span:
        self._next += 1
        span = Span(self._next, layer, start=time.time())
        self._stack.append(span)
        self._sc.setJobGroup(f"perfbench-{span.sid}", layer)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        self._stack.pop()
        if self._stack:
            parent = self._stack[-1]
            parent.child_s += span.end - span.start
            self._sc.setJobGroup(f"perfbench-{parent.sid}", parent.layer)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        span.jobs, span.stages = self._reader.read_group(f"perfbench-{span.sid}")
        self.spans.append(span)

    # -- wrapping --------------------------------------------------------

    def install(self) -> None:
        """Wrap every driver-side function defined in a LAYERS module,
        in every namespace that binds it: the package's modules and the
        repository files the benchmark loaded (module names starting
        with `_perfbench_`). Driver-side means its first parameter is
        `spark` or a DataFrame: such a function never runs in a task."""
        wrapped: dict[int, object] = {}
        mods = [
            m
            for name, m in list(sys.modules.items())
            if name.startswith((PACKAGE + ".", "_perfbench_"))
        ]
        for mod in mods:
            for attr, value in list(vars(mod).items()):
                if not inspect.isfunction(value):
                    continue
                layer = layer_of(value.__module__)
                if layer is None or not _driver_side(value):
                    continue
                if id(value) not in wrapped:
                    wrapped[id(value)] = self._wrap(value, layer)
                setattr(mod, attr, wrapped[id(value)])

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.nested:
                return fn(*args, **kwargs)
            with tracer.span(layer):
                return fn(*args, **kwargs)

        return traced

    # -- per-pass report -------------------------------------------------

    def take_pass(self) -> tuple[dict, dict]:
        """Per-layer metrics and whole-pass stage totals over the spans
        closed since the last call."""
        out = {f"{layer}.{f}": 0.0 for layer in LAYERS for f in LAYER_FIELDS}
        skipped = {layer: [0, 0] for layer in LAYERS}
        for span in self.spans:
            p = span.layer
            self_s = (span.end - span.start) - span.child_s
            busy = _union_s(
                [
                    (s["submissionTime"] / 1000.0, s["completionTime"] / 1000.0)
                    for s in span.stages
                    if s.get("submissionTime") and s.get("completionTime")
                ]
            )
            tot = stage_totals(span.stages)
            out[f"{p}.wall_s"] += self_s
            out[f"{p}.driver_s"] += max(0.0, self_s - busy)
            out[f"{p}.jobs"] += len(span.jobs)
            out[f"{p}.stages"] += tot["stages"]
            out[f"{p}.tasks"] += tot["tasks"]
            out[f"{p}.cpu_s"] += tot["cpu_s"]
            out[f"{p}.shuffle_mb"] += tot["shuffle_mb"]
            for j in span.jobs:
                skipped[p][0] += j["numSkippedStages"]
                skipped[p][1] += j["numSkippedStages"] + j["numCompletedStages"]
        stages = [s for span in self.spans for s in span.stages]
        # the catalog's stage counters are its file-scan stages,
        # wherever they were forced: the scan width a loader change moves
        scan = stage_totals([s for s in stages if s.get("readsFiles")])
        out["sources.catalog.stages"] = scan["stages"]
        out["sources.catalog.tasks"] = scan["tasks"]
        out["sources.catalog.cpu_s"] = scan["cpu_s"]
        out["sources.catalog.input_mb"] = scan["input_mb"]
        tot = stage_totals(stages)
        out["sink.output_mb"] = tot["output_mb"]
        ml_stages = out["ml.pipeline.stages"]
        out["ml.pipeline.tasks_per_stage"] = (
            out["ml.pipeline.tasks"] / ml_stages if ml_stages else 0.0
        )
        for layer in ("operators.dedup", "operators.similarity"):
            sk, n = skipped[layer]
            out[f"{layer}.skipped_stage_share"] = sk / n if n else 0.0
        for k in ("wait_s", "gc_s", "spill_mb", "failed_tasks"):
            out[f"spark.{k}"] = tot[k]
        self.spans = []
        return out, tot


def _driver_side(fn) -> bool:
    params = list(inspect.signature(fn).parameters.values())
    if not params:
        return False
    first = params[0]
    return first.name == "spark" or first.annotation in ("DataFrame", "SparkSession")


def rss_peak_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of each live process."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def jvm_live_mb(spark) -> float:
    """JVM heap in use after a full collection, plus non-heap memory."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / MB
