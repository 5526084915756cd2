"""Workload benchmark for projetbigdata_spark: whole dataflows, end to end
and layer by layer.

    python3 perfbench/run.py --workload ml_olap --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload text_vector --seed 1 --seconds 15 --trace 1

Run from the repository root. One process runs one workload with one
closed-loop client. It generates the seeded inputs and their expected
answers into a fresh directory that it deletes at exit
(perfbench/prepare.py, in a child process), starts the Spark session,
and then runs passes back to back: the cold pass, which is also the
warm-up, then measured passes until --seconds have passed since the
first of them began (at least MEASURED_PASSES of them). Every pass is checked
(workloads.py).

With --trace 1, measured passes go traced, untraced, untraced, traced
(at least MEASURED_PASSES_TRACED of them), so the overhead estimate
cancels a linear drift. Traced passes are attributed to the package's
layers (stagemetrics.py); the untraced ones give the tracing overhead.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics (end-to-end metrics with
--trace 0, per-layer metrics with --trace 1). The line before it is a
detail record with every pass's time and check result. Exit code 2 means
the program under test is not in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

# Measured passes a run makes however short --seconds is. They follow
# the cold pass, which is also the warm-up. A single warm pass moves by
# 10-25% on a shared host, partly because the JIT is still compiling
# (each run's warm_drift shows how much), so a run takes the median of
# at least two.
MEASURED_PASSES = 2
MEASURED_PASSES_TRACED = 4
# No pass starts this long after the process started, which keeps a
# run under three minutes even on a slow host.
PASS_CUTOFF_S = 120.0
# Driver heap for every session the benchmark starts.
DRIVER_MEM = "2g"

REQUIRED = (
    "projetbigdata_spark/__init__.py",
    "projetbigdata_spark/registry.py",
    "examples/corpus_curation.py",
    "tools/local_correctness.py",
)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _configure_env() -> None:
    """Keep every file Spark writes inside the checkout, size the local
    master to the cores this process may use, and pin worker Python."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {java_opts} pyspark-shell"
    for path in (ROOT, HERE):
        if path not in sys.path:
            sys.path.insert(0, path)


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        boot = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return time.time() - (boot + start_ticks / os.sysconf("SC_CLK_TCK"))


class Session:
    """The Spark session (in a JVM of its own) and the registry: the
    set-up, timed in two parts."""

    def __init__(self) -> None:
        t0 = time.perf_counter()
        from projetbigdata_spark.session import get_spark

        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        from projetbigdata_spark import registry

        self.queries, _ = registry.collect()
        self.session_s = t1 - t0
        self.registry_s = time.perf_counter() - t1
        self.spark.sparkContext.setLogLevel("ERROR")

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to exit."""
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def _prepare(workload: str, seed: int) -> str:
    """Generate the inputs and expected answers into a new directory
    and return it."""
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=WORK)
    cmd = [sys.executable, os.path.join(HERE, "prepare.py")]
    cmd += ["--workload", workload, "--seed", str(seed), "--dir", run_dir]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    return run_dir


def _run_pass(steps, ctx, tracer) -> tuple[float, float, list[float], list]:
    """Run every step once, each in a span of its layer; return the pass
    time (the sum of the step times), the pass's wall-clock time (which
    also covers reading each step's stage metrics), the step times and
    each step's (status, output)."""
    import stagemetrics

    outputs, step_s = [], []
    t0 = time.perf_counter()
    for step in steps:
        layer = stagemetrics.layer_of(getattr(step.fn, "__module__", "")) or "sink"
        with tracer.span(layer):
            s0 = time.perf_counter()
            try:
                outputs.append(("ok", step.run(ctx)))
            except Exception as exc:  # a failed operation is counted, not fatal
                outputs.append(("raised", f"{type(exc).__name__}: {exc}"))
            step_s.append(time.perf_counter() - s0)
    return sum(step_s), time.perf_counter() - t0, step_s, outputs


def _check_pass(steps, ctx, outputs) -> list[str]:
    errors = []
    for step, (status, out) in zip(steps, outputs):
        err = out if status == "raised" else step.check(ctx, out)
        if err:
            errors.append(f"{step.name}: {err}")
    return errors


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.perf_counter()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        _log(f"run from the repository root; missing {', '.join(missing)}")
        return 2
    _configure_env()
    import prepare
    import stagemetrics
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _log(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
        return 2

    # set-up time runs from process start to the session and registry
    # being ready, less the input generation in between
    startup_s = _process_age_s()
    run_dir = _prepare(args.workload, args.seed)
    try:
        with open(prepare.expected_path(run_dir)) as fh:
            expected = json.load(fh)
        sess = Session()
        setup_s = startup_s + sess.session_s + sess.registry_s
        _log(f"set-up {setup_s:.2f} s")
        try:
            report = _measure(args, sess, run_dir, expected, t_start)
        finally:
            sess.close()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    detail, layer_rows = report
    passes = detail["passes"]
    measured = [p for p in passes[1:] if not p["traced"]]
    traced = [p for p in passes[1:] if p["traced"]]
    attempted = sum(len(p["steps"]) for p in passes)
    failed = sum(len(p["errors"]) for p in passes)
    detail.update(
        workload=args.workload,
        seed=args.seed,
        cores=len(os.sched_getaffinity(0)),
        setup_s=round(setup_s, 4),
        failed_share=failed / attempted,
    )
    if args.trace:
        metrics = {
            name: {"value": statistics.median([row[name] for row in layer_rows]), "unit": unit}
            for name, unit in stagemetrics.per_layer_units().items()
        }
        metrics["session.wall_s"] = {"value": sess.session_s, "unit": "s"}
        metrics["registry.wall_s"] = {"value": sess.registry_s, "unit": "s"}
        metrics["trace.overhead_s"] = {
            "value": statistics.median([p["wall_s"] for p in traced])
            - statistics.median([p["wall_s"] for p in measured]),
            "unit": "s",
        }
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "first_pass_s": {"value": passes[0]["wall_s"], "unit": "s"},
            "wall_s": {
                "value": statistics.median([p["wall_s"] for p in measured]),
                "unit": "s",
            },
            "executor_cpu_s": {
                "value": statistics.median([p["cpu_s"] for p in measured]),
                "unit": "s",
            },
            "memory_mb": {"value": detail["memory_mb"], "unit": "MB"},
        }
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _measure(args, sess: Session, run_dir: str, expected: dict, t_start: float):
    """The pass loop in session `sess`, over the inputs in `run_dir`."""
    import prepare
    import stagemetrics
    import workloads

    spark = sess.spark
    data = prepare.data_dir(run_dir)
    ctx = workloads.Ctx(spark, data, os.path.join(run_dir, "out"), expected)
    steps = workloads.build(args.workload, ROOT, sess.queries)
    tracer = stagemetrics.Tracer(spark, scans=bool(args.trace))
    if args.trace:
        tracer.install()

    min_measured = MEASURED_PASSES_TRACED if args.trace else MEASURED_PASSES
    passes: list[dict] = []
    layer_rows: list[dict] = []
    window_start = 0.0
    while True:
        n = len(passes)  # 0: cold, then measured
        now = time.perf_counter()
        if n >= 1 + min_measured and now - window_start >= args.seconds:
            break
        # a traced run needs one traced and one untraced measured pass
        if n >= 1 + min(2, min_measured) and now - t_start >= PASS_CUTOFF_S:
            break
        if n == 1:
            window_start = now
        traced = bool(args.trace) and n >= 1 and (n - 1) % 4 in (0, 3)
        tracer.nested = traced
        wall, clock, step_s, outputs = _run_pass(steps, ctx, tracer)
        row, totals = tracer.take_pass()
        if traced:
            row["spark.storage_mb"] = tracer.storage_mb()
            # time inside the pass but outside every span: the benchmark's
            # own loop and its reads of each step's stage metrics
            row["trace.uncovered_s"] = max(0.0, clock - sum(step_s))
            layer_rows.append(row)
        if "doc_labels" in ctx.expected and "labels" not in ctx.expected:
            ctx.expected["labels"] = workloads.heldout_labels(
                spark, data, ctx.expected["doc_labels"]
            )
        errors = _check_pass(steps, ctx, outputs)
        passes.append(
            {
                "wall_s": round(wall, 4),
                "cpu_s": round(totals["cpu_s"], 4),
                "stages": totals["stages"],
                "traced": traced,
                "steps": {s.name: round(t, 4) for s, t in zip(steps, step_s)},
                "errors": errors,
            }
        )
        if traced:
            passes[-1]["uncovered_s"] = round(row["trace.uncovered_s"], 4)
        _log(
            f"pass {n} {wall:.2f} s, {totals['stages']} stages"
            + (" traced" if traced else "")
            + ("; ".join([""] + errors) if errors else "")
        )
    # The JVM's peak resident set follows how far the collector let the
    # heap grow, which moves with host load (1.5 to 2.1 GB over ten runs
    # of one commit on a 4-core host); what the program keeps alive
    # after a full collection does not.
    py_peak = stagemetrics.rss_peak_mb([os.getpid()])
    jvm_live = stagemetrics.jvm_live_mb(spark)
    pids = [os.getpid(), sess.jvm_pid()]
    detail = {
        "passes": passes,
        "memory_mb": py_peak + jvm_live,
        "python_peak_rss_mb": py_peak,
        "jvm_live_mb": jvm_live,
        "peak_rss_mb": stagemetrics.rss_peak_mb(pids),
        "warm_drift": _drift(passes),
    }
    return detail, layer_rows


def _drift(passes: list[dict]) -> float | None:
    """How much slower the first measured untraced pass ran than the
    median of the later ones: how far from steady state it still was."""
    untraced = [p["wall_s"] for p in passes[1:] if not p["traced"]]
    if len(untraced) < 2:
        return None
    return untraced[0] / statistics.median(untraced[1:]) - 1.0


if __name__ == "__main__":
    sys.exit(main())
