"""Repository benchmark: one workload, one process, fresh Spark sessions.

    python3 perfbench/run.py --workload el_uniform --seed 1 --seconds 10 --trace 0

Run from the repository root; ``--seconds`` is fixed by ``run_seconds`` in
BENCHMARK.json. Inputs are generated from --seed and written to parquet
under .perfbench/ before any session starts; the library only receives
those paths. The last line of stdout is one JSON object {"correct",
"attempted", "failed", "metrics"}: with --trace 0 the end-to-end metrics,
with --trace 1 the per-layer metrics of a traced run. The line before it
describes the run (samples, failed_frac, sandbox facts, coverage). See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

WORKLOADS = {
    # n_entities = n_docs / 10; the corpus adds ~3% planted copies
    "el_uniform": {"kind": "el", "n_docs": 2000, "n_entities": 200, "min_f1": 0.99},
    # ~320k alias rows, under blocking.ALIAS_BROADCAST_MAX_ROWS
    "el_large_kb": {"kind": "el", "n_docs": 2000, "n_entities": 100_000, "min_f1": 0.99},
    # fixed 2,000-doc subset of the sf0.1 test documents (perfbench/oracle.py)
    "near_dup": {"kind": "near_dup"},
}
E2E_UNITS = {
    "wall_s": "s",
    "docs_per_s": "1/s",
    "setup_s": "s",
    "executor_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "peak_rss_mb": "MB",
    "pairwise_f1": "ratio",
}
# warm calls per run at the least, whatever --seconds says
MIN_SAMPLES = 2
# keeps a whole run well inside 180 s even when the host is slow
MAX_LOOP_S = 60.0
DRIVER_MEMORY = "3g"


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the timed loop (run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return ap.parse_args(argv)


def _environment(root: str, work: str, cores: int) -> None:
    """Confine the session to the checkout and fix what the host env could
    otherwise change: worker import path, scratch dirs, heap, cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("EL_VERBOSE", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_TABLE_FORMAT", "SPARK_CONF", "SPARK_GC_OPTS"):
        os.environ.pop(var, None)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            # the whole heap resident from launch: left to grow, its size
            # follows GC timing, which made peak_rss_mb spread by up to a
            # third between runs of the same code
            "SPARK_GC_OPTS": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "SPARK_GRAFT_CPUS": str(cores),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
            "SPARK_GRAFT_CONF": json.dumps(
                {
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                }
            ),
        }
    )


def _measure(harness: dict, workload) -> dict:
    """One timed call with fresh state; checks run after the clock stops."""
    from perfbench import sysmon

    status, pid = harness["status"], os.getpid()
    workload.prepare()
    since = status.high_water()
    cpu0 = sysmon.tree_cpu_s(pid)
    sysmon.reset_peak_rss(pid)
    t0 = time.perf_counter()
    result = workload.call()
    wall = time.perf_counter() - t0
    cpu = sysmon.tree_cpu_s(pid) - cpu0
    peak_rss = sysmon.tree_peak_rss_bytes(pid)
    status.settle()
    shuffle = sum(s["shuffleWriteBytes"] for s in status.stages() if s["stageId"] > since[1])
    f1 = workload.check(result)
    return {"wall_s": wall, "executor_cpu_s": cpu, "peak_rss_mb": peak_rss / 1e6,
            "shuffle_write_mb": shuffle / 1e6, "pairwise_f1": f1}


def _traced(harness: dict, workload) -> tuple[dict, dict, float]:
    """One call with spans and job groups; every job of the call must be
    attributed to a layer of the workload."""
    from perfbench import tracing

    spark, status = harness["spark"], harness["status"]
    workload.prepare()
    tracer = tracing.Tracer(spark)
    since = status.high_water()
    first_job = status.jobs_submitted()
    spark.sparkContext.setJobGroup(tracing.UNATTRIBUTED, tracing.UNATTRIBUTED)
    try:
        start = time.time()
        t0 = time.perf_counter()
        extra = workload.traced(tracer)
        wall = time.perf_counter() - t0
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    submitted = status.jobs_submitted() - first_job
    metrics, coverage = tracing.layer_metrics(tracer, status, since, submitted, workload.layers, start)
    metrics.update(extra)
    spans = [{k: s[k] for k in ("name", "parent", "thread", "start", "end")} for s in tracer.spans]
    return metrics, {"coverage": coverage, "spans": spans}, wall


class _Attempts:
    """Counts attempted and failed runs; a failed run is counted, not fatal."""

    def __init__(self):
        self.attempted = self.failed = 0

    def __call__(self, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001
            self.failed += 1
            traceback.print_exc()
            return None


def _workload(args: argparse.Namespace, work: str, cache: str):
    from perfbench import inputs, workloads

    spec = WORKLOADS[args.workload]
    if spec["kind"] == "el":
        el_in = inputs.el_inputs(work, cache, args.seed, spec["n_docs"], spec["n_entities"])
        return workloads.ElWorkload(el_in, work, spec["min_f1"])
    return workloads.NearDupWorkload(*inputs.near_dup_inputs(work, args.seed))


def _run(args: argparse.Namespace, work: str, cache: str) -> tuple[dict, dict]:
    from perfbench import sysmon

    attempt = _Attempts()
    workload = _workload(args, work, cache)
    if args.trace:
        _, (metrics, detail) = _session(workload, lambda harness: _traced_runs(harness, workload, attempt))
        units = _per_layer_units()
    else:
        steal0 = sysmon.host_steal_ticks()
        setup_s, (cold, warm) = _session(workload, lambda harness: _timed_runs(args.seconds, harness, workload, attempt))
        steal, total = (b - a for a, b in zip(steal0, sysmon.host_steal_ticks()))
        metrics, detail = _e2e(workload, setup_s, cold, warm)
        detail["host_steal_frac"] = steal / total if total else 0.0
        units = E2E_UNITS
    detail["failed_frac"] = attempt.failed / attempt.attempted
    result = {
        "correct": attempt.failed == 0,
        "attempted": attempt.attempted,
        "failed": attempt.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, detail


def _session(workload, body):
    """Build a fresh session (timed: JVM launch plus worker pre-fork), run
    ``body`` on it and stop it, waiting for the JVM and its workers.
    Returns (setup seconds, ``body``'s result)."""
    from perfbench import sysmon

    from entity_linking_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    setup_s = time.perf_counter() - t0
    try:
        workload.spark = spark
        out = body({"spark": spark, "status": sysmon.StatusStore(spark)})
    finally:
        sysmon.stop_session(spark)
    return setup_s, out


def _timed_runs(seconds: float, harness: dict, workload, attempt) -> tuple[dict | None, list[dict]]:
    """The cold call of the fresh session, then warm calls until ``seconds``
    have passed and at least MIN_SAMPLES succeeded (within MAX_LOOP_S)."""
    cold = attempt(lambda: _measure(harness, workload))
    runs: list[dict] = []
    start = time.perf_counter()
    while True:
        r = attempt(lambda: _measure(harness, workload))
        if r is not None:
            runs.append(r)
        elapsed = time.perf_counter() - start
        if (elapsed >= seconds and len(runs) >= MIN_SAMPLES) or elapsed >= MAX_LOOP_S:
            return cold, runs


def _e2e(workload, setup_s: float, cold: dict | None, warm: list[dict]) -> tuple[dict, dict]:
    if not warm or cold is None:
        raise RuntimeError("no successful timed run")
    med = {k: statistics.median(r[k] for r in warm) for k in warm[0]}
    metrics = {
        "wall_s": med["wall_s"],
        "docs_per_s": workload.n_docs / med["wall_s"],
        "setup_s": setup_s,
        "executor_cpu_s": med["executor_cpu_s"],
        "shuffle_write_mb": med["shuffle_write_mb"],
        "peak_rss_mb": med["peak_rss_mb"],
        "pairwise_f1": min(r["pairwise_f1"] for r in [cold, *warm]),
    }
    detail = {"samples": len(warm), "cold": cold, "warm": warm}
    return metrics, detail


def _traced_runs(harness: dict, workload, attempt) -> tuple[dict, dict]:
    """A cold run (not reported), then traced between two untraced
    controls; the overhead is the traced wall minus their mean."""
    attempt(lambda: _measure(harness, workload))
    warm = attempt(lambda: _measure(harness, workload))
    traced = attempt(lambda: _traced(harness, workload))
    warm2 = attempt(lambda: _measure(harness, workload))
    untraced = [r["wall_s"] for r in (warm, warm2) if r]
    if traced is None or not untraced:
        raise RuntimeError("traced run or its untraced control failed")
    layer, detail, traced_wall = traced
    layer["pipeline.trace.overhead_s"] = traced_wall - statistics.mean(untraced)
    # layers of the other workloads did not run: they read 0 here, and the
    # detail line lists them
    units = _per_layer_units()
    detail.update(traced_wall_s=traced_wall, untraced_wall_s=untraced,
                  not_in_workload=sorted({n for n in units if n not in layer}))
    return {name: float(layer.get(name, 0.0)) for name in units}, detail


def _per_layer_units() -> dict[str, str]:
    from perfbench import tracing

    return tracing.per_layer_units()


def main(argv: list[str]) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "entity_linking_spark", "pipeline.py"))
        and os.path.isfile(os.path.join(root, "__spark_entry__.py"))
    ):
        print("perfbench: run from the repository root; entity_linking_spark/ not found", file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench")
    work, cache = os.path.join(base, f"run-{os.getpid()}"), os.path.join(base, "cache")
    os.makedirs(cache, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    _environment(root, work, cores)
    sys.path.insert(0, root)
    try:
        result, detail = _run(args, work, cache)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    import pyspark

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        # the facts a result is only comparable under
        "sandbox": {
            "cores": cores,
            "spark": pyspark.__version__,
            "driver_memory": DRIVER_MEMORY,
            "python": platform.python_version(),
            "host_cpus": os.cpu_count(),
        },
        **detail,
    }
    with open(os.path.join(base, f"last_{args.workload}_trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps({k: v for k, v in detail.items() if k not in ("spans", "warm", "not_in_workload")}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
