"""Spans and job attribution for the traced run.

Spans are recorded around the library's public calls by temporarily
wrapping module attributes from this file; the library itself is not
changed. Each span sets a Spark job group in the thread that opens it,
so every job the span triggers -- on any thread, including the stage
threads ``pipeline.run_pipeline`` starts -- can be attributed afterwards
from the driver's status store. Layer names are ``<module>.<stage>``.

Coverage is checked against a second source: the number of jobs the
DAG scheduler assigned ids to during the run. A job whose group is no
layer of the running workload counts as unattributed and fails the run.
"""

from __future__ import annotations

import contextlib
import statistics
import threading
import time
from datetime import datetime

EL_STAGES = {
    "s1_extract": "extract.s1",
    "s1b_embeddings": "extract.s1b",
    "s2_mentions": "blocking.s2",
    "s3_candidates": "blocking.s3",
    "s4_pairs": "blocking.s4",
    "s5_scores": "scoring.s5",
    "s6_clusters": "cluster.s6",
}
ALIAS_COLLECT = "blocking.alias_collect"
EL_LAYERS = ["extract.s1", "extract.s1b", ALIAS_COLLECT, *list(EL_STAGES.values())[2:]]
ND_LAYERS = ["dedup.featurize", "blocking.pairs", "scoring.cosine", "cluster.cc", "dedup.exact_pairs"]
# group of the thread that calls into the library; a job left in it ran
# outside every span
UNATTRIBUTED = "pipeline.outside_spans"

MEASURES = {
    "wall_s": "s",
    "build_s": "s",
    "write_s": "s",
    "jobs": "count",
    "task_s": "s",
    "task_skew": "ratio",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "failed_tasks": "count",
    "rows_out": "count",
}
RATIOS = {
    "blocking.s2.mentions_per_doc": "ratio",
    "blocking.s4.pairs_per_doc": "ratio",
    "scoring.s5.match_rate": "ratio",
    "cluster.s6.rounds": "count",
    "dedup.exact_pairs.verify_rate": "ratio",
    "pipeline.unattributed_jobs": "count",
    "pipeline.trace.jobs": "count",
    "pipeline.trace.overhead_s": "s",
}


def _measures(layer: str) -> list[str]:
    """Measures that exist for a layer: only checkpointed EL stages write
    through io.write_stage; the alias collect is a thread, not a stage;
    the first three near-dup steps are lazy, so their build is plan-only."""
    if layer in (ALIAS_COLLECT, "dedup.featurize", "blocking.pairs", "scoring.cosine"):
        return [m for m in MEASURES if m not in ("build_s", "write_s")]
    if layer in ND_LAYERS:
        return [m for m in MEASURES if m != "write_s"]
    return list(MEASURES)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and unit, in reporting order."""
    out = {
        f"{layer}.{m}": MEASURES[m]
        for layer in EL_LAYERS + ND_LAYERS
        for m in _measures(layer)
    }
    out.update(RATIOS)
    return out


class Tracer:
    """In-memory spans; each span owns the Spark job group of its thread
    while open and accumulates build/write time, rounds and row counts."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.facts: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()

    def current(self) -> dict | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    def _record(self, name: str) -> dict:
        parent = self.current()
        return {
            "name": name,
            "parent": parent["name"] if parent else None,
            "thread": threading.current_thread().name,
            "start": time.time(),
            "end": None,
            "build_s": 0.0,
            "write_s": 0.0,
            "rounds": 0,
            "rows_out": 0,
        }

    @contextlib.contextmanager
    def span(self, name: str):
        rec = self._record(name)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(name, name)
        self._local.stack = [*getattr(self._local, "stack", []), rec]
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._local.stack = self._local.stack[:-1]
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev, prev)
            with self._lock:
                self.spans.append(rec)

    def begin_detached(self, name: str) -> dict:
        """Open a span that stays open until the calling thread ends:
        for the pipeline's alias-collect thread, whose work after the
        wrapped call is not a library call. Its end is the completion of
        its last job (see ``layer_metrics``)."""
        rec = self._record(name)
        self.sc.setJobGroup(name, name)
        with self._lock:
            self.spans.append(rec)
        return rec

    def add(self, key: str, value: float) -> None:
        rec = self.current()
        if rec is not None:
            rec[key] += value


@contextlib.contextmanager
def patched(patches: list[tuple[object, str, object]]):
    """Temporarily replace module attributes; always restores them."""
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
    try:
        for mod, attr, new in patches:
            setattr(mod, attr, new)
        yield
    finally:
        for mod, attr, old in saved:
            setattr(mod, attr, old)


def _timed(tracer: Tracer, key: str, fn):
    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            tracer.add(key, time.perf_counter() - t0)

    return wrapper


def _rounds_patch(tracer: Tracer) -> tuple[object, str, object]:
    from entity_linking_spark.operators import cluster

    if not hasattr(cluster, "_signature"):
        raise RuntimeError("cluster._signature is gone: count CC rounds another way in perfbench/tracing.py")
    return (cluster, "_signature", _counted(tracer, cluster._signature))


def el_patches(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Wrap ``io.run_stage`` (span + job group per stage, in whichever
    thread runs the stage), ``io.write_stage`` (write time), the stage
    ``build`` callable (build time, eager jobs included), the CC fixpoint
    check (rounds), ``blocking.detect_mentions`` (aliases collected) and
    ``blocking.alias_row_estimate``: called outside every span, it is the
    first call of the pipeline's alias-collect thread, which it tags."""
    from entity_linking_spark.operators import blocking
    from entity_linking_spark.sources import io

    run_stage, detect_mentions = io.run_stage, blocking.detect_mentions
    alias_row_estimate = blocking.alias_row_estimate

    def traced_run_stage(spark, root, name, build, *args, **kwargs):
        with tracer.span(EL_STAGES.get(name, name)):
            return run_stage(spark, root, name, _timed(tracer, "build_s", build), *args, **kwargs)

    def traced_detect_mentions(docs, alias_list, *args, **kwargs):
        tracer.facts["aliases_collected"] = len(alias_list)
        return detect_mentions(docs, alias_list, *args, **kwargs)

    def traced_alias_row_estimate(aliases, *args, **kwargs):
        if tracer.current() is None:
            tracer.begin_detached(ALIAS_COLLECT)
        return alias_row_estimate(aliases, *args, **kwargs)

    return [
        (io, "run_stage", traced_run_stage),
        (io, "write_stage", _timed(tracer, "write_s", io.write_stage)),
        (blocking, "detect_mentions", traced_detect_mentions),
        (blocking, "alias_row_estimate", traced_alias_row_estimate),
        _rounds_patch(tracer),
    ]


def _counted(tracer: Tracer, fn):
    def wrapper(*args, **kwargs):
        tracer.add("rounds", 1)
        return fn(*args, **kwargs)

    return wrapper


def near_dup_patches(tracer: Tracer, pinned: list) -> list[tuple[object, str, object]]:
    """Split the flagship ``_doc_clusters`` into steps at its public calls
    and materialize each step's output before the next call: featurize
    (``extract.tokenize_and_featurize``), candidate pairs
    (``blocking.candidate_pairs``), cosine-scored edges (the ``edges``
    argument of ``cluster.connected_components``) and the CC fixpoint.
    Inside the exact-pairs span, candidate pairs are counted instead, for
    the verify rate. Materialized frames are appended to ``pinned``."""
    from entity_linking_spark.operators import blocking, cluster, extract

    featurize, candidate_pairs, components = (
        extract.tokenize_and_featurize,
        blocking.candidate_pairs,
        cluster.connected_components,
    )

    def materialize(df):
        df = df.persist()
        pinned.append(df)
        tracer.add("rows_out", df.count())
        return df

    def traced_featurize(*args, **kwargs):
        try:
            with tracer.span("dedup.featurize"):
                return materialize(featurize(*args, **kwargs))
        finally:
            tracer.sc.setJobGroup(UNATTRIBUTED, UNATTRIBUTED)

    def traced_candidate_pairs(*args, **kwargs):
        outer = tracer.current()
        if outer is not None and outer["name"] == "dedup.exact_pairs":
            df = candidate_pairs(*args, **kwargs).persist()
            pinned.append(df)
            tracer.facts["exact_candidates"] = df.count()
            return df
        with tracer.span("blocking.pairs"):
            return materialize(candidate_pairs(*args, **kwargs))

    def traced_components(edges, vertices, *args, **kwargs):
        with tracer.span("scoring.cosine"):
            edges = materialize(edges)
        with tracer.span("cluster.cc") as rec:
            t0 = time.perf_counter()
            out = components(edges, vertices, *args, **kwargs)
            rec["build_s"] += time.perf_counter() - t0
            return materialize(out)

    return [
        (extract, "tokenize_and_featurize", traced_featurize),
        (blocking, "candidate_pairs", traced_candidate_pairs),
        (cluster, "connected_components", traced_components),
        _rounds_patch(tracer),
    ]


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def layer_metrics(tracer: Tracer, status, since: tuple[int, int], submitted: int,
                  layers: list[str], run_start: float) -> tuple[dict, dict]:
    """Aggregate spans and the status store's jobs/stages after ``since``
    into per-layer measures of ``layers``. ``submitted`` is the number of
    jobs the DAG scheduler created during the run. Returns (metrics,
    coverage); raises if the store lost a job, a job belongs to no layer
    of ``layers``, or one of ``layers`` never opened a span."""
    status.settle()
    job_floor, stage_floor = since
    jobs = sorted((j for j in status.jobs() if j["jobId"] > job_floor), key=lambda j: j["jobId"])
    if [j["jobId"] for j in jobs] != list(range(job_floor + 1, job_floor + 1 + submitted)):
        raise RuntimeError(f"status store holds {len(jobs)} of the {submitted} jobs of the run")
    layer_of_job = {j["jobId"]: j.get("jobGroup") if j.get("jobGroup") in layers else UNATTRIBUTED
                    for j in jobs}
    owner: dict[int, str] = {}
    for j in jobs:  # a stage belongs to the first job that lists it
        for sid in j["stageIds"]:
            owner.setdefault(sid, layer_of_job[j["jobId"]])

    acc: dict[str, dict] = {}

    def slot(layer: str) -> dict:
        return acc.setdefault(
            layer,
            {"jobs": 0, "task_ms": 0, "shuffle": 0, "spill": 0, "failed": 0,
             "tasks": [], "wall_s": 0.0, "build_s": 0.0, "write_s": 0.0,
             "rounds": 0, "rows_out": 0, "last_end": None, "spans": 0},
        )

    for j in jobs:
        s = slot(layer_of_job[j["jobId"]])
        s["jobs"] += 1
        end = _epoch(j.get("completionTime"))
        if end is not None:
            s["last_end"] = max(s["last_end"] or end, end)
    for st in status.stages():
        if st["stageId"] <= stage_floor or st["status"] == "SKIPPED":
            continue
        s = slot(owner.get(st["stageId"], UNATTRIBUTED))
        s["task_ms"] += st["executorRunTime"]
        s["shuffle"] += st["shuffleWriteBytes"]
        s["spill"] += st["diskBytesSpilled"]
        s["failed"] += st["numFailedTasks"]
        s["tasks"].extend(status.task_run_ms(st))
    for span in tracer.spans:
        s = slot(span["name"])
        s["spans"] += 1
        # a detached span ends with its last job
        end = span["end"] if span["end"] is not None else max(s["last_end"] or span["start"], span["start"])
        s["wall_s"] += end - span["start"]
        for k in ("build_s", "write_s", "rounds", "rows_out"):
            s[k] += span[k]
    if ALIAS_COLLECT in acc:
        acc[ALIAS_COLLECT]["rows_out"] = tracer.facts.get("aliases_collected", 0)

    missing = [layer for layer in layers if not acc.get(layer, {}).get("spans")]
    unattributed = acc.get(UNATTRIBUTED, {}).get("jobs", 0)
    coverage = {"jobs": len(jobs), "submitted": submitted,
                "by_layer": {k: v["jobs"] for k, v in acc.items() if v["jobs"]}}
    if missing or unattributed:
        stray = [(j["jobId"], j.get("jobGroup"), j["name"]) for j in jobs if layer_of_job[j["jobId"]] == UNATTRIBUTED]
        raise RuntimeError(f"layers without a span: {missing}; unattributed jobs {stray}; {coverage}")

    metrics: dict[str, float] = {}
    for name in per_layer_units():
        layer, _, measure = name.rpartition(".")
        if layer not in layers or measure not in MEASURES:
            continue
        s = acc[layer]
        tasks = s["tasks"]
        med = statistics.median(tasks) if tasks else 0
        metrics[name] = {
            "wall_s": s["wall_s"],
            "build_s": s["build_s"],
            "write_s": s["write_s"],
            "jobs": s["jobs"],
            "task_s": s["task_ms"] / 1000,
            "task_skew": max(tasks) / med if med else 0.0,
            "shuffle_write_mb": s["shuffle"] / 1e6,
            "spill_mb": s["spill"] / 1e6,
            "failed_tasks": s["failed"],
            "rows_out": s["rows_out"],
        }[measure]
    if "cluster.s6" in layers:
        if not acc["cluster.s6"]["rounds"]:
            raise RuntimeError("cluster.s6 ran no CC round through cluster._signature")
        metrics["cluster.s6.rounds"] = acc["cluster.s6"]["rounds"]
    metrics["pipeline.unattributed_jobs"] = unattributed
    metrics["pipeline.trace.jobs"] = len(jobs)
    return metrics, coverage
