"""Host-side measurement: process-tree CPU and RSS from /proc, Spark's
in-process status store, and session teardown.

Everything here reads state from outside the library: /proc for the
benchmark process, its Spark JVM and the JVM's Python workers, and the
JVM's AppStatusStore (populated even with the UI disabled) through py4j.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces: fields restart after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def process_tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the live tree, including children it
    has already reaped (cutime/cstime), so a worker that exits mid-run
    keeps its CPU time on the books."""
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (fields 14-17 of /proc/pid/stat)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def host_steal_ticks() -> tuple[int, int]:
    """(stolen, all) CPU ticks of this machine since boot, from
    /proc/stat. Stolen ticks are time its CPUs were ready to run while
    the hypervisor ran another guest."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user and nice
    return ticks[7], sum(ticks[:8])


def reset_peak_rss(root: int) -> None:
    """Restart the kernel's resident high-water mark (VmHWM) of every
    process in the tree at its current RSS."""
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            # exited meanwhile; where the reset is refused, the mark
            # stays the process's lifetime peak
            pass


def tree_peak_rss_bytes(root: int) -> int:
    """Sum of the resident high-water marks of the live tree since the
    last ``reset_peak_rss``. Kept by the kernel, so no peak falls between
    samples; a process that has already exited is not counted."""
    return sum(_peak_rss_kb(pid) for pid in process_tree(root)) * 1024


class StatusStore:
    """Jobs, stages and tasks from the driver JVM's AppStatusStore, as the
    same JSON documents Spark's REST API would serve."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._mapper = sc._jvm.org.apache.spark.status.api.v1.JacksonMessageWriter().mapper()

    def _json(self, obj) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(obj))

    def settle(self) -> None:
        """Block until the listener bus has delivered every event so far,
        so a job that just returned is visible with its final metrics."""
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> list[dict]:
        no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        return self._json(self._store.stageList(None, False, False, no_quantiles, None))

    def task_run_ms(self, stage: dict) -> list[int]:
        tasks = self._json(self._store.taskList(stage["stageId"], stage["attemptId"], 1 << 20))
        return [t["taskMetrics"]["executorRunTime"] for t in tasks if t.get("taskMetrics")]

    def jobs_submitted(self) -> int:
        """Jobs the DAG scheduler has assigned ids to so far: a count kept
        apart from the status store, to check the store's coverage."""
        # py4j hands the AtomicInteger over as its int value
        return int(self._sc.dagScheduler().nextJobId())

    def high_water(self) -> tuple[int, int]:
        """(last job id, last stage id) seen so far; -1 when none."""
        self.settle()
        jobs, stages = self.jobs(), self.stages()
        return (
            max((j["jobId"] for j in jobs), default=-1),
            max((s["stageId"] for s in stages), default=-1),
        )


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, close the py4j gateway and wait until the JVM and every
    Python worker it forked have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    # the gateway JVM exits when its stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    for pid in tree:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
