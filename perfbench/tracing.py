"""Tracing for the benchmark's traced run.

Three sources, all driven from the benchmark's side of the API:

- spans: kept in memory around each call into the engine, written out as JSON
  when the run ends;
- Spark job groups, set by the benchmark before each call, whose job counts
  the status tracker reports;
- Spark's event log, switched on from outside ``session.get_spark`` by
  adding an event-logging listener to the live session, and read with the
  parser in ``scripts/stage_profile.py``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

from stage_profile import _open_eventlog, parse_eventlog


class Tracer:
    """In-memory spans: name, start, end, parent and run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, self_times: dict[str, float]) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "self_s": self_times, "spans": self.spans}, fh)


@contextlib.contextmanager
def event_log(spark, log_dir: str):
    """Spark's event log of the running session while the block runs.

    It is switched on from outside the session factory: an event-logging
    listener, writing an uncompressed log under ``log_dir``, is added to the
    live SparkContext and removed again afterwards, so no restart is needed.
    """
    sc, jvm = spark.sparkContext._jsc.sc(), spark._jvm
    os.makedirs(log_dir, exist_ok=True)
    conf = sc.conf().clone().set("spark.eventLog.compress", "false")
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        sc.applicationId(), jvm.scala.Option.empty(),
        jvm.java.net.URI("file://" + os.path.abspath(log_dir)), conf, sc.hadoopConfiguration())
    listener.start()
    sc.addSparkListener(listener)
    try:
        yield
    finally:
        sc.listenerBus().waitUntilEmpty()
        sc.removeSparkListener(listener)
        listener.stop()


def _plan_metric_ids(plan: dict, name: str, out: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m["name"] == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_metric_ids(child, name, out)


def read_event_log(log_dir: str, app_id: str) -> tuple[dict[int, dict], dict[str, int]]:
    """Completed stages of application ``app_id`` keyed by stage id, and the
    bytes of files scanned per job group.

    Each stage carries the fields ``stage_profile.parse_eventlog`` gives
    (submission/completion ms, tasks, shuffle read/write bytes) plus its job
    group, spill bytes and task run time. Scanned bytes are the SQL metric
    "size of files read", summed over the SQL executions of each group.
    """
    logs = glob.glob(os.path.join(log_dir, f"*{app_id}*"))
    if not logs:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    path = max(logs, key=os.path.getmtime)
    stages = {s["id"]: s for s in parse_eventlog(path, 0, float("inf"))}
    group_of_stage: dict[int, str] = {}
    group_of_execution: dict[str, str] = {}
    size_ids: set[int] = set()
    size_by_execution: dict[str, int] = {}
    for line in _open_eventlog(path):
        if '"SparkListenerJobStart"' in line:
            ev = json.loads(line)
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                group_of_stage[sid] = group
            if "spark.sql.execution.id" in props:
                group_of_execution.setdefault(props["spark.sql.execution.id"], group)
        elif '"sparkPlanInfo"' in line:
            _plan_metric_ids(json.loads(line)["sparkPlanInfo"], "size of files read", size_ids)
        elif "SparkListenerDriverAccumUpdates" in line:
            ev = json.loads(line)
            execution = str(ev["executionId"])
            for acc_id, value in ev["accumUpdates"]:
                if acc_id in size_ids:
                    size_by_execution[execution] = size_by_execution.get(execution, 0) + value
        elif '"SparkListenerStageCompleted"' in line:
            si = json.loads(line)["Stage Info"]
            s = stages.get(si["Stage ID"])
            if s is None:
                continue
            s.update(spill=0, busy_ms=0)
            for acc in si.get("Accumulables", []):
                name = acc.get("Name")
                if name in ("internal.metrics.memoryBytesSpilled", "internal.metrics.diskBytesSpilled"):
                    s["spill"] += int(acc["Value"])
                elif name == "internal.metrics.executorRunTime":
                    s["busy_ms"] = int(acc["Value"])
    for sid, s in stages.items():
        s["group"] = group_of_stage.get(sid)
    scanned: dict[str, int] = {}
    for execution, size in size_by_execution.items():
        group = group_of_execution.get(execution)
        if group:
            scanned[group] = scanned.get(group, 0) + size
    return stages, scanned


def stage_totals(stages: list[dict]) -> dict[str, float]:
    return {
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "shuffle_write": sum(s["shuf_w"] for s in stages),
        "shuffle_read": sum(s["shuf_r"] for s in stages),
        "spill": sum(s["spill"] for s in stages),
        "busy_s": sum(s["busy_ms"] for s in stages) / 1000.0,
    }


def in_groups(stages: dict[int, dict], prefix: str) -> list[dict]:
    return [s for s in stages.values() if s["group"] and s["group"].startswith(prefix)]


def stage_gap_s(stages: dict[int, dict], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] (epoch seconds) during which no stage ran."""
    lo_ms, hi_ms = lo * 1000.0, hi * 1000.0
    covered, cursor = 0.0, lo_ms
    for s in sorted(stages.values(), key=lambda s: s["sub"]):
        start, end = max(s["sub"], cursor), min(s["comp"], hi_ms)
        if end > start:
            covered += end - start
            cursor = end
    return max(0.0, (hi_ms - lo_ms - covered) / 1000.0)


def steal_s() -> float:
    """CPU seconds, summed over all CPUs, that the hypervisor has given to
    other guests while this machine's CPUs were ready to run (the ``steal``
    column of Linux ``/proc/stat``), since boot; 0 where it is not reported."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def engine_cpu_s(root: int, jvm_pid: int) -> float:
    """CPU seconds used so far by process ``root`` and its descendants (this
    process, the Spark JVM and its Python workers), without the JVM's JIT
    compiler threads. Compilation depends on how warm the JVM is, not on the
    engine's work: it took 9-11 CPU-seconds in a run's first sync, 4-6 in the
    second and 3-4 in the third, and made up most of the CPU difference
    between runs."""
    return tree_cpu_s(root) - jit_cpu_s(jvm_pid)


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads. The JVM must keep them
    for its lifetime (``-XX:-UseDynamicNumberOfCompilerThreads``), or the
    time of a thread that exits is lost."""
    tck = os.sysconf("SC_CLK_TCK")
    total = 0.0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:  # the thread has just exited
            continue
        if "CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
            fields = stat[stat.rindex(")") + 2:].split()
            total += (int(fields[11]) + int(fields[12])) / tck
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    process ``root`` and its descendants. Time stolen by the hypervisor is not
    counted."""
    tck = os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process has just exited
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(entry))
        cpu[int(entry)] = sum(int(f) for f in fields[11:15]) / tck
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo.extend(children.get(pid, ()))
    return total


def gc_s(spark) -> float:
    """Seconds the Spark JVM has spent in garbage collection since it started."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def reset_peak_rss(pids: list[int]) -> None:
    """Restart the peak resident set (VmHWM) of ``pids`` from their current
    resident set (Linux ``clear_refs`` value 5)."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def peak_rss_mb(pids: list[int]) -> list[float]:
    """Peak resident set (VmHWM) of each of ``pids``, in MiB."""
    out = []
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            out.extend(int(line.split()[1]) / 1024.0 for line in fh if line.startswith("VmHWM:"))
    return out
