"""Read-only probes into a running Spark session: Catalyst phase
times, per-job-group job/stage/task counts and SQLMetrics of the final
(AQE) physical plan. Everything is read from objects Spark already
keeps; nothing here runs an extra job.
"""

from __future__ import annotations

import os

# nodeName of the plan nodes the walk descends through without reading
_PASS_THROUGH = {"AdaptiveSparkPlan", "ShuffleQueryStage", "BroadcastQueryStage",
                 "TableCacheQueryStage", "ResultQueryStage"}
# metric -> output key, per node kind (matched on SparkPlan.nodeName);
# every metric is read with one longMetric call, only where it exists
_SCAN = {"numOutputRows": "scan_rows", "numFiles": "scan_files"}
_SHUFFLE = {"shuffleBytesWritten": "shuffle_write_bytes"}
_BROADCAST = {"dataSize": "broadcast_bytes", "collectTime": "broadcast_collect_ms"}
_SPILL = {"spillSize": "spill_bytes"}
_PYTHON = {"pythonTotalTime": "python_ms"}
_SPILLING = {"Sort", "HashAggregate", "ObjectHashAggregate", "SortAggregate",
             "SortMergeJoin", "Window"}


def _node_metrics(name: str) -> dict[str, str]:
    if name.startswith("Scan ") or name.startswith("BatchScan"):
        return _SCAN
    if name == "Exchange":
        return _SHUFFLE
    if name == "BroadcastExchange":
        return _BROADCAST
    if name in _SPILLING:
        return _SPILL
    if "Pandas" in name or "Python" in name or "Arrow" in name:
        return _PYTHON
    return {}


def _items(seq) -> list:
    """Elements of a Scala Seq by index. (Iterating a converted Java
    collection ends in a NoSuchElementException that the gateway turns
    into a Python exception: tens of milliseconds per collection.)"""
    return [seq.apply(i) for i in range(seq.size())]


CATALYST_PHASES = ("parsing", "analysis", "optimization", "planning")


def phases(df) -> dict[str, float]:
    """Catalyst phase -> seconds, from the query-planning tracker of
    ``df``'s QueryExecution (phases that did not run are absent)."""
    tracked = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in CATALYST_PHASES:
        opt = tracked.get(name)
        if opt.isDefined():
            out[name] = opt.get().durationMs() / 1000.0
    return out


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) that ran under job group ``group``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    tasks = 0
    for sid in stage_ids:
        sinfo = st.getStageInfo(sid)
        if sinfo is not None:
            tasks += sinfo.numTasks
    return len(jobs), len(stage_ids), tasks


def plan_metrics(df) -> dict[str, float]:
    """Sums of the SQLMetrics that matter per layer, read from the
    final physical plan of ``df`` (after an action ran on it), down
    through AQE query stages and subqueries. Reused exchanges are not
    counted twice. Each JVM call is a gateway round trip, so the walk
    reads only the metrics it reports."""
    out = {
        "scan_rows": 0.0,
        "scan_files": 0.0,
        "shuffle_write_bytes": 0.0,
        "broadcast_bytes": 0.0,
        "broadcast_collect_ms": 0.0,
        "spill_bytes": 0.0,
        "python_ms": 0.0,
    }
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name in _PASS_THROUGH:
            stack.append(
                node.executedPlan() if name == "AdaptiveSparkPlan" else node.plan()
            )
            continue
        if name == "ReusedExchange":
            continue
        for metric, key in _node_metrics(name).items():
            try:
                out[key] += float(node.longMetric(metric).value())
            except Exception:  # noqa: BLE001 - metric absent in this Spark version
                pass
        stack.extend(_items(node.children()))
        stack.extend(_items(node.subqueries()))
    return out


def peak_rss_mib(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kib = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kib += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kib / 1024.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of process
    ``root`` and every live descendant: this Python process, the driver
    JVM and its Python workers. Steal time is not charged to a process,
    so on an oversubscribed host this stays put while wall time grows."""
    stats = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue  # exited while scanning
        fields = raw[raw.rindex(")") + 2 :].split()
        # fields[1] is ppid; utime, stime, cutime, cstime are fields[11:15]
        stats[int(entry.name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            ticks += stats[pid][1]
        stack.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int | None:
    """Pid of the driver JVM this Python process launched (None when
    the session attached to a JVM it did not start)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def dir_files(path: str, suffix: str = ".parquet") -> int:
    return sum(
        1 for _, _, fs in os.walk(path) for f in fs if f.endswith(suffix)
    )
