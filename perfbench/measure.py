"""Measurement helpers: a /proc sampler for peak RSS and cached bytes,
and a roll-up of Spark's JSON event log per job group.

Job groups are set by the benchmark around each traced call (one group
per prefix cut), so every task, stage and SQL execution in the event log
can be charged to the layer whose cut started it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid`` (the Spark JVM and its Python
    workers, for this process)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for task in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(task) as fh:
                    kids = [int(k) for k in fh.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def rss_bytes(pids) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass  # process ended between listing and reading
    return total


class PeakSampler:
    """Samples ``probe()`` every ``period`` seconds on a thread while the
    ``with`` block runs; ``peak`` is the largest value seen."""

    def __init__(self, probe, period: float = 0.2):
        self.probe, self.period, self.peak = probe, period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while True:
            self.peak = max(self.peak, self.probe())
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.probe())


def tree_rss() -> int:
    """RSS of the Spark JVM and its Python workers (children of this
    driver process, not the driver itself)."""
    return rss_bytes(descendants(os.getpid()))


def cached_bytes(spark) -> int:
    """Memory + disk bytes held by persisted RDDs/DataFrames right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _group_stats():
    return {
        "jobs": 0,
        "stages": set(),
        "tasks": 0,
        "task_s": 0.0,
        "scheduler_delay_s": 0.0,
        "gc_s": 0.0,
        "spill_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "stage_task_s": defaultdict(list),
        "sql": [],
    }


def rollup(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages and tasks run, summed executor run
    time, scheduler delay (as the Spark UI defines it), GC time, disk
    spill, shuffle bytes written, per-stage task durations, and the
    (plan, seconds) of each SQL execution the group started."""
    (path,) = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    stage_group: dict[int, str] = {}
    sql_group: dict[int, str] = {}
    sql_start: dict[int, tuple[str, int]] = {}
    groups: dict[str, dict] = defaultdict(_group_stats)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                if g is None:
                    continue
                groups[g]["jobs"] += 1
                for s in ev["Stage IDs"]:
                    stage_group[s] = g
                if "spark.sql.execution.id" in props:
                    sql_group.setdefault(int(props["spark.sql.execution.id"]), g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                info = ev["Task Info"]
                st = groups[g]
                dur = info["Finish Time"] - info["Launch Time"]
                getting = info["Finish Time"] - info["Getting Result Time"] if info["Getting Result Time"] else 0
                overhead = m["Executor Deserialize Time"] + m["Result Serialization Time"]
                st["stages"].add(ev["Stage ID"])
                st["tasks"] += 1
                st["task_s"] += m["Executor Run Time"] / 1e3
                st["scheduler_delay_s"] += max(0, dur - m["Executor Run Time"] - overhead - getting) / 1e3
                st["gc_s"] += m["JVM GC Time"] / 1e3
                st["spill_mb"] += m["Disk Bytes Spilled"] / 2**20
                st["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                st["stage_task_s"][ev["Stage ID"]].append(dur / 1e3)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql_start[ev["executionId"]] = (ev.get("physicalPlanDescription", ""), ev["time"])
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                eid = ev["executionId"]
                if eid in sql_start and eid in sql_group:
                    plan, t0 = sql_start[eid]
                    groups[sql_group[eid]]["sql"].append((plan, (ev["time"] - t0) / 1e3))
    return dict(groups)


def merged(groups: dict[str, dict], names) -> dict:
    """Sum of the scalar roll-ups of several groups."""
    out = {k: 0.0 for k in ("jobs", "tasks", "task_s", "scheduler_delay_s", "gc_s", "spill_mb", "shuffle_write_mb")}
    out["stages"] = 0
    for n in names:
        g = groups.get(n)
        if g is None:
            continue
        for k in out:
            out[k] += len(g[k]) if k == "stages" else g[k]
    return out


def last_stage_skew(group: dict) -> float:
    """max / median task duration of the group's last stage (the one
    that consumes the cut's final shuffle)."""
    if not group or not group["stage_task_s"]:
        return 1.0
    durs = group["stage_task_s"][max(group["stage_task_s"])]
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 1.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids, timeout: float = 30.0) -> None:
    """Wait until every pid has exited; SIGKILL what is left after
    ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    live = list(pids)
    while live and time.monotonic() < deadline:
        live = [p for p in live if _alive(p)]
        if live:
            time.sleep(0.05)
    for p in live:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
