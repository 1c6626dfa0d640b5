"""Measurement helpers: spans, a process-tree RSS sampler and a Spark
event-log parser.

Spans and the sampler are the benchmark's own instrumentation around
calls into the engine's public functions; the engine itself carries
none. The event log is Spark's own (``spark.eventLog.enabled``), turned
on only in the traced run and attributed back to the benchmark's cuts
through the job description each action is issued under.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Spans:
    """In-memory span recorder: (name, start, end, parent), written out
    once at the end of a run."""

    def __init__(self) -> None:
        self.records: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.records)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.records.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time(self, idx: int) -> float:
        """A span's duration minus the part its direct children cover."""
        rec = self.records[idx]
        children = sum(
            r["end"] - r["start"] for r in self.records if r["parent"] == idx
        )
        return rec["end"] - rec["start"] - children

    def dump(self, path: str) -> None:
        t0 = min((r["start"] for r in self.records), default=0.0)
        out = [
            {**r, "start": r["start"] - t0, "end": r["end"] - t0,
             "self_s": self.self_time(i)}
            for i, r in enumerate(self.records)
        ]
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)


# --------------------------------------------------------------------------
# peak RSS of the driver JVM and its Python workers
# --------------------------------------------------------------------------

def _proc_table() -> Dict[int, int]:
    """pid -> ppid for every live process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        table[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return table


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> List[int]:
    table = _proc_table()
    children: Dict[int, List[int]] = {}
    for pid, ppid in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class RssSampler:
    """Samples the summed VmRSS of every descendant of this process (the
    driver JVM and the Python workers it forks) on a background thread;
    ``peak_mib`` is the largest sum seen between start() and stop()."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kib(pid) for pid in descendants(me))
            self.peak_kib = max(self.peak_kib, total)
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        return self.peak_kib / 1024.0


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

PYTHON_TIME = "time to run Python workers"
TO_PYTHON = "data sent to Python workers"
FROM_PYTHON = "data returned from Python workers"
_EXCHANGE = re.compile(r"^[\s:|+*-]*Exchange\b", re.M)
MIB = 1024.0 * 1024.0


def _acc_value(acc: dict) -> float:
    try:
        return float(acc.get("Value", 0))
    except (TypeError, ValueError):
        return 0.0


def _plan_exchanges(plan_text: str) -> int:
    """Exchange operators in the executed plan: the final adaptive plan
    when there is one, else the whole physical-plan tree."""
    tree = plan_text.split("== Physical Plan ==")[-1].split("\n\n")[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    return len(_EXCHANGE.findall(tree))


def parse_event_log(path: str) -> Dict[str, dict]:
    """Aggregate an uncompressed Spark event log per job description.

    Returns {description: {"executions", "python_s", "to_python_mb",
    "from_python_mb", "shuffle_mb", "spill_mb", "gc_s", "exchanges",
    "task_skew"}}: sums over every SQL execution issued under that
    description (exchanges counted in each execution's final adaptive
    plan), except task_skew, the largest max/median task time of any
    execution's slowest stage."""
    exec_desc: Dict[int, str] = {}
    exec_plan: Dict[int, str] = {}
    stage_exec: Dict[int, int] = {}
    stage_accs: Dict[int, Dict[str, float]] = {}
    stage_tasks: Dict[int, List[float]] = {}
    stage_wall: Dict[int, float] = {}
    task_totals: Dict[int, Dict[str, float]] = {}

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind.endswith("SQLExecutionStart"):
                eid = ev["executionId"]
                exec_desc[eid] = ev.get("description", "")
                exec_plan[eid] = ev.get("physicalPlanDescription", "")
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                exec_plan[ev["executionId"]] = ev.get("physicalPlanDescription", "")
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    for sid in ev.get("Stage IDs", []):
                        stage_exec[sid] = int(eid)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                info, metrics = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                stage_tasks.setdefault(sid, []).append(
                    (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                )
                tot = task_totals.setdefault(sid, {"shuffle": 0.0, "spill": 0.0, "gc": 0.0})
                sw = metrics.get("Shuffle Write Metrics") or {}
                tot["shuffle"] += sw.get("Shuffle Bytes Written", 0)
                tot["spill"] += metrics.get("Memory Bytes Spilled", 0) + metrics.get("Disk Bytes Spilled", 0)
                tot["gc"] += metrics.get("JVM GC Time", 0) / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                accs = {}
                for acc in info.get("Accumulables", []):
                    name = acc.get("Name")
                    if name in (PYTHON_TIME, TO_PYTHON, FROM_PYTHON):
                        accs[name] = accs.get(name, 0.0) + _acc_value(acc)
                stage_accs[sid] = accs
                if info.get("Completion Time") and info.get("Submission Time"):
                    stage_wall[sid] = (info["Completion Time"] - info["Submission Time"]) / 1000.0

    out: Dict[str, dict] = {}
    for eid, desc in exec_desc.items():
        agg = out.setdefault(desc, {
            "executions": 0, "python_s": 0.0, "to_python_mb": 0.0, "from_python_mb": 0.0,
            "shuffle_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0,
            "task_skew": 0.0, "exchanges": 0,
        })
        agg["executions"] += 1
        agg["exchanges"] += _plan_exchanges(exec_plan.get(eid, ""))
        stages = [s for s, e in stage_exec.items() if e == eid]
        for sid in stages:
            accs = stage_accs.get(sid, {})
            agg["python_s"] += accs.get(PYTHON_TIME, 0.0) / 1000.0   # ms
            agg["to_python_mb"] += accs.get(TO_PYTHON, 0.0) / MIB
            agg["from_python_mb"] += accs.get(FROM_PYTHON, 0.0) / MIB
            tot = task_totals.get(sid, {})
            agg["shuffle_mb"] += tot.get("shuffle", 0.0) / MIB
            agg["spill_mb"] += tot.get("spill", 0.0) / MIB
            agg["gc_s"] += tot.get("gc", 0.0)
        timed = [s for s in stages if stage_tasks.get(s)]
        if timed:
            slowest = max(timed, key=lambda s: stage_wall.get(s, 0.0))
            tasks = stage_tasks[slowest]
            med = statistics.median(tasks)
            agg["task_skew"] = max(agg["task_skew"], max(tasks) / med if med > 0 else 1.0)
    return out


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
