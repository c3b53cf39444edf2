"""Measurement helpers of the benchmark: spans, /proc sampling, Spark
event-log statistics and plan fingerprints.

Everything here observes the program from outside: spans come from
wrapping public functions at run time in this process, process memory
and CPU steal come from ``/proc``, and task-level Spark numbers come
from Spark's own event log. Nothing in the package is edited.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, run
    id); ``wrap`` patches a module or class attribute so every call
    records one span, and ``restore`` undoes every patch."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def totals(self) -> dict[str, dict[str, float]]:
        """name → {calls, total_s, self_s}. Self time is a span's
        duration minus the durations of its direct children."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - child_s[i]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# /proc: process-tree memory, CPU time and steal
# ---------------------------------------------------------------------------


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ")"
        fields = stat[stat.rfind(")") + 2 :].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss_mb(root: int) -> float:
    """Summed proportional set size of the process tree: resident memory
    with each shared page split among the processes sharing it, so the
    pages Python workers share with the daemon they fork from count once."""
    total_kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1e3


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every process below it,
    including reaped children. The kernel books time the hypervisor steals
    as steal, not to the task, so this stays steady on a noisy host."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


class MemorySampler:
    """Background sampler of the summed memory of this process tree (the
    driver, its JVM and the JVM's Python workers). Samples are kept only
    while ``active`` is set, so checks between timed jobs do not count.
    A sample reads every process's ``smaps_rollup``, about 25 ms of CPU
    with the JVM under load, so it is taken every 250 ms: more often, the
    sampler takes a share of a core from the jobs it measures."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.active = threading.Event()
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self.active.is_set():
                self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user, so it is left out of the total
    return fields[7], sum(fields[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return (after[0] - before[0]) / d_total if d_total > 0 else 0.0


# ---------------------------------------------------------------------------
# Spark: job groups, plan fingerprints, event log
# ---------------------------------------------------------------------------


def group_jobs_stages(spark, group: str) -> tuple[int, int]:
    """(jobs, distinct stages) Spark ran under one job group, from the
    status tracker. Stage ids include stages a job skipped because an
    earlier job already computed their shuffle output."""
    tracker = spark.sparkContext.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    return len(job_ids), len(stages)


_PLAN_NOISE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics()"),
]


def _drain_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def sql_execution_count(spark) -> int:
    _drain_listeners(spark)
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def sql_plan_hashes(spark, since: int, work_dir: str) -> list[str]:
    """Short hashes of the physical plans of the SQL executions (one per
    action) recorded after the first ``since``, as Spark's SQL status
    store describes them once the action is done. Expression ids, plan
    ids, size statistics and this run's scratch paths are masked, so the
    same plan hashes the same across runs and seeds."""
    _drain_listeners(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList(since, store.executionsCount() - since)
    out = []
    for i in range(execs.size()):
        text = execs.apply(i).physicalPlanDescription()
        text = text.replace(os.path.abspath(work_dir), "<work>")
        for pat, repl in _PLAN_NOISE:
            text = pat.sub(repl, text)
        out.append(hashlib.sha1(text.encode()).hexdigest()[:12])
    return out


PYTHON_BYTES_METRICS = ("data sent to Python workers", "data returned from Python workers")


def read_event_log(log_dir: str) -> list[dict]:
    """Every event Spark has flushed to the (uncompressed) event log of
    this application so far."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    try:
                        events.append(json.loads(line))
                    except json.JSONDecodeError:
                        break  # a partly flushed last line
    return events


def group_task_stats(events: list[dict], group: str, wall_s: float, cores: int) -> dict:
    """Task-level numbers for the jobs of one job group."""
    stage_ids: set[int] = set()
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get("spark.jobGroup.id") == group:
                stage_ids.update(ev.get("Stage IDs", []))
    durations, run_ms = [], 0
    failed = shuffle_b = spill_b = python_b = 0
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd" or ev.get("Stage ID") not in stage_ids:
            continue
        info = ev.get("Task Info", {})
        durations.append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3)
        if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            failed += 1
        m = ev.get("Task Metrics") or {}
        run_ms += m.get("Executor Run Time", 0)
        shuffle_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill_b += m.get("Disk Bytes Spilled", 0)
        for acc in info.get("Accumulables", []):
            if acc.get("Name") in PYTHON_BYTES_METRICS:
                python_b += int(acc.get("Update") or 0)
    return {
        "tasks": len(durations),
        "tasks_failed": failed,
        "task_max_s": max(durations, default=0.0),
        "task_p50_s": statistics.median(durations) if durations else 0.0,
        "busy_frac": run_ms / 1e3 / (wall_s * cores) if wall_s > 0 else 0.0,
        "shuffle_write_mb": shuffle_b / 1e6,
        "spill_mb": spill_b / 1e6,
        "python_mb": python_b / 1e6,
    }
