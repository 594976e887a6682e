"""Shared machinery of the benchmark: the scratch workspace, session
set-up, timing and memory readings, and the tracer.

The tracer records spans around calls into the engine's layers. It
wraps public functions from outside, at every module attribute that
names them, so the engine itself carries no instrumentation. Spans and
counters live in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

PACKAGE = "webscrap_datapipeline_spark"
WORK_DIR_NAME = ".perfbench_work"


# --- workspace ------------------------------------------------------------


class Workspace:
    """A scratch directory under the current directory, removed on close.
    Spark's local dirs, the JVM's and Python's temp files, the SQL
    warehouse, event logs and stream checkpoints all live here."""

    def __init__(self):
        base = os.path.join(os.getcwd(), WORK_DIR_NAME)
        self.path = os.path.join(base, f"run-{os.getpid()}-{uuid.uuid4().hex[:6]}")
        self._base = base
        os.makedirs(self.tmp, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        tempfile.tempdir = self.tmp

    @property
    def tmp(self) -> str:
        return os.path.join(self.path, "tmp")

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.local.dir": self.tmp,
            "spark.sql.warehouse.dir": self.sub("spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(self._base)  # only when no other run shares it
        except OSError:
            pass


# --- resources --------------------------------------------------------------


def _children(pid: int) -> list[int]:
    kids = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as fh:
                kids += [int(x) for x in fh.read().split()]
        except OSError:
            pass
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


@dataclass
class Timing:
    start: float = 0.0
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Meter:
    """Times the program's operations and reads its peak resident memory.

    The driver process also runs the benchmark's own data generation and
    output checks, so its high-water mark is reset when each timed
    operation starts and read when it ends; the peak over the timed
    operations counts (from a base that still holds whatever the
    benchmark's own work left resident). Every descendant (the JVM and
    its launcher) runs only the program and counts with its whole-life
    high-water mark. Without a pinned minimum heap, the JVM's share
    moves with the program's heap use."""

    def __init__(self):
        self.driver_kb = 0

    @contextmanager
    def op(self):
        """Time the block; yields its :class:`Timing`."""
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")  # reset this process's VmHWM to its current RSS
        t = Timing(time.perf_counter())
        try:
            yield t
        finally:
            t.end = time.perf_counter()
            self.driver_kb = max(self.driver_kb, _vm_hwm_kb(os.getpid()))

    def peak_rss_mb(self) -> float:
        """Peak resident set of the program, in MiB: the driver's over the
        timed operations plus every descendant's."""
        todo, seen = _children(os.getpid()), set()
        while todo:
            pid = todo.pop()
            if pid not in seen:
                seen.add(pid)
                todo += _children(pid)
        return (self.driver_kb + sum(_vm_hwm_kb(p) for p in seen)) / 1024.0


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring hidden/marker files."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


# --- session --------------------------------------------------------------


def start_session(ws: Workspace, cpus: int, heap: str, extra: dict[str, str] | None = None):
    """The engine's session on ``local[cpus]``, with two shuffle
    partitions per core (as the engine's own test suite runs it)."""
    from webscrap_datapipeline_spark.session import get_spark

    conf = {"spark.driver.memory": heap, **ws.spark_conf(), **(extra or {})}
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM that the first session launched and wait until it has
    exited (stopping a session leaves it running)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def environment(spark, cpus: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "master": f"local[{cpus}]",
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "heap": spark.sparkContext.getConf().get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "python": sys.version.split()[0],
    }


# --- tracing --------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id, unit, jobs) and
    named counters. ``enabled`` toggles recording without unwrapping, so
    a traced run can alternate traced and untraced units of work."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counters: dict[tuple, float] = defaultdict(float)
        self.stack: list[int] = []
        self.enabled = False
        self.unit = -1
        self._patched: list[tuple[object, str, object]] = []

    # spans --------------------------------------------------------------
    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "run": self.run_id,
            "unit": self.unit,
            "parent": self.stack[-1] if self.stack else None,
            "start": time.perf_counter(),
            **attrs,
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self.stack.append(idx)
        group = prev_group = None
        if jobs:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            group = f"pb-{idx}"
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
                rec["group"] = group

    def record(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Add a span measured by the caller; returns its index."""
        self.spans.append({"name": name, "run": self.run_id, "unit": self.unit,
                           "parent": parent, "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[(self.unit, name)] += value

    def resolve_jobs(self) -> None:
        """Fill in each job-counted span's jobs, stages and tasks from the
        status tracker, nesting children into their parents' totals."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if "group" not in rec:
                continue
            jobs = list(tracker.getJobIdsForGroup(rec["group"]))
            stages = [s for j in jobs for s in (tracker.getJobInfo(j).stageIds if tracker.getJobInfo(j) else [])]
            tasks = 0
            for s in stages:
                info = tracker.getStageInfo(s)
                tasks += info.numTasks if info else 0
            rec["self_jobs"], rec["self_stages"], rec["self_tasks"] = len(jobs), len(stages), tasks
        for key in ("jobs", "stages", "tasks"):
            for rec in self.spans:
                rec.setdefault(key, 0)
            for rec in reversed(self.spans):  # children come after parents
                if "group" in rec:
                    rec[key] += rec[f"self_{key}"]
                if rec["parent"] is not None:
                    self.spans[rec["parent"]][key] += rec[key]

    # wrapping -----------------------------------------------------------
    def wrap(self, module_name: str, attr: str, span_name: str, jobs: bool = False) -> None:
        """Wrap ``module_name.attr`` and every other engine module
        attribute bound to the same function."""
        __import__(module_name)
        orig = getattr(sys.modules[module_name], attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name, jobs=jobs):
                return orig(*args, **kwargs)

        for name, mod in list(sys.modules.items()):
            if name == PACKAGE or name.startswith(PACKAGE + "."):
                for a, v in list(vars(mod).items()):
                    if v is orig:
                        self._patched.append((mod, a, orig))
                        setattr(mod, a, wrapper)

    def patch(self, module, attr: str, make) -> None:
        """Replace ``module.attr`` with ``make(original)`` until unwrap."""
        orig = getattr(module, attr)
        self._patched.append((module, attr, orig))
        setattr(module, attr, make(orig))

    def unwrap(self) -> None:
        for mod, a, orig in reversed(self._patched):
            setattr(mod, a, orig)
        self._patched.clear()

    # reporting ----------------------------------------------------------
    def per_unit(self, units: list[int], name: str, field: str = "dur", **where) -> float:
        """Mean over ``units`` of the per-unit sum of ``field`` over spans
        called ``name`` whose attributes match ``where`` (``dur`` =
        seconds, ``calls`` = span count)."""
        tot = 0.0
        for rec in self.spans:
            if rec["name"] == name and rec["unit"] in units and all(rec.get(k) == v for k, v in where.items()):
                if field == "dur":
                    tot += rec["end"] - rec["start"]
                elif field == "calls":
                    tot += 1
                else:
                    tot += rec.get(field, 0)
        return tot / max(1, len(units))

    def counter(self, units: list[int], name: str) -> float:
        """Mean over ``units`` of the named counter."""
        return sum(self.counters.get((u, name), 0.0) for u in units) / max(1, len(units))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    "run": self.run_id,
                    "spans": self.spans,
                    "counters": [[u, n, v] for (u, n), v in sorted(self.counters.items())],
                },
                fh,
            )


# --- event log ------------------------------------------------------------


def event_log_metrics(eventlog_dir: str, app_id: str, groups: set[str]) -> dict:
    """Executor-side task metrics of the jobs whose job group is in
    ``groups``, from the Spark event log. Spill and shuffle-write come
    from the engine's own event-log parser (scripts/spill_probe.py) over
    the same events; this adds run, CPU and GC time, shuffle read, input
    bytes and stage skew (the largest over stages of the slowest task's
    run time over the stage's median)."""
    from scripts.spill_probe import find_event_logs, parse_task_metrics

    files = find_event_logs(eventlog_dir, app_id)
    if not files:
        raise RuntimeError(f"no event log for {app_id} under {eventlog_dir}")
    stage_ok: set[int] = set()
    task_ends: list[dict] = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if (ev.get("Properties") or {}).get("spark.jobGroup.id") in groups:
                        stage_ok.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd":
                    task_ends.append(ev)
    mine = [e for e in task_ends if e.get("Stage ID") in stage_ok]
    scratch = os.path.join(eventlog_dir, "selected.json")
    with open(scratch, "w") as fh:
        fh.writelines(json.dumps(e) + "\n" for e in mine)
    base = parse_task_metrics([scratch])
    os.remove(scratch)
    run = cpu = gc = sread = inp = 0.0
    per_stage: dict[int, list[float]] = defaultdict(list)
    for e in mine:
        tm = e.get("Task Metrics") or {}
        run += tm.get("Executor Run Time", 0) / 1e3
        cpu += tm.get("Executor CPU Time", 0) / 1e9
        gc += tm.get("JVM GC Time", 0) / 1e3
        sr = tm.get("Shuffle Read Metrics") or {}
        sread += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        inp += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
        per_stage[e["Stage ID"]].append(tm.get("Executor Run Time", 0))
    skews = [
        max(v) / max(1.0, statistics.median(v)) for v in per_stage.values() if len(v) > 1
    ]
    return {
        "tasks": base["tasks"],
        "task_run_s": run,
        "task_cpu_s": cpu,
        "gc_s": gc,
        "shuffle_write_bytes": base["shuffle_bytes_written"],
        "shuffle_read_bytes": sread,
        "spill_bytes": base["memory_bytes_spilled"] + base["disk_bytes_spilled"],
        "input_bytes": inp,
        "stage_skew": max(skews) if skews else 1.0,
    }
