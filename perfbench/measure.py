"""Measurement helpers for the benchmark worker: process-tree CPU and
memory, an in-memory span tracer that wraps the package's public
functions from outside, and a reader for Spark's status store.

Nothing here edits the package: the tracer swaps module attributes of
``session``, ``sources.healthkit`` (including ``record_tables_onepass``,
which runs the ``operators.schema_infer`` vote) and ``sinks.database``
for timing wrappers, in the worker process only.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc

def _tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM and its Python
    workers hang below the worker process)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # process ended while we looked
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) of the
    process tree under ``root``."""
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of per-process peak RSS (VmHWM) over the process tree."""
    kb = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            covered += b - a
            end = b
    return covered


# ---------------------------------------------------------------- spans

class Tracer:
    """Spans kept in memory: name, wall-clock start/end, thread id and
    parent span.  Spans opened on a pool thread with nothing open on
    that thread take the innermost span open on the installing thread
    as parent (``convert`` fans out on a 3-thread pool)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        rec = {"name": name, "parent": parent, "thread": threading.get_ident(),
               "t0": time.time(), "t1": None, "attrs": attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["t1"] = time.time()

    def add(self, counter: str, value: float) -> None:
        with self._lock:
            self.counters[counter] = self.counters.get(counter, 0) + value

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        """Replace ``module.attr`` with a spanned call of the original;
        ``on_result(span, result, args)`` may add attributes."""
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, result, args)
                return result

        setattr(module, attr, traced)

    def total(self, name: str) -> float:
        return sum(s["t1"] - s["t0"] for s in self.spans if s["name"] == name)

    def self_time(self, rec: dict) -> float:
        """Span duration minus the union of its children's intervals
        (children on parallel threads overlap; the union counts that
        time once)."""
        children = [(c["t0"], c["t1"]) for c in self.spans if c["parent"] == rec["id"]]
        return (rec["t1"] - rec["t0"]) - _covered(children, rec["t0"], rec["t1"])

    def first(self, name: str) -> dict | None:
        return next((s for s in self.spans if s["name"] == name), None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters}, f)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(path) for n in names)


class _TimedFrame:
    """DataFrame stand-in for the sink: time spent blocked in the
    ``toLocalIterator`` generator counts as fetch."""

    def __init__(self, df, tracer: Tracer) -> None:
        self._df, self._tracer = df, tracer

    def __getattr__(self, name):
        return getattr(self._df, name)

    def toLocalIterator(self, *args, **kwargs):
        it = self._df.toLocalIterator(*args, **kwargs)
        waited, rows = 0.0, 0
        try:
            while True:
                t = time.perf_counter()
                try:
                    row = next(it)
                except StopIteration:
                    return
                finally:
                    waited += time.perf_counter() - t
                rows += 1
                yield row
        finally:
            self._tracer.add("sinks.fetch_s", waited)
            self._tracer.add("sinks.rows", rows)


class _TimedConnection:
    """sqlite3 connection stand-in: ``executemany`` counts as insert."""

    def __init__(self, con, tracer: Tracer) -> None:
        self._con, self._tracer = con, tracer

    def __getattr__(self, name):
        return getattr(self._con, name)

    def executemany(self, sql, rows):
        t = time.perf_counter()
        try:
            return self._con.executemany(sql, rows)
        finally:
            self._tracer.add("sinks.insert_s", time.perf_counter() - t)
            self._tracer.add("sinks.batches", 1)


class _Sqlite3Proxy:
    def __init__(self, module, tracer: Tracer) -> None:
        self._module, self._tracer = module, tracer

    def __getattr__(self, name):
        return getattr(self._module, name)

    def connect(self, *args, **kwargs):
        return _TimedConnection(self._module.connect(*args, **kwargs), self._tracer)


def install(tracer: Tracer) -> None:
    """Wrap the public functions of each ingest layer."""
    from healthkit_to_sqlite_spark import session
    from healthkit_to_sqlite_spark.sinks import database
    from healthkit_to_sqlite_spark.sources import healthkit

    def staged(rec, result, args):
        rec["attrs"]["staged_bytes"] = _dir_bytes(args[1])
        rec["attrs"]["record_chunks"] = (
            len(os.listdir(result.records_dir)) if result.records_dir else 0)

    def tables(rec, result, args):
        rec["attrs"]["tables"] = len(result)
        rec["attrs"]["columns"] = sum(len(df.columns) for df in result.values())

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(healthkit, "convert", "sources.convert")
    tracer.wrap(healthkit, "stage_zip", "sources.stage_zip", staged)
    for fn in ("read_records", "read_workouts", "read_gpx_routes",
               "read_activity_summaries"):
        tracer.wrap(healthkit, fn, f"sources.{fn}")
    tracer.wrap(healthkit, "record_tables_onepass",
                "schema_infer.record_tables_onepass", tables)

    write_sqlite = database.write_sqlite

    def traced_write(tables_, db_path, *args, **kwargs):
        with tracer.span("sinks.write_sqlite", tables=len(tables_)) as rec:
            proxied = {k: _TimedFrame(v, tracer) for k, v in tables_.items()}
            write_sqlite(proxied, db_path, *args, **kwargs)
            rec["attrs"]["db_bytes"] = os.path.getsize(db_path)

    database.write_sqlite = traced_write
    database.sqlite3 = _Sqlite3Proxy(database.sqlite3, tracer)


# ---------------------------------------------------------- status store

class StatusStore:
    """Jobs and stages from Spark's in-process status store (works with
    the UI disabled).  Jobs are attributed to a layer by time window —
    job groups are thread-local in PySpark, and ``convert`` submits
    from a thread pool."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc, self._jvm = sc, sc._jvm
        self.cores = sc.defaultParallelism
        mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = self._jvm.com.fasterxml.jackson.module.scala
        mapper.registerModule(getattr(scala, "DefaultScalaModule$").__getattr__("MODULE$"))
        self._mapper = mapper

    def snapshot(self) -> tuple[list[dict], dict[int, list[dict]]]:
        """All retained jobs, and stage attempts by stage id.  Raises if
        the store evicted anything (``spark.ui.retainedJobs`` /
        ``retainedStages``), which would undercount silently."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        empty = self._jvm.java.util.ArrayList
        jobs = json.loads(self._mapper.writeValueAsString(store.jobsList(empty())))
        stages = json.loads(self._mapper.writeValueAsString(store.stageList(
            empty(), False, False, self._sc._gateway.new_array(self._jvm.double, 0),
            empty())))
        by_id: dict[int, list[dict]] = {}
        for s in stages:
            by_id.setdefault(s["stageId"], []).append(s)
        ids = sorted(j["jobId"] for j in jobs)
        missing = [sid for j in jobs for sid in j["stageIds"] if sid not in by_id]
        if ids != list(range(len(ids))) or missing:
            raise RuntimeError(
                f"Spark status store evicted entries ({len(ids)} jobs retained, "
                f"max job id {ids[-1] if ids else None}, {len(missing)} stages "
                "missing): raise spark.ui.retainedJobs/retainedStages")
        return jobs, by_id

    def window(self, jobs, stages, t0: float, t1: float) -> dict[str, float]:
        """Spark totals for jobs submitted in [t0, t1] (epoch seconds)."""
        lo, hi = t0 * 1000, t1 * 1000
        mine = [j for j in jobs if j.get("submissionTime") is not None
                and lo <= j["submissionTime"] <= hi]
        out = dict.fromkeys(("jobs", "stages", "tasks", "executor_cpu_s",
                             "executor_run_s", "gc_s", "shuffle_read_bytes",
                             "shuffle_write_bytes", "spill_bytes"), 0.0)
        out["jobs"] = len(mine)
        for j in mine:
            for sid in j["stageIds"]:
                for s in stages[sid]:
                    if s["status"] == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += s["numCompleteTasks"]
                    out["executor_cpu_s"] += s["executorCpuTime"] / 1e9
                    out["executor_run_s"] += s["executorRunTime"] / 1e3
                    out["gc_s"] += s["jvmGcTime"] / 1e3
                    out["shuffle_read_bytes"] += s["shuffleReadBytes"]
                    out["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                    out["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        # busy = union of job intervals, clipped to the window
        out["busy_s"] = _covered(((j["submissionTime"], j.get("completionTime") or hi)
                                  for j in mine), lo, hi) / 1000
        out["slot_utilization"] = (out["executor_run_s"] / (out["busy_s"] * self.cores)
                                   if out["busy_s"] else 0.0)
        out["driver_only_s"] = max(0.0, (t1 - t0) - out["busy_s"])
        return out
