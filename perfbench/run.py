"""Product-path benchmark: HealthKit export.zip -> SQLite, cold, as the
CLI runs it; plus an optional warm query mix.

    python3 perfbench/run.py --workload export_large --seed 1 --seconds 10 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` into
a work directory under ``.perfbench_work/`` (removed afterwards);
every conversion runs in a fresh process (worker.py), and its ``.db`` is
checked against what the generator wrote.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``).  See README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import random
import shlex
import shutil
import signal
import sqlite3
import statistics
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CORES = len(os.sched_getaffinity(0))
#: set-up samples per untraced run: the converting worker plus set-up-only
#: workers (each costs a cold JVM start, about 10 s)
SETUPS = 2
#: workload sizes (see README.md for how they were chosen)
EXPORT_SIZES = {
    "export_large": {"n_records": 75_000},
    "export_many_types": {"n_records": 15_000, "n_types": 30, "n_workouts": 60},
}
QUERY_SF = 0.005
QUERIES = (
    # the reference's delegated SQL surface
    "q_filter_between", "q_agg_sum", "q_json_extract", "q_group_agg",
    "q_flagship", "q_window_rank", "q_kv_pivot", "q_collect_events",
    "q_linestring", "q_schema_infer",
    # heavy kernels
    "q_knn_graph", "q_graph_jaccard", "q_negative_pairs", "q_dedup_embedding",
    "q_ann_ivfpq", "q_dedup_clusters", "q_dedup_paragraph_apply", "q_suffix_ranks",
)
WORKER_TIMEOUT_S = 170


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Workers:
    """Starts worker.py processes one at a time and reaps every process
    they leave behind (this process is made a child subreaper, so the
    JVM and its Python workers are re-parented here when orphaned)."""

    def __init__(self, work: str, trace: bool) -> None:
        self.work, self.n = work, 0
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        self.env = dict(os.environ, TMPDIR=tmp,
                        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                        SPARK_GRAFT_CPUS=str(CORES),
                        PYTHONPATH=os.pathsep.join(
                            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
        self.env.pop("SPARK_GRAFT_DRIVER_MEM", None)
        # keep every JVM's temporary files (the launcher's too) in the work dir
        java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        self.env["SPARK_LAUNCHER_OPTS"] = java_opts
        submit = ["--driver-java-options", java_opts]
        if trace:
            submit += ["--conf", "spark.ui.retainedJobs=1000000",
                       "--conf", "spark.ui.retainedStages=1000000"]
        self.env["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])

    def run(self, cfg: dict) -> dict | None:
        """Run one worker; its result dict, or None if it failed."""
        self.n += 1
        base = os.path.join(self.work, f"worker{self.n}")
        with open(base + ".json", "w") as f:
            json.dump(cfg, f)
        with open(base + ".log", "w") as log:
            spawned = time.monotonic()
            proc = subprocess.Popen(
                [sys.executable, os.path.join(BENCH, "worker.py"), base + ".json",
                 base + ".out", repr(spawned)],
                cwd=self.work, env=self.env, stdin=subprocess.DEVNULL,
                stdout=log, stderr=log, start_new_session=True)
            try:
                rc = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                self._reap(proc.pid)
        if rc != 0:
            with open(base + ".log") as f:
                _log(f"worker {cfg['mode']} failed (exit {rc}):\n{f.read()[-3000:]}")
            return None
        with open(base + ".out") as f:
            return json.load(f)

    @staticmethod
    def _reap(pgid: int) -> None:
        """Kill what is left of the worker's process group and wait for
        every child of this process to end."""
        deadline = time.monotonic() + 20
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid:
                continue
            if time.monotonic() > deadline:
                try:
                    os.killpg(pgid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


def check_db(db: str, expect: dict) -> tuple[int, list[str]]:
    """Rows in the .db and every way it differs from the generator's
    manifest: table set, row counts, declared column types, and each
    Workout's geometry point count against its route's trkpt count."""
    errors = []
    con = sqlite3.connect(db)
    try:
        tables = {r[0] for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type='table'")}
        if tables != set(expect["tables"]):
            errors.append(f"table set: missing {sorted(set(expect['tables']) - tables)}, "
                          f"extra {sorted(tables - set(expect['tables']))}")
        rows = 0
        for t in sorted(tables & set(expect["tables"])):
            want = expect["tables"][t]
            n = con.execute(f'SELECT COUNT(*) FROM "{t}"').fetchone()[0]
            rows += n
            if n != want["rows"]:
                errors.append(f"{t}: {n} rows, generated {want['rows']}")
            declared = {r[1]: r[2] for r in con.execute(f'PRAGMA table_info("{t}")')}
            for col, typ in want["types"].items():
                if declared.get(col) != typ:
                    errors.append(f"{t}.{col}: declared {declared.get(col)}, want {typ}")
        if "Workout" in tables:
            seen = set()
            for path, geom in con.execute('SELECT route_path, geometry FROM "Workout"'):
                if path is None:
                    if geom != "{}":
                        errors.append(f"Workout without route has geometry {geom[:40]}")
                    continue
                seen.add(path)
                n = len(json.loads(geom).get("coordinates", ()))
                if n != expect["routes"].get(path):
                    errors.append(f"{path}: {n} points, generated {expect['routes'].get(path)}")
            if seen != set(expect["routes"]):
                errors.append(f"routes without a Workout row: {sorted(set(expect['routes']) - seen)[:5]}")
    finally:
        con.close()
    return rows, errors


def _setups(workers: Workers, have: list[float]) -> list[float]:
    """Top up set-up samples with set-up-only workers."""
    while len(have) < SETUPS:
        res = workers.run({"mode": "setup"})
        if res is None:
            raise RuntimeError("set-up worker failed")
        have.append(res["setup_s"])
    return have


def export_workload(name: str, args, workers: Workers, work: str) -> tuple[dict, int, int]:
    import gen_export

    zip_path, expect = getattr(gen_export, name)(work, args.seed, **EXPORT_SIZES[name])
    runs, failed = [], 0

    def convert(trace: bool) -> dict | None:
        nonlocal failed
        db = os.path.join(work, f"out{len(runs) + failed}.db")
        res = workers.run({"mode": "export", "zip": zip_path, "db": db, "trace": trace,
                           "spans": os.path.join(args.out, f"spans-{name}-{args.seed}.json")})
        errors = ["worker failed"] if res is None else (
            [f"exit code {res['rc']}"] if res["rc"] else [])
        if not errors:
            res["rows"], errors = check_db(db, expect)
        if os.path.exists(db):
            os.remove(db)
        if errors:
            failed += 1
            _log(f"{name}: wrong output: " + "; ".join(errors[:10]))
            return None
        runs.append(res)
        _log(f"{name}: conversion {len(runs)}: setup {res['setup_s']:.2f} s, "
             f"wall {res['wall_s']:.2f} s, cpu {res['cpu_s']:.2f} s, "
             f"peak rss {res['peak_rss_mb']:.0f} MB")
        return res

    if args.trace:
        plain, traced = convert(False), convert(True)
        if plain is None or traced is None:
            return {}, 2, failed
        metrics = dict(traced["layers"])
        metrics["sinks.stored_bytes_ratio"] = metrics["sinks.db_bytes"] / expect["xml_bytes"]
        metrics["process.peak_rss_mb"] = traced["peak_rss_mb"]
        metrics.update(_overhead(plain["wall_s"], traced["wall_s"]))
        return metrics, 2, failed
    measured = 0.0
    while not runs or measured < args.seconds:
        res = convert(False)
        if res is None:
            break
        measured += res["wall_s"]
    if not runs:
        return {}, failed, failed
    setups = _setups(workers, [r["setup_s"] for r in runs])
    return {
        "setup_s": statistics.median(setups),
        "wall_s": statistics.median(r["wall_s"] for r in runs),
        "rows_per_s": statistics.median(r["rows"] / r["wall_s"] for r in runs),
        "cpu_s": statistics.median(r["cpu_s"] for r in runs),
    }, len(runs) + failed, failed


def _overhead(plain_wall: float, traced_wall: float) -> dict:
    return {"trace.untraced_wall_s": plain_wall, "trace.traced_wall_s": traced_wall,
            "trace.overhead_ratio": traced_wall / plain_wall - 1}


def query_mix(args, workers: Workers, work: str) -> tuple[dict, int, int]:
    import gen_tables

    tables = gen_tables.generate(os.path.join(work, "tables"), args.seed, QUERY_SF)
    names = list(QUERIES)
    random.Random(args.seed).shuffle(names)
    res = workers.run({"mode": "query_mix", "queries": names, "tables": tables,
                       "seconds": args.seconds, "trace": bool(args.trace),
                       "spans": os.path.join(args.out, f"spans-query_mix-{args.seed}.json")})
    if res is None:
        return {}, len(names), len(names)
    for f in res["failures"]:
        _log(f"query_mix: {f}")
    failed, attempted = len(res["failures"]), res["attempted"]
    if args.trace:
        layers = dict(res["layers"])
        layers.update(_overhead(layers.pop("trace.untraced_wall_s"),
                                layers.pop("trace.traced_wall_s")))
        layers["process.peak_rss_mb"] = res["peak_rss_mb"]
        return layers, attempted, failed
    passes = res["passes"]
    setups = _setups(workers, [res["setup_s"]])
    return {
        "setup_s": statistics.median(setups),
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "rows_per_s": statistics.median(p["rows"] / p["wall_s"] for p in passes),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
    }, attempted, failed


def _unit(name: str, declared: dict[str, str]) -> str:
    if name in declared:
        return declared[name]
    if name.endswith("_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_utilization")):
        return "ratio"
    return "count"


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(EXPORT_SIZES) + ["query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    for need in ("healthkit_to_sqlite_spark/__main__.py", "tests/hk_fixture.py",
                 "tests/parity.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _log(f"run from a full checkout: {need} is missing under {ROOT}")
            return 2
    sys.path[:0] = [ROOT, BENCH]
    args.out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(args.out, exist_ok=True)
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                            dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        workers = Workers(work, bool(args.trace))
        if args.workload == "query_mix":
            metrics, attempted, failed = query_mix(args, workers, work)
        else:
            metrics, attempted, failed = export_workload(args.workload, args, workers, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not metrics:
        _log("no successful run: nothing to report")
        return 1

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.workload in {w["name"] for w in spec["workloads"]}:
        want = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
        missing = [m for m in want if m not in metrics]
        if missing:
            raise RuntimeError(f"metrics not produced: {missing}")
        metrics = {m: metrics[m] for m in want}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k, listed)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
