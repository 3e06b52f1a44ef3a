"""One benchmark process, started by run.py with a JSON config.

Modes:

- ``setup``: start Python, build the SparkSession the CLI builds and
  run one trivial job, then exit.  Reports ``setup_s`` only.
- ``export``: the same set-up, then one cold conversion driven exactly
  as ``python -m healthkit_to_sqlite_spark <zip> sqlite://<db>`` drives
  it (``__main__.main``).  With ``trace`` the ingest layers are wrapped
  (measure.install) and Spark's status store is read afterwards.
- ``query_mix``: the set-up, one untimed pass that runs the full
  Spark-vs-DuckDB parity check per query (and warms the session), then
  timed passes that force each query through the ``noop`` sink with an
  ``Observation`` row count.

Writes its result as JSON to the path given as the second argument.
"""

from __future__ import annotations

import importlib
import json
import sys
import time
from contextlib import nullcontext

from measure import StatusStore, Tracer, install, tree_cpu_s, tree_peak_rss_mb

SPARK_KEYS = ("jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s",
              "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "busy_s", "slot_utilization")
#: operator modules whose queries the query mix runs
QUERY_MODULES = ("relational", "restructure", "schema_infer", "similarity",
                 "pipeline", "dedup", "text")


def _spark_totals(window: dict) -> dict[str, float]:
    out = {f"spark.{k}": window[k] for k in SPARK_KEYS}
    out["driver.only_s"] = window["driver_only_s"]
    return out


def _dur(span: dict | None) -> float:
    return span["t1"] - span["t0"] if span else 0.0


def export_layers(spark, tracer: Tracer, t0: float, t1: float) -> dict[str, float]:
    """Per-layer metrics of one traced conversion."""
    store = StatusStore(spark)
    jobs, stages = store.snapshot()
    first = tracer.first
    stage, conv = first("sources.stage_zip"), first("sources.convert")
    onepass, write = first("schema_infer.record_tables_onepass"), first("sinks.write_sqlite")
    c = tracer.counters
    out = {
        "session.get_spark_s": _dur(first("session.get_spark")),
        "sources.stage_zip_s": _dur(stage),
        "sources.staged_bytes": stage["attrs"]["staged_bytes"],
        "sources.record_chunks": stage["attrs"]["record_chunks"],
        "sources.convert_s": _dur(conv),
        "sources.convert_self_s": tracer.self_time(conv),
        "schema_infer.record_tables_onepass_s": _dur(onepass),
        "schema_infer.tables": onepass["attrs"]["tables"],
        "schema_infer.columns": onepass["attrs"]["columns"],
        "sinks.write_sqlite_s": _dur(write),
        "sinks.fetch_s": c.get("sinks.fetch_s", 0.0),
        "sinks.insert_s": c.get("sinks.insert_s", 0.0),
        "sinks.write_sqlite_self_s": (_dur(write) - c.get("sinks.fetch_s", 0.0)
                                      - c.get("sinks.insert_s", 0.0)),
        "sinks.rows": c.get("sinks.rows", 0),
        "sinks.tables": write["attrs"]["tables"],
        "sinks.batches": c.get("sinks.batches", 0),
        "sinks.db_bytes": write["attrs"]["db_bytes"],
    }
    for fn in ("read_records", "read_workouts", "read_gpx_routes",
               "read_activity_summaries"):
        out[f"sources.{fn}_s"] = tracer.total(f"sources.{fn}")
    for prefix, span in (("sources.convert", conv), ("sinks.write_sqlite", write)):
        w = store.window(jobs, stages, span["t0"], span["t1"])
        out[f"{prefix}.spark_jobs"] = w["jobs"]
        out[f"{prefix}.executor_cpu_s"] = w["executor_cpu_s"]
        out[f"{prefix}.spark_busy_s"] = w["busy_s"]
        out[f"{prefix}.driver_only_s"] = w["driver_only_s"]
    out["sinks.jobs_per_table"] = out["sinks.write_sqlite.spark_jobs"] / out["sinks.tables"]
    out.update(_spark_totals(store.window(jobs, stages, t0, t1)))
    return out


def run_export(spark, cfg: dict, tracer: Tracer | None) -> dict:
    from healthkit_to_sqlite_spark import __main__ as cli

    argv = [cfg["zip"], "sqlite://" + cfg["db"], "--drop", "--yes", "--quiet"]
    t0, cpu0 = time.time(), tree_cpu_s()
    start = time.perf_counter()
    rc = cli.main(argv)
    wall = time.perf_counter() - start
    out = {"rc": rc, "wall_s": wall, "cpu_s": tree_cpu_s() - cpu0,
           "peak_rss_mb": tree_peak_rss_mb()}
    if tracer is not None:
        out["layers"] = export_layers(spark, tracer, t0, time.time())
        tracer.dump(cfg["spans"])
    return out


def _query_pass(spark, names, tables, expect, tracer, failures) -> dict:
    """Force every query through the noop sink once; check each row
    count against the oracle's after the pass."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from healthkit_to_sqlite_spark import registry

    qs = registry.queries()
    observed, walls = {}, {}
    t0, cpu0 = time.time(), tree_cpu_s()
    start = time.perf_counter()
    for q in names:
        obs = Observation(f"rows_{q}")
        with (tracer.span(f"query.{q}") if tracer else nullcontext()):
            s = time.perf_counter()
            try:
                (qs[q](spark, tables).observe(obs, F.count(F.lit(1)).alias("n"))
                 .write.format("noop").mode("overwrite").save())
            except Exception as e:  # noqa: BLE001 — a failed query is a failed operation
                failures.append(f"{q}: {type(e).__name__}: {e}"[:500])
                obs = None
            walls[q] = time.perf_counter() - s
        observed[q] = obs
    wall = time.perf_counter() - start
    cpu = tree_cpu_s() - cpu0
    rows = 0
    for q, obs in observed.items():
        if obs is None:
            continue
        n = obs.get["n"]
        rows += n
        if n != expect[q]:
            failures.append(f"{q}: {n} rows, oracle has {expect[q]}")
    return {"wall_s": wall, "cpu_s": cpu, "rows": rows, "queries": walls,
            "t0": t0, "t1": time.time()}


def run_query_mix(spark, cfg: dict, tracer: Tracer | None) -> dict:
    from healthkit_to_sqlite_spark import registry
    from tests import parity

    names, tables = cfg["queries"], cfg["tables"]
    qs, oracle = registry.queries(), registry.oracle_sql()
    con = parity.duckdb_connection(tables)
    failures: list[str] = []
    expect = {}
    for q in names:  # untimed: full parity, which also warms the session
        r = parity.compare_query(spark, con, q, qs[q], oracle[q], tables)
        expect[q] = r.oracle_rows
        if not r.ok:
            failures.append(f"{q}: parity: {r.detail}"[:500])
    con.close()
    passes = [_query_pass(spark, names, tables, expect, None, failures)]
    if tracer is not None:
        passes.append(_query_pass(spark, names, tables, expect, tracer, failures))
    while sum(p["wall_s"] for p in passes) < cfg["seconds"]:
        passes.append(_query_pass(spark, names, tables, expect, None, failures))
    out = {"passes": [{k: p[k] for k in ("wall_s", "cpu_s", "rows")} for p in passes],
           "peak_rss_mb": tree_peak_rss_mb(), "failures": failures,
           "attempted": len(names) * (1 + len(passes))}
    if tracer is not None:
        traced = passes[1]
        store = StatusStore(spark)
        jobs, stages = store.snapshot()
        layers = {"session.get_spark_s": _dur(tracer.first("session.get_spark")),
                  "trace.untraced_wall_s": passes[0]["wall_s"],
                  "trace.traced_wall_s": traced["wall_s"]}
        module_of = {q: m for m in QUERY_MODULES for q in importlib.import_module(
            f"healthkit_to_sqlite_spark.operators.{m}").SPECS}
        for m in QUERY_MODULES:
            layers[f"operators.{m}.wall_s"] = 0.0
        for q in names:
            span = tracer.first(f"query.{q}")
            w = store.window(jobs, stages, span["t0"], span["t1"])
            layers[f"query.{q}.wall_s"] = _dur(span)
            layers[f"query.{q}.executor_cpu_s"] = w["executor_cpu_s"]
            layers[f"operators.{module_of[q]}.wall_s"] += _dur(span)
        layers.update(_spark_totals(store.window(jobs, stages, traced["t0"], traced["t1"])))
        out["layers"] = layers
        tracer.dump(cfg["spans"])
    return out


def main() -> int:
    cfg_path, out_path = sys.argv[1], sys.argv[2]  # argv[3]: spawn time
    with open(cfg_path) as f:
        cfg = json.load(f)
    tracer = None
    if cfg.get("trace"):
        tracer = Tracer()
        install(tracer)
    from healthkit_to_sqlite_spark import session

    spark = session.get_spark("healthkit-to-sqlite-spark")
    spark.range(1).count()
    out = {"setup_s": time.monotonic() - float(sys.argv[3])}
    if cfg["mode"] == "export":
        out.update(run_export(spark, cfg, tracer))
    elif cfg["mode"] == "query_mix":
        out.update(run_query_mix(spark, cfg, tracer))
    with open(out_path, "w") as f:
        json.dump(out, f)
    # end the JVM before this process exits: it quits when its stdin closes
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)
    return 0


if __name__ == "__main__":
    sys.exit(main())
