"""SparkSession construction and per-session runtime configuration.

Two entry paths:

- Our own tests/bench build a session via :func:`get_spark`.
- The driver hands us an already-built session; :func:`configure`
  applies the runtime-settable confs we depend on (safe to call on any
  session, repeatedly).

Scale notes (100 TB target): AQE on (runtime re-plan + skew-join +
partition coalescing), shuffle partitions sized for the local harness
but overridable via env; on a real cluster you'd set
``spark.sql.shuffle.partitions`` ≈ 2-3× total cores and rely on AQE
coalescing, which is why we keep AQE authoritative here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs every code path needs.  The parquet nanos
#: conf is load-bearing: the driver's `events` table is written with
#: TIMESTAMP(NANOS) which Spark's vectorized reader refuses unless it
#: may surface the raw int64 (we rebuild a timestamp_ntz in catalog.py).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # duplicate MetadataEntry keys: deterministic last-wins (the
    # reference appends duplicate columns non-deterministically,
    # reference core.rs:468-472; SURVEY.md §4.4-5)
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE's coalesce floor (default 1m) collapses small shuffles to ONE
    # partition — correct for JVM operators, pathological ahead of
    # per-group Python ops (cogroup/applyInPandas serialize every
    # group through one worker: q_cogroup_asof measured 12.8s at 1
    # partition vs 1.5s at 10).  A 64k floor only changes behavior
    # when a shuffle is tiny (the floor never binds at real scale,
    # where targets ≫ 1m), and A/B shows no JVM-side cost.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-owned session (idempotent).

    A conf that fails to apply is LOGGED as a warning, never
    swallowed silently: several of these are load-bearing
    (`nanosAsLong` gates every `events` read, `LAST_WIN` the metadata
    pivot), and the downstream error surfaces far from the cause
    (review finding)."""
    import logging

    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:  # noqa: BLE001 — driver-owned session
            logging.getLogger(__name__).warning(
                "configure: could not set %s=%r on this session (%s: %s); "
                "dependent paths may fail", k, v, type(e).__name__, e)
    return spark


def get_spark(app_name: str = "healthkit_to_sqlite_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local session tuned for the test harness,
    with one shuffle partition per core."""
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    spark = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
