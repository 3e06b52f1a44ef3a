"""Session configuration: the load-bearing runtime confs must be LIVE
after configure(), and a failure to apply must be loud, not silent."""

from __future__ import annotations

from healthkit_to_sqlite_spark.session import RUNTIME_CONFS, configure


def test_load_bearing_confs_live_after_configure(spark):
    configure(spark)
    for key in ("spark.sql.legacy.parquet.nanosAsLong",
                "spark.sql.mapKeyDedupPolicy",
                "spark.sql.adaptive.enabled",
                "spark.sql.adaptive.coalescePartitions.minPartitionSize"):
        assert spark.conf.get(key) == RUNTIME_CONFS[key], key


def test_configure_logs_unsettable_conf(spark, caplog, monkeypatch):
    """An unsettable conf must surface a warning naming the key —
    silently skipping a load-bearing conf moves the failure far from
    the cause (review finding)."""
    import logging

    import healthkit_to_sqlite_spark.session as sess

    # a STATIC conf cannot be set on a live session — the class of
    # failure the old silent `except: pass` hid
    monkeypatch.setattr(
        sess, "RUNTIME_CONFS", {"spark.sql.warehouse.dir": "/nope"})
    with caplog.at_level(logging.WARNING, logger=sess.__name__):
        configure(spark)
    warnings = [r.getMessage() for r in caplog.records
                if r.levelno == logging.WARNING and r.name == sess.__name__]
    assert any("spark.sql.warehouse.dir" in m and "could not set" in m
               for m in warnings), warnings
