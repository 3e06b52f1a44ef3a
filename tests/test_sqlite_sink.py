"""SQLite sink: stored values, one transaction per pass under prefetch,
and one Spark job per table.

The expected dumps were recorded from earlier sinks (row-at-a-time,
then per-value Python converters), so any drift in how a Spark value
lands in SQLite shows up as a changed line."""

from __future__ import annotations

import datetime as dt
import sqlite3
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from healthkit_to_sqlite_spark.sinks.database import write_sqlite

_TYPED = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("tn", T.TimestampNTZType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("d", T.DateType()),
    T.StructField("b", T.BooleanType()),
    T.StructField("n", T.IntegerType()),
    T.StructField("x", T.DoubleType()),
    T.StructField("f", T.FloatType()),
    T.StructField("s", T.StringType()),
    T.StructField("hk`ü", T.StringType()),
])

_TYPED_ROWS = [
    (1, dt.datetime(2020, 2, 24, 10, 18), dt.datetime(2020, 2, 24, 10, 18),
     dt.date(2020, 2, 24), True, 7, 1.5, 0.1, "walk", "ä`b"),
    (2 ** 53 + 1, dt.datetime(2020, 2, 24, 10, 18, 0, 250000),
     dt.datetime(2021, 12, 31, 23, 59, 59, 1), dt.date(2021, 12, 31), False,
     -3, -0.25, -2.5, "", "x"),
    (3, dt.datetime(999, 3, 4, 5, 6, 7), dt.datetime(999, 3, 4, 5, 6, 7, 890),
     dt.date(999, 3, 4), True, 0, 0.0, 0.0, "old", "y"),
    (4, dt.datetime(2024, 2, 29, 23, 59, 59, 999999),
     dt.datetime(1970, 1, 1, 0, 0, 0, 999999), dt.date(1, 1, 1), None,
     None, None, None, None, None),
    (None,) * 10,
]

_COLS = ("(`id` INTEGER, `tn` DATE, `ts` DATE, `d` DATE, `b` INTEGER, "
         "`n` INTEGER, `x` REAL, `f` REAL, `s` TEXT, `hk``ü` TEXT)")

_TYPED_DUMP = [
    "BEGIN TRANSACTION;",
    f"CREATE TABLE `empty` {_COLS};",
    f"CREATE TABLE `typed` {_COLS};",
    "INSERT INTO \"typed\" VALUES(1,'2020-02-24 10:18:00','2020-02-24 10:18:00',"
    "'2020-02-24',1,7,1.5,1.00000001490116119384e-01,'walk','ä`b');",
    "INSERT INTO \"typed\" VALUES(9007199254740993,'2020-02-24 10:18:00.250000',"
    "'2021-12-31 23:59:59.000001','2021-12-31',0,-3,-0.25,-2.5,'','x');",
    "INSERT INTO \"typed\" VALUES(3,'0999-03-04 05:06:07',"
    "'0999-03-04 05:06:07.000890','0999-03-04',1,0,0.0,0.0,'old','y');",
    "INSERT INTO \"typed\" VALUES(4,'2024-02-29 23:59:59.999999',"
    "'1970-01-01 00:00:00.999999','0001-01-01',NULL,NULL,NULL,NULL,NULL,NULL);",
    "INSERT INTO \"typed\" VALUES(NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,"
    "NULL);",
    "COMMIT;",
]


def _dump(db: str) -> list[str]:
    con = sqlite3.connect(db)
    try:
        return list(con.iterdump())
    finally:
        con.close()


def _table_names(db: str) -> list[str]:
    con = sqlite3.connect(db)
    try:
        return [r[0] for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type='table'")]
    finally:
        con.close()


def test_sink_values_pinned(spark, tmp_path):
    """Temporal values as ISO text (no ``.000000``, no ``+00:00``; years
    before 1000 zero-padded), booleans as 1/0, NULLs in every type,
    quoted odd identifiers, and an empty table's DDL."""
    db = str(tmp_path / "typed.db")
    write_sqlite({"typed": spark.createDataFrame(_TYPED_ROWS, _TYPED),
                  "empty": spark.createDataFrame([], _TYPED)}, db)
    assert _dump(db) == _TYPED_DUMP


def test_sink_inserts_every_record_batch(spark, tmp_path):
    """25,000 rows over 2 partitions arrive as several Arrow record
    batches; every batch lands, in order."""
    db = str(tmp_path / "big.db")
    df = spark.range(0, 25_000, 1, 2).select(
        "id", (F.col("id") / 4).alias("q"), (F.col("id") % 3 == 0).alias("t"))
    write_sqlite({"big": df}, db)
    con = sqlite3.connect(db)
    try:
        assert con.execute(
            "SELECT COUNT(*), SUM(id), SUM(q), SUM(t) FROM big").fetchone() == (
            25_000, 312_487_500, 78_121_875.0, 8_334)
        assert con.execute(
            "SELECT rowid, id, q, t FROM big WHERE rowid IN "
            "(1, 10000, 10001, 12500, 12501, 25000) ORDER BY rowid").fetchall() == [
            (1, 0, 0.0, 1), (10000, 9999, 2499.75, 1), (10001, 10000, 2500.0, 0),
            (12500, 12499, 3124.75, 0), (12501, 12500, 3125.0, 0),
            (25000, 24999, 6249.75, 1)]
    finally:
        con.close()


@pytest.mark.parametrize("nested", [
    "named_struct('x', 1)", "array(1, 2)", "map('k', 1)"],
    ids=["struct", "array", "map"])
def test_sink_struct_column_raises_naming_it(spark, tmp_path, nested):
    """SQLite has no struct, array or map type: the sink refuses the
    column by name and the pass leaves no tables behind."""
    db = str(tmp_path / "nested.db")
    df = spark.sql(f"SELECT 1 AS id, {nested} AS `pos ü`")
    with pytest.raises(TypeError, match="'pos ü'"):
        write_sqlite({"ok": spark.range(3), "st": df}, db)
    assert _table_names(db) == []


def test_sink_rollback_when_a_prefetched_job_fails(spark, tmp_path):
    """Table 2's Spark job fails while table 3 is still being fetched:
    the error reaches the caller, the pass rolls back to zero tables,
    table 3's job is cancelled rather than waited for, and no fetch
    thread outlives the call."""
    @F.udf("long")
    def slow(i):
        import time
        time.sleep(120)
        return i

    db = str(tmp_path / "fail.db")
    bad = spark.range(0, 100, 1, 4).select(
        F.when(F.col("id") == 57, F.raise_error(F.lit("table 2 fails")))
        .otherwise(F.col("id")).alias("id"))
    threads = set(threading.enumerate())
    t0 = time.monotonic()
    with pytest.raises(Exception, match="table 2 fails"):
        write_sqlite({"t1": spark.range(10), "t2": bad,
                      "t3": spark.range(0, 4, 1, 4).select(slow("id").alias("id")),
                      "t4": spark.range(10)}, db)
    assert time.monotonic() - t0 < 60
    assert _table_names(db) == []
    assert [t for t in threading.enumerate() if t not in threads] == []


def _jobs_submitted(sc) -> int:
    """Spark jobs submitted so far, read from the status store's
    ``jobsList`` (the highest job id survives retention eviction)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    jobs = jsc.statusStore().jobsList(sc._jvm.java.util.ArrayList())
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1) + 1


def test_sink_runs_one_spark_job_per_table(spark, tmp_path):
    """Each table is fetched in one job, however many partitions it
    has; a per-partition fetch would run 8 jobs per table here."""
    tables = {f"t{i}": spark.range(0, 800, 1, 8).select(
        "id", (F.col("id") * i).alias("v")) for i in range(3)}
    before = _jobs_submitted(spark.sparkContext)
    write_sqlite(tables, str(tmp_path / "jobs.db"))
    assert _jobs_submitted(spark.sparkContext) - before == 3
