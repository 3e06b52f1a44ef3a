"""Database sinks (reference A12-A14: typed batch insert, DDL lifecycle).

The reference writes one SQLite row per INSERT inside a transaction
(core.rs:687-718, 59-72).  Spark-native equivalents:

- ``write_sqlite`` — driver-side sqlite3 fed from one Arrow fetch per
  table (one Spark job each), converted column by column into one
  ``executemany`` per record batch.  Driver memory holds at most
  ``defaultParallelism`` whole tables as Arrow at a time.  This is the
  CLI's sink: reference parity — an actual .db file a Datasette user
  could open — is testable here.  Fine for export-sized data (the
  reference's own regime); at 100 TB you would not write SQLite at all.
- ``write_tables_atomic`` — the per-type tables as parquet, published
  in one manifest commit (the at-scale analog of table-per-type, A4,
  with the reference's one-transaction-per-pass semantics).
- ``write_bucketed`` — a table bucketed and sorted by a join key, so
  two tables bucketed alike join without an exchange.
"""

from __future__ import annotations

import datetime as _dt
import itertools
import json
import os
import sqlite3
import uuid
from collections import deque
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

_SQLITE_TYPES = {
    T.LongType: "INTEGER", T.IntegerType: "INTEGER", T.ShortType: "INTEGER",
    T.DoubleType: "REAL", T.FloatType: "REAL",
    T.DateType: "DATE", T.TimestampType: "DATE", T.TimestampNTZType: "DATE",
    T.BooleanType: "INTEGER",
}


def _sqlite_type(dt: T.DataType) -> str:
    """Reference DDL type mapping (core.rs:170-189; TIMESTAMP/DATE both
    map to SQLite DATE exactly as the reference collapses them)."""
    return _SQLITE_TYPES.get(type(dt), "TEXT")


def _quote(ident: str) -> str:
    """Backtick-quote identifiers — metadata keys may contain spaces
    (reference core.rs:78-83).  Unlike the reference (which interpolates
    table names unquoted into INSERT, core.rs:693-695), we quote both."""
    return '`' + ident.replace('`', '``') + '`'


def create_table_sql(name: str, schema: T.StructType) -> str:
    """A14: idempotent DDL (reference core.rs:118-130; columns in schema
    order rather than the reference's BTreeMap lexicographic order)."""
    cols = ", ".join(f"{_quote(f.name)} {_sqlite_type(f.dataType)}"
                     for f in schema.fields)
    return f"CREATE TABLE IF NOT EXISTS {_quote(name)} ({cols})"


def _to_sqlite_value(v):
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat(sep=" ") if isinstance(v, _dt.datetime) else v.isoformat()
    if isinstance(v, (list, dict)):
        return json.dumps(v)
    return v


def _row_shape(dt: T.DataType):
    """Map a nested ``to_pylist`` value onto what a ``Row`` holds for
    the same type — maps as dicts (Arrow gives key/value pairs, in the
    map's stored order), structs as tuples (Arrow gives dicts) — so it
    serializes to the same JSON shape."""
    if isinstance(dt, T.ArrayType):
        el = _row_shape(dt.elementType)
        return lambda v: None if v is None else [el(x) for x in v]
    if isinstance(dt, T.MapType):
        kf, vf = _row_shape(dt.keyType), _row_shape(dt.valueType)
        return lambda v: None if v is None else {kf(k): vf(x) for k, x in v}
    if isinstance(dt, T.StructType):
        fields = [(f.name, _row_shape(f.dataType)) for f in dt.fields]
        return lambda v: None if v is None else tuple(f(v[n]) for n, f in fields)
    return lambda v: v


def _column_converter(field: T.StructField):
    """Chosen once per column from its Spark type: Arrow column →
    list of SQLite-bindable values."""
    dt = field.dataType
    if isinstance(dt, T.StructType):
        raise TypeError(f"write_sqlite: column {field.name!r} is "
                        f"{dt.simpleString()}; SQLite has no struct type")
    if isinstance(dt, T.TimestampType):
        # Arrow carries it tz-aware; the stored text is the naive local
        # wall clock a Row holds, so decode the epoch micros the same way
        return lambda col: [_to_sqlite_value(dt.fromInternal(v))
                            for v in col.cast(pa.int64()).to_pylist()]
    if isinstance(dt, (T.DateType, T.TimestampNTZType)):
        return lambda col: [_to_sqlite_value(v) for v in col.to_pylist()]
    if isinstance(dt, (T.ArrayType, T.MapType)):
        shape = _row_shape(dt)
        return lambda col: [_to_sqlite_value(shape(v)) for v in col.to_pylist()]
    return lambda col: col.to_pylist()


def _fetch(sc, tag: str, name: str, df: DataFrame):
    """One Spark job, tagged so a failed pass can cancel it: the whole
    table as Arrow, plus the statements and per-column converters its
    insert needs."""
    cols, schema = df.columns, df.schema
    converters = [_column_converter(f) for f in schema.fields]
    insert = (f"INSERT INTO {_quote(name)} ({', '.join(_quote(c) for c in cols)}) "
              f"VALUES ({', '.join('?' for _ in cols)})")
    sc.addJobTag(tag)  # thread-local: tags only this thread's job
    try:
        table = df.toArrow()
    finally:
        sc.removeJobTag(tag)
    return create_table_sql(name, schema), insert, converters, table


def _insert(con, ddl: str, insert: str, converters, table: pa.Table) -> None:
    con.execute(ddl)
    for batch in table.to_batches():
        con.executemany(insert, zip(*(
            conv(col) for conv, col in zip(converters, batch.columns))))


def write_sqlite(tables: dict[str, DataFrame], db_path: str,
                 drop: bool = False) -> None:
    """A12/A13: write the logical catalog to a SQLite file.

    Each table is fetched as one Arrow job on a small thread pool while
    the main thread inserts the previous table; at most
    ``defaultParallelism`` tables are fetched or fetching but not yet
    inserted, which bounds driver memory.  Values convert column by
    column and insert with one ``executemany`` per Arrow record batch —
    the batch upgrade over the reference's row-at-a-time INSERT
    (core.rs:688-718).  ONE transaction for the whole pass, exactly the
    reference's one-transaction-per-pass (core.rs:59-61, 70-72): a run
    that dies mid-pass rolls back to zero visible tables, never a
    partial set, and cancels the Spark jobs of fetches still running.
    A column type Arrow or SQLite cannot carry raises.  ``drop``
    reproduces the CLI --drop flow (main.rs:39-62)."""
    if drop and os.path.exists(db_path):
        os.remove(db_path)
    sc = next(iter(tables.values())).sparkSession.sparkContext if tables else None
    depth = sc.defaultParallelism if sc else 1
    tag = f"write_sqlite-{uuid.uuid4().hex}"
    pending = iter(tables.items())
    pool = ThreadPoolExecutor(max_workers=depth)
    fetches: deque = deque()

    def prefetch() -> None:
        for name, df in itertools.islice(pending, depth - len(fetches)):
            fetches.append(pool.submit(_fetch, sc, tag, name, df))

    # isolation_level=None + explicit BEGIN: Python's legacy implicit
    # transactions run DDL in autocommit, which would leave earlier
    # tables' CREATEs committed on a mid-pass crash
    con = sqlite3.connect(db_path, isolation_level=None)
    try:
        prefetch()
        con.execute("BEGIN")
        try:
            while fetches:
                # no name keeps the popped future: its table is freed
                # once inserted, before the next fetch is submitted
                _insert(con, *fetches.popleft().result())
                prefetch()
            con.execute("COMMIT")
        except BaseException:
            con.execute("ROLLBACK")
            if sc is not None:
                sc.cancelJobsWithTag(tag)
            raise
    finally:
        pool.shutdown(wait=True)
        con.close()


def write_tables_atomic(tables: dict[str, DataFrame], root: str) -> int:
    """A4 fan-out with the reference's one-transaction-per-pass
    semantics at parquet scale: stage EVERY per-type table's files,
    then publish ONE manifest commit for the whole pass
    (sinks/manifest.ManifestCatalog).  A run that dies mid-pass
    leaves zero visible tables — matching the reference's single
    SQLite transaction (core.rs:59-61, 70-72) — where writing the
    tables one by one could leave a partial table set.  Returns the
    published catalog version."""
    from .manifest import ManifestCatalog

    return ManifestCatalog(root).publish_pass(tables)


def write_bucketed(df: DataFrame, table: str, key: str,
                   buckets: int = 8, sort: bool = True,
                   mode: str = "overwrite") -> None:
    """Materialize a table bucketed (and optionally sorted) by a join
    key — the 100 TB co-location strategy: two tables bucketed on the
    same key with the same bucket count join with ZERO exchanges (and
    with ``sort=True``, zero sorts) because every bucket pair is
    already co-partitioned on disk.  This is how the flagship
    orders⋈lineitem join becomes shuffle-free at scale (SURVEY.md §7.1
    note); tests/test_plans.py asserts the property on the plan."""
    w = df.write.mode(mode).bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)
