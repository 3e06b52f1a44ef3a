"""Schema inference: the reference's try-parse type cascade, Spark-first.

The reference infers each column's SQL type from the first value it
sees, by cascading try-parses (reference core.rs:170-204):
i32 → f32 → date/datetime → TEXT, with *first-seen-wins* per column
(core.rs:219-226).  First-seen-wins is order-dependent — unacceptable in
a distributed engine where row order is arbitrary — so this module
implements the documented divergence (SURVEY.md §1.2, §4.4-2):

- per-value classification: the same cascade, as a Column expression
  (``type_tag``), upgraded to 64-bit ints and doubles;
- per-column unification: *widening* over all observed values
  (INTEGER ⊂ REAL; DATE / TIMESTAMP / TEXT disjoint → TEXT wins mixed),
  an order-independent commutative lattice join, computed with one
  aggregate pass (max over tag rank) instead of a first() race.

Used by sources/healthkit.py and streaming/ingest.py to type raw XML
attribute strings: ``infer_column_types`` (the kernel ``q_schema_unify``
checks against the oracle) is every table's one schema vote, and
``select_typed`` builds every output table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..spec import Spec

#: Widening lattice rank: INTEGER widens to REAL; anything mixed with a
#: disjoint family widens to TEXT.  (Ranks only meaningful per family;
#: cross-family max resolves to TEXT via the UNIFY table below.)
TAGS = ("INTEGER", "REAL", "DATE", "TIMESTAMP", "TEXT")


def type_tag(s: Column) -> Column:
    """Classify one string value — the reference's cascade
    (core.rs:170-189) with i32→i64 and f32→f64 upgrades, and dates
    guarded by length so date-times fall to TIMESTAMP in both engines."""
    # Integer branch is regex-guarded: engines disagree on casting
    # fractional strings to int (Spark truncates, DuckDB rounds), so
    # "integer" means *lexically* integral in both.  NULL values carry
    # no type evidence (an absent attribute, reference core.rs:693-704)
    # → NULL tag, ignored by unification.
    # The date/timestamp branches are gated by a cheap ^YYYY-MM-DD
    # prefix regex: (a) perf — try_cast(timestamp) is by far the most
    # expensive failure path and the gate skips it for ordinary text;
    # (b) parity — Spark would otherwise cast bare times ('12:30:00')
    # to today's timestamp, which DuckDB refuses; the gate makes both
    # engines call them TEXT (pinned in test_schema_properties.py).
    datelike = s.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}")
    return (
        F.when(s.isNull(), F.lit(None).cast("string"))
        .when(s.rlike("^-?[0-9]+$") & s.try_cast("bigint").isNotNull(),
              F.lit("INTEGER"))
        .when(s.try_cast("double").isNotNull(), F.lit("REAL"))
        .when((F.length(s) == 10) & datelike & s.try_cast("date").isNotNull(),
              F.lit("DATE"))
        .when(datelike & s.try_cast("timestamp").isNotNull(),
              F.lit("TIMESTAMP"))
        .otherwise(F.lit("TEXT")))


def unify_tags(tag: Column) -> Column:
    """Order-independent widening unification of a collection of tags.

    Aggregate expression: each tag maps to one bit (INTEGER=1, REAL=2,
    DATE=4, TIMESTAMP=8, TEXT=16), the observed set is a ``bit_or``,
    and the set resolves to {INTEGER} → INTEGER; ⊆{INTEGER,REAL} →
    REAL; singleton {DATE} / {TIMESTAMP} stay; any other mixture (or
    no evidence) → TEXT.  Commutative + associative, so partial
    aggregation is safe at any partitioning.

    The bit-mask form (vs the equivalent ``collect_set``) is
    load-bearing for throughput: collect_set plans as
    ObjectHashAggregate, which disables whole-stage codegen for the
    stage and drops the per-value ``type_tag`` regex cascade into
    interpreted evaluation; bit_or keeps the entire inference pass
    inside codegen."""
    bit = (F.when(tag == "INTEGER", 1)
           .when(tag == "REAL", 2)
           .when(tag == "DATE", 4)
           .when(tag == "TIMESTAMP", 8)
           .when(tag == "TEXT", 16))  # NULL (no evidence) stays NULL
    mask = F.bit_or(bit)
    return (
        F.when(mask.isNull(), F.lit("TEXT"))       # no evidence at all
        .when(mask == 1, F.lit("INTEGER"))
        .when((mask == 2) | (mask == 3), F.lit("REAL"))
        .when(mask == 4, F.lit("DATE"))
        .when(mask == 8, F.lit("TIMESTAMP"))
        .otherwise(F.lit("TEXT")))


#: tag → Spark cast target (SURVEY.md §1.2 table: i32→i64, f32→f64
#: upgrades; TIMESTAMP kept distinct from the reference's collapsed DATE)
CAST_TARGETS = {"INTEGER": "bigint", "REAL": "double",
                "DATE": "date", "TIMESTAMP": "timestamp"}

def cast_to_tag(col: Column, tag: str | None) -> Column | None:
    """Cast a raw string column to its unified tag's Spark type; None
    for TEXT/unknown (leave the string column as is).

    TIMESTAMP preserves the LOCAL wall-clock: HealthKit datetimes carry
    explicit offsets ("2020-02-24 10:18:12 -0800").  A plain
    cast("timestamp") rebases them to the session zone (UTC), so a
    device-local 23:30 becomes next-day 07:30 and the reference
    README's date-range queries return different rows near day
    boundaries — the reference stores the original text, whose
    comparisons see local time (core.rs:199-200 binds OffsetDateTime;
    sqlx encodes it with its original offset).  Stripping the offset
    and casting to timestamp_ntz keeps the wall-clock the reference's
    text comparisons see; the absolute instant is the documented loss
    (acceptable: HealthKit analytics are local-day-centric).

    Implementation note: Spark's string→TIMESTAMP_NTZ cast parses a
    trailing zone offset and DISCARDS it, keeping the local fields —
    exactly the wall-clock semantics wanted — so no explicit
    offset-stripping is needed (a regexp_replace strip measured +3.3s
    on the 400k-record ingest bench, 10.78s vs 7.43s; this is the
    zero-overhead form)."""
    target = CAST_TARGETS.get(tag)
    if target is None:
        return None
    if target == "timestamp":
        return col.try_cast("timestamp_ntz")
    return col.cast(target)


#: the Record/Workout child that carries per-row metadata; staged and
#: voted as one map<string,string> column (reference core.rs:452-474)
METADATA = "MetadataEntry"


def long_form(df: DataFrame, key: str | None = None) -> DataFrame:
    """The pass-1 input of ``df`` as long-form ``(key, col_name, value)``
    rows: the unpivot of every string column but ``key``, plus the
    entries of its MetadataEntry map as ``("metadata_" || key, value)``
    pairs.  Null map values are kept, so a metadata key seen only
    without a value still names a column."""
    keys = [key] if key is not None else []
    kv = df.unpivot(keys, [f.name for f in df.schema.fields if f.name != key
                           and isinstance(f.dataType, T.StringType)],
                    "col_name", "value")
    if METADATA not in df.columns:
        return kv
    md = df.select(*keys, F.explode(METADATA).alias("k", "value"))
    return kv.unionByName(md.select(
        *keys, F.concat(F.lit("metadata_"), "k").alias("col_name"), "value"))


def infer_column_types(kv: DataFrame, key: str | None = None) -> DataFrame:
    """The one schema vote, pass 1 of the reference (core.rs:85-132) as
    one aggregate: from a long-form ``(key, col_name, value)`` relation,
    each column's widening-unified tag (``inferred_type``) and non-null
    count (``nonnull``: a tag is NULL exactly when its value is), per
    ``key`` value or overall.  Commutative, so partial aggregation
    handles any partitioning, unlike the reference's first-seen scan."""
    # tag each value ONCE in a projection, then aggregate the tag:
    # unify_tags references its input in every when-branch, and codegen
    # does not CSE across branches (inlining type_tag measured 8× slower)
    keys = [key] if key is not None else []
    return (kv.select(*keys, "col_name", type_tag(F.col("value")).alias("tag"))
            .groupBy(*keys, "col_name")
            .agg(unify_tags(F.col("tag")).alias("inferred_type"),
                 F.count(F.col("tag")).alias("nonnull")))


def metadata_keys_among(names, cols: list[str]) -> list[str]:
    """The MetadataEntry keys behind the vote's column ``names``: those
    not among the frame's columns ``cols``, sorted, without the
    ``metadata_`` prefix ``long_form`` gave them."""
    return sorted(n[len("metadata_"):] for n in names if n not in cols)


def select_typed(df: DataFrame, cols: list[str], metadata_keys: list[str],
                 tags: dict[str, str]) -> DataFrame:
    """Build one output table in ONE select: the columns ``cols`` in
    order, then ``metadata_<key>`` for each of ``metadata_keys``, read
    from the MetadataEntry map.  Each is cast to its tag in ``tags``
    (``cast_to_tag``); TEXT or untagged columns pass through as is."""
    def typed(col: Column, name: str) -> Column:
        casted = cast_to_tag(col, tags.get(name))
        return (col if casted is None else casted).alias(name)
    return df.select(*[typed(F.col(c), c) for c in cols],
                     *[typed(F.col(METADATA).getItem(k), f"metadata_{k}")
                       for k in metadata_keys])


def column_votes(df: DataFrame) -> dict[str, str]:
    """``df``'s schema vote in ONE aggregate pass: the tag of each
    string column and of ``metadata_<key>`` for each MetadataEntry key
    seen."""
    return {r["col_name"]: r["inferred_type"]
            for r in infer_column_types(long_form(df)).collect()}


def apply_inferred_types(df: DataFrame,
                         votes: dict[str, str] | None = None) -> DataFrame:
    """Cast ``df``'s columns by ``votes`` (default: ``df``'s own vote)
    in one ``select_typed``, its MetadataEntry map flattened to
    ``metadata_<key>`` columns (every key voted, sorted, after the other
    columns); a column the vote did not see passes through.  (Per-type
    all-null column pruning — the reference never creates a column it
    never saw, core.rs:216-227 — lives in ``record_tables_onepass``.)"""
    if votes is None:
        votes = column_votes(df)
    cols = [c for c in df.columns if c != METADATA]
    return select_typed(df, cols, metadata_keys_among(votes, cols), votes)


def _event_long_form(events: DataFrame) -> DataFrame:
    """Four raw-string columns of known shape derived from `events`
    (int-ish, real-ish, timestamp-ish, text-ish) plus ``event_type``,
    as long-form (col_name, value) rows — ``_LONG_FORM_SQL`` in Spark."""
    pairs = F.array(*[
        F.struct(F.lit(name).alias("col_name"), val.alias("value"))
        for name, val in (
            ("props_k", F.get_json_object("props", "$.k")),
            ("value_str", F.col("value").cast("decimal(18,2)").cast("string")),
            ("ts_str", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")),
            ("date_str", F.date_format("ts", "yyyy-MM-dd")),
            ("event_type", F.col("event_type")))])
    return events.select(F.explode(pairs).alias("p")).select("p.col_name", "p.value")


def classify_event_values(events: DataFrame) -> DataFrame:
    """Oracle-checkable exercise of the cascade: classify every
    long-form event value, count per tag."""
    return (_event_long_form(events)
            .select("col_name", type_tag(F.col("value")).alias("type_tag"))
            .groupBy("col_name", "type_tag")
            .agg(F.count(F.lit(1)).alias("n")))


def infer_event_schema(events: DataFrame) -> DataFrame:
    """End-to-end inference over the same long-form values: one row per
    derived column with its widened type."""
    return infer_column_types(_event_long_form(events)).select(
        "col_name", "inferred_type")


_CASCADE_SQL = """
CASE WHEN value IS NULL THEN NULL
     WHEN regexp_matches(value, '^-?[0-9]+$') AND TRY_CAST(value AS BIGINT) IS NOT NULL THEN 'INTEGER'
     WHEN TRY_CAST(value AS DOUBLE) IS NOT NULL THEN 'REAL'
     WHEN LENGTH(value) = 10 AND regexp_matches(value, '^[0-9]{4}-[0-9]{2}-[0-9]{2}')
          AND TRY_CAST(value AS DATE) IS NOT NULL THEN 'DATE'
     WHEN regexp_matches(value, '^[0-9]{4}-[0-9]{2}-[0-9]{2}')
          AND TRY_CAST(value AS TIMESTAMP) IS NOT NULL THEN 'TIMESTAMP'
     ELSE 'TEXT' END
"""

_LONG_FORM_SQL = """
    SELECT 'props_k' AS col_name, json_extract_string(props, '$.k') AS value FROM events
    UNION ALL
    SELECT 'value_str', CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) FROM events
    UNION ALL
    SELECT 'ts_str', strftime(ts, '%Y-%m-%d %H:%M:%S') FROM events
    UNION ALL
    SELECT 'date_str', strftime(ts, '%Y-%m-%d') FROM events
    UNION ALL
    SELECT 'event_type', event_type FROM events
"""

SPECS: dict[str, Spec] = {
    "q_schema_infer": Spec(
        lambda spark, sf: classify_event_values(load_table(spark, sf, "events")),
        f"""
        SELECT col_name, {_CASCADE_SQL} AS type_tag, COUNT(*) AS n
        FROM ({_LONG_FORM_SQL})
        GROUP BY col_name, type_tag
        """,
        "A3/A5 type cascade per value (reference core.rs:170-204)"),
    "q_schema_unify": Spec(
        lambda spark, sf: infer_event_schema(load_table(spark, sf, "events")),
        f"""
        WITH tagged AS (
          SELECT col_name, {_CASCADE_SQL} AS tag FROM ({_LONG_FORM_SQL})
        ), sets AS (
          SELECT col_name, list_sort(list_distinct(list(tag))) AS tags FROM tagged GROUP BY col_name
        )
        SELECT col_name,
               CASE WHEN tags = ['INTEGER'] THEN 'INTEGER'
                    WHEN len(list_filter(tags, t -> t NOT IN ('INTEGER','REAL'))) = 0 THEN 'REAL'
                    WHEN tags = ['DATE'] THEN 'DATE'
                    WHEN tags = ['TIMESTAMP'] THEN 'TIMESTAMP'
                    ELSE 'TEXT' END AS inferred_type
        FROM sets
        """,
        "A3 widening unification (divergence from first-seen-wins, SURVEY.md §1.2)"),
}
