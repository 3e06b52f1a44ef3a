"""Streaming HealthKit Record ingest — the incremental form of the
reference's two-pass pipeline (reference core.rs:42-76).

The reference scans the XML twice: pass 1 infers the schema, pass 2
inserts rows.  The streaming analog keeps exactly that split, but
pass 2 never ends:

- **Pass 1 (batch, bounded)**: infer the raw XML field set, then run
  the one schema vote (`operators.schema_infer.infer_column_types`,
  the kernel batch ingest runs) over the sample's long form, which
  gives the widening types and the metadata key set together —
  `plan_record_ingest`.  This is the same O(sample) work the
  reference's pass 1 does (core.rs:85-132), and its output is a plain
  serializable plan (schema + casts + keys).
- **Pass 2 (Structured Streaming, unbounded)**: `records_stream` tails
  a drop directory of record-chunk XML files (the unit `stage_zip`
  already produces per archive); each micro-batch parses, then one
  `select_typed` pivots metadata against the FIXED key set and applies
  the FIXED casts, and it appends to a `type`-partitioned parquet
  table — the incremental table-per-type fan-out (A4, core.rs:311-313)
  with exactly-once file sink semantics via the checkpoint.

Scale notes: the stream shuffles nothing — parse, cast, and
partitioned append are all map-side; throughput scales with source
files per micro-batch.  Schema drift (a column never seen in pass 1)
is the one thing the reference could absorb mid-run and a fixed-schema
stream cannot; re-running pass 1 and restarting the query with the
widened plan is the documented operational answer (state is only the
file-source log, so restart is cheap).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import configure


@dataclass(frozen=True)
class RecordIngestPlan:
    """Serializable output of the bounded pass-1."""
    raw_schema: T.StructType            # XML reader schema (pre-strip, raw strings)
    casts: dict                         # flat column -> inference tag
    metadata_keys: list = field(default_factory=list)


def plan_record_ingest(spark: SparkSession, sample_path) -> RecordIngestPlan:
    """Pass 1: bounded batch inference over the staged sample.

    Reads the sample as Records and runs the one schema vote
    (operators.schema_infer.infer_column_types) over its long form: the
    per-column widening types and the metadata key set — everything the
    unbounded pass needs pinned up front — in one aggregate."""
    from ..operators.schema_infer import (
        CAST_TARGETS, column_votes, metadata_keys_among)

    configure(spark)
    raw = (spark.read.format("xml").option("rowTag", "Record")
           .option("inferSchema", "false").load(sample_path))
    df = _records(raw)
    votes = column_votes(df)
    # tags, not type strings: cast_to_tag owns the tag→cast policy
    # (offset-preserving ntz)
    casts = {c: tag for c, tag in votes.items() if tag in CAST_TARGETS}
    return RecordIngestPlan(raw_schema=raw.schema, casts=casts,
                            metadata_keys=metadata_keys_among(votes, df.columns))


def _records(raw: DataFrame) -> DataFrame:
    """Strip attr prefixes and gather MetadataEntry into its map, as
    sources.healthkit.read_records does."""
    from ..sources.healthkit import _metadata_as_map, _strip_attr_prefix
    return _metadata_as_map(_strip_attr_prefix(raw))


def records_stream(spark: SparkSession, chunks_path,
                   plan: RecordIngestPlan) -> DataFrame:
    """Pass 2 source: unbounded typed Record stream from a drop dir of
    record-chunk XML files.  Map-only: parse, then one select that
    pivots metadata against the FIXED key set and applies the FIXED
    casts; no aggregation, no shuffle, unbounded state nowhere."""
    configure(spark)
    raw = (spark.readStream.format("xml").option("rowTag", "Record")
           .schema(plan.raw_schema).load(chunks_path))
    from ..operators.schema_infer import CAST_TARGETS, METADATA, select_typed
    # Plans serialize; a stale plan from before casts held inference
    # tags (it once held Spark type strings like 'double') would hit
    # cast_to_tag's unknown-tag path and silently leave raw strings
    # (round-2 advisor).  Reject unknown tags up front instead.
    bad = {c: t for c, t in plan.casts.items() if t not in CAST_TARGETS}
    if bad:
        raise ValueError(
            f"RecordIngestPlan.casts holds non-inference-tag values {bad}; "
            f"expected tags from {sorted(CAST_TARGETS)} — re-run "
            f"plan_record_ingest (stale/legacy serialized plan?)")
    df = _records(raw)
    return select_typed(df, [c for c in df.columns if c != METADATA],
                        list(plan.metadata_keys), plan.casts)


def start_record_ingest(spark: SparkSession, chunks_path, out_dir: str,
                        checkpoint_dir: str, plan: RecordIngestPlan,
                        available_now: bool = False):
    """Run pass 2 into a type-partitioned parquet table (incremental
    A4 fan-out; partition pruning gives per-type access downstream).
    Returns the StreamingQuery; exactly-once via the checkpoint."""
    stream = records_stream(spark, chunks_path, plan)
    writer = (stream.writeStream.format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .partitionBy("type")
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
