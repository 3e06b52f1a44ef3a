"""Streaming HealthKit Record ingest — the incremental form of the
reference's two-pass pipeline (reference core.rs:42-76).

The reference scans the XML twice: pass 1 infers the schema, pass 2
inserts rows.  The streaming analog keeps exactly that split, but
pass 2 never ends:

- **Pass 1 (batch, bounded)**: infer the raw XML field set, the
  widening type votes, and the metadata key set from the archive(s)
  staged so far — `plan_record_ingest`.  This is the same O(sample)
  work the reference's pass 1 does (core.rs:85-132), and its output is
  a plain serializable plan (schema + casts + keys).
- **Pass 2 (Structured Streaming, unbounded)**: `records_stream` tails
  a drop directory of record-chunk XML files (the unit `stage_zip`
  already produces per archive); each micro-batch parses, flattens
  metadata against the FIXED key set, applies the FIXED casts, and
  appends to a `type`-partitioned parquet table — the incremental
  table-per-type fan-out (A4, core.rs:311-313) with exactly-once file
  sink semantics via the checkpoint.

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
from pyspark.sql import functions as F
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

    Reads the sample as Records, votes per-column widening types
    (operators.schema_infer cascade), and collects the metadata key
    set — everything the unbounded pass needs pinned up front."""
    from ..operators.schema_infer import CAST_TARGETS, vote_column_types
    from ..sources.healthkit import metadata_keys

    configure(spark)
    raw = (spark.read.format("xml").option("rowTag", "Record")
           .option("inferSchema", "false").load(sample_path))
    keys = metadata_keys(raw)
    flat = _flatten(raw, keys)
    str_cols = [f.name for f in flat.schema.fields
                if isinstance(f.dataType, T.StringType) and f.name != "type"]
    votes = vote_column_types(flat, str_cols)[None] if str_cols else {}
    # tags, not type strings: cast_to_tag owns the tag→cast policy
    # (offset-preserving ntz)
    casts = {c: tag for c, (tag, _) in votes.items() if tag in CAST_TARGETS}
    return RecordIngestPlan(raw_schema=raw.schema, casts=casts,
                            metadata_keys=keys)


def _flatten(df: DataFrame, keys) -> DataFrame:
    """Strip attr prefixes + pivot metadata against a FIXED key set
    (the collect-free form of sources.healthkit.flatten_metadata)."""
    from ..sources.healthkit import _strip_attr_prefix, flatten_metadata
    return flatten_metadata(_strip_attr_prefix(df), keys=list(keys))


def records_stream(spark: SparkSession, chunks_path,
                   plan: RecordIngestPlan) -> DataFrame:
    """Pass 2 source: unbounded typed Record stream from a drop dir of
    record-chunk XML files.  Map-only: parse → flatten → fixed casts;
    no aggregation, no shuffle, unbounded state nowhere."""
    configure(spark)
    raw = (spark.readStream.format("xml").option("rowTag", "Record")
           .schema(plan.raw_schema).load(chunks_path))
    from ..operators.schema_infer import CAST_TARGETS, cast_to_tag
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
    df = _flatten(raw, plan.metadata_keys)
    out = [cast_to_tag(F.col(c), plan.casts[c]).alias(c) if c in plan.casts
           else F.col(c) for c in df.columns]
    return df.select(*out)


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
