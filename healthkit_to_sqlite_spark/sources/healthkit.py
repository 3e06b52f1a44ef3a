"""HealthKit export.zip ingestion — the reference's entire ETL surface,
re-expressed Spark-first.

Reference pipeline (/root/reference/src/core.rs): open zip (48-51),
stream-parse export.xml twice — schema pass (52-62, 85-132) then insert
pass (63-73, 381-718) — flattening MetadataEntry children to
``metadata_<key>`` columns (452-474), collecting WorkoutEvent children
to a JSON array (541-543, 639-642), WorkoutStatistics to a JSON object
keyed by type (544-548, 643-646), and joining each workout to its GPX
route file inside the zip to build GeoJSON LineString geometry
(556-633).

Spark-native re-expression:

- zip staging is driver-side (A1): Spark has no zip codec; unpack once
  to a staging dir, then ONE streaming pass over export.xml re-chunks
  the Records at element boundaries and carves the rare classes
  (Workout, ActivitySummary) into small side files; every subsequent
  step is distributed.
- ONE distributed read per element class via the native XML source
  (rowTag=Record/Workout/ActivitySummary, raw strings) replaces both
  streaming passes.  Pass 1 is one schema vote per class
  (operators.schema_infer.infer_column_types over the class's long
  form); it implements the *widening* policy we chose over the
  reference's first-seen-wins (SURVEY.md §1.2, §4.4-2).
- MetadataEntry = one map_from_entries column (LAST_WIN dedup conf
  replaces the reference's duplicate-column INSERT quirk, §4.4-5).
  Its entries join the vote's long form, so the vote also finds the
  metadata key set; no separate key census and no third parse.
- Workout children = struct/array transforms + to_json at the edge.
- Route join = a real equi-join against a GPX DataFrame (broadcast;
  route sets are small) instead of per-row random zip access.  The
  GPX read is map-only: one row per file, declared schema.
- table-per-type fan-out (A4) = one schema vote grouped by type over
  the staged Record parquet, then one filtered select per type.  Every
  output table is one ``select_typed`` projection.

Driver-side row handling is limited to the staging pass and the
bounded vote collect (one row per table and column, ~100s of types —
the same bound the reference's BTreeMap schema carries).
"""

from __future__ import annotations

import os
import re
import zipfile
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import configure

EXPORT_XML = "apple_health_export/export.xml"
ARCHIVE_ROOT = "apple_health_export"


@dataclass(frozen=True)
class StagedExport:
    """Filesystem layout after zip staging (A1)."""
    export_xml: str    # path to export.xml
    routes_dir: str    # dir with workout-routes/*.gpx (may be empty)
    #: small per-class side files for the RARE element classes — a
    #: rowTag XML read must scan the whole file even when its class is
    #: 0.01% of it, so Workout/ActivitySummary reads go against these
    workouts_xml: str
    summaries_xml: str
    #: directory of export.xml re-chunked at <Record boundaries — the
    #: XML source does not split single files (isSplitable=false for
    #: rowTag parsing), so one big export.xml would parse on ONE task;
    #: N chunk files give the Record read N-way parallelism
    records_dir: str


#: the rare element classes carved into side files, by side-file name
_SIDE_FILES = {"Workout": "side-workouts.xml",
               "ActivitySummary": "side-activitysummarys.xml"}
#: a start tag's attributes; a quoted value may hold a raw '>' (XML
#: forbids only a raw '<' there, so no element hides inside a value)
_ATTRS = rb"""(?:[^>"']|"[^"]*"|'[^']*')*?"""


def _element_re(klass: str) -> re.Pattern:
    """One complete element of ``klass``: self-closing, or through its
    first end tag (neither side class nests in itself)."""
    k = klass.encode()
    return re.compile(rb"<" + k + rb"(?=[\s/>])" + _ATTRS
                      + rb"(?:/>|>.*?</" + k + rb">)", re.DOTALL)


def _stage_export_xml(export_xml: str, out_dir: str, chunks: int) -> str:
    """One streaming pass over export.xml that writes both products of
    staging: the Record chunk files and the rare-class side files.

    Records are re-chunked into ~``chunks`` files, clamped to [2, 64]
    (one file under 2 MiB), cutting only at ``<Record `` starts — the
    last one inside the target window, or the first one after it when a
    large non-Record element fills the window — so the Record rowTag
    read runs one task per chunk instead of one task for the whole file
    (the XML source cannot split a single file).  Each chunk is wrapped
    in its own root; content between records stays inside exactly one
    chunk, and rowTag scanning ignores it.  An export without Records
    gets one empty-bodied chunk, which reads as the empty schema.

    The Workout and ActivitySummary elements are carved out of each
    segment between cuts (the preamble, each chunk, the tail) into
    small side files, in document order.  Neither class contains a
    Record and no raw '<' occurs inside an attribute value, so no such
    element straddles a cut; an open-tag census checks that every
    opened element was carved and raises otherwise.  Streaming,
    sequential IO, memory bounded by one chunk plus the side classes —
    the Spark-side analog of the reference's O(file) passes
    (core.rs:52-73).  Returns the chunk dir."""
    size = os.path.getsize(export_xml)
    n_target = min(64, max(2, chunks))
    target = size if size < 2 << 20 else max(1 << 20, size // n_target)
    chunk_dir = os.path.join(out_dir, "records-chunks")
    os.makedirs(chunk_dir, exist_ok=True)
    element = {k: _element_re(k) for k in _SIDE_FILES}
    opener = {k: re.compile(rb"<" + k.encode() + rb"[\s/>]") for k in _SIDE_FILES}
    carved: dict[str, list[bytes]] = {k: [] for k in _SIDE_FILES}
    opened = dict.fromkeys(_SIDE_FILES, 0)
    n_chunks = 0

    def carve(segment: bytes) -> None:
        for k in _SIDE_FILES:
            carved[k] += (m.group(0) for m in element[k].finditer(segment))
            opened[k] += len(opener[k].findall(segment))

    def flush(payload: bytes) -> None:
        nonlocal n_chunks
        path = os.path.join(chunk_dir, f"records-{n_chunks:05d}.xml")
        with open(path, "wb") as out:
            out.writelines((b"<HealthData>\n", payload, b"\n</HealthData>\n"))
        n_chunks += 1

    buf, in_records = b"", False
    with open(export_xml, "rb") as f:
        while block := f.read(16 << 20):
            buf += block
            if not in_records:
                # the declaration/DTD/<HealthData …> opener is carved,
                # not copied: each chunk gets its own root, and a second
                # root (or a mid-file <?xml?>) is malformed XML
                first = buf.find(b"<Record ")
                if first < 0:
                    continue
                carve(buf[:first])
                buf, in_records = buf[first:], True
            while len(buf) >= target + (1 << 16):
                cut = buf.rfind(b"<Record ", 0, target)
                if cut <= 0:  # no boundary in the window: take the next
                    cut = buf.find(b"<Record ", target)
                    if cut < 0:
                        break  # none buffered yet; accumulate more
                segment, buf = buf[:cut], buf[cut:]
                carve(segment)
                flush(segment)
    carve(buf)  # the tail, or the whole export when it has no Records
    if not in_records:
        buf = b""  # one empty-bodied chunk
    # the last chunk loses the original closing root tag (flush adds one)
    end = buf.rfind(b"</HealthData>")
    flush(buf[:end] if end >= 0 else buf)

    for k, name in _SIDE_FILES.items():
        if opened[k] != len(carved[k]):
            raise ValueError(
                f"{export_xml}: {opened[k]} <{k}> start tags but "
                f"{len(carved[k])} complete {k} elements")
        # NB: no leading underscore — Spark's file index treats _*/.*
        # paths as hidden and silently reads nothing
        with open(os.path.join(out_dir, name), "wb") as out:
            out.write(b"<HealthData>\n")
            out.writelines(el + b"\n" for el in carved[k])
            out.write(b"</HealthData>\n")
    return chunk_dir


def stage_zip(zip_path: str, staging_dir: str, chunks: int) -> StagedExport:
    """A1: unpack export.zip to a staging directory (driver-side; the
    zip format is not splittable).  Mirrors reference core.rs:48-56 but
    once, up front — the reference re-opens the archive per route file
    (core.rs:580-582).  One more pass over export.xml re-chunks the
    Records into ~``chunks`` files and carves the rare element classes
    into side files (see ``_stage_export_xml``)."""
    with zipfile.ZipFile(zip_path) as zf:
        safe = [n for n in zf.namelist()
                if not (n.startswith("/") or ".." in n.split("/"))]
        zf.extractall(staging_dir, members=safe)
    export_xml = os.path.join(staging_dir, EXPORT_XML)
    # an export without routes gets an empty dir, which reads as no rows
    routes_dir = os.path.join(staging_dir, ARCHIVE_ROOT, "workout-routes")
    os.makedirs(routes_dir, exist_ok=True)
    return StagedExport(
        export_xml=export_xml,
        routes_dir=routes_dir,
        workouts_xml=os.path.join(staging_dir, _SIDE_FILES["Workout"]),
        summaries_xml=os.path.join(staging_dir, _SIDE_FILES["ActivitySummary"]),
        records_dir=_stage_export_xml(export_xml, staging_dir, chunks))


def _strip_attr_prefix(df: DataFrame) -> DataFrame:
    """XML attributes arrive as ``_name``; surface them as ``name``
    (reference stores bare attribute names, core.rs:216-227)."""
    return df.withColumnsRenamed(
        {c: c[1:] for c in df.columns if c.startswith("_")})


def _as_array(df: DataFrame, col: str) -> DataFrame:
    """Normalize the XML reader's struct-vs-array ambiguity: a child
    element appearing once per parent infers as struct, repeated as
    array.  Downstream code always sees an array."""
    if col not in df.columns:
        return df
    if not isinstance(df.schema[col].dataType, T.ArrayType):
        # a null struct must become [], not [null] (a parent without
        # that child has no entries)
        df = df.withColumn(col, F.when(F.col(col).isNotNull(),
                                       F.array(F.col(col)))
                           .otherwise(F.array().cast(
                               T.ArrayType(df.schema[col].dataType))))
    else:
        df = df.withColumn(col, F.coalesce(
            F.col(col), F.array().cast(df.schema[col].dataType)))
    return df


def read_element(spark: SparkSession, xml_path: str, row_tag: str) -> DataFrame:
    """A2: one distributed XML read per element class (replaces both of
    the reference's sequential scans).

    Attributes are read as RAW STRINGS (inferSchema=false): typing is
    applied per output table by the widening cascade
    (operators.schema_infer.apply_inferred_types), matching the
    reference's per-table schema maps (core.rs:216-257) rather than one
    global schema — e.g. Record@value must be INTEGER for StepCount but
    REAL for WalkingSpeed."""
    configure(spark)
    df = (spark.read.format("xml")
          .option("rowTag", row_tag)
          .option("inferSchema", "false")
          .load(xml_path))
    return _strip_attr_prefix(df)


def _metadata_as_map(df: DataFrame) -> DataFrame:
    """A6: MetadataEntry children → one map<string,string> column, which
    ``select_typed`` pivots to ``metadata_<key>`` columns.  LAST_WIN
    dedup (session conf) gives the deterministic duplicate-key policy
    the reference lacks (core.rs:468-472; SURVEY.md §4.4-5)."""
    if "MetadataEntry" not in df.columns:
        return df
    return _as_array(df, "MetadataEntry").withColumn(
        "MetadataEntry", F.map_from_entries(F.transform(
            F.col("MetadataEntry"),
            lambda m: F.struct(m["_key"].alias("key"),
                               m["_value"].cast("string").alias("value")))))


def read_records(spark: SparkSession, xml_path: str) -> DataFrame:
    """All <Record> rows with their ``type`` discriminator (table name
    in the reference, core.rs:311-313) and MetadataEntry as a map.
    Columns stay raw strings here; typing and the metadata pivot happen
    per type-table in ``record_tables_onepass`` (per-table schemas,
    core.rs:216-227)."""
    return _metadata_as_map(read_element(spark, xml_path, "Record"))


def read_activity_summaries(spark: SparkSession, xml_path: str) -> DataFrame:
    """<ActivitySummary> rows (fixed table, core.rs:23, 358-365),
    typed by the widening cascade.  An export without them reads with
    an empty schema, returned as is."""
    from ..operators.schema_infer import apply_inferred_types
    df = read_element(spark, xml_path, "ActivitySummary")
    return apply_inferred_types(df) if df.columns else df


#: every level an array, so a child seen once is a one-element array;
#: coordinates stay strings for the ANSI cast (malformed values raise)
_GPX_SCHEMA = ("trk ARRAY<STRUCT<trkseg: ARRAY<STRUCT<trkpt: "
               "ARRAY<STRUCT<_lat: STRING, _lon: STRING>>>>>>")


def read_gpx_routes(spark: SparkSession, routes_dir: str) -> DataFrame:
    """A11: GPX route files → one row per route with GeoJSON-shaped
    LineString geometry.

    Reference parses each file imperatively per workout row
    (core.rs:588-627, [lon, lat] pairs in document order, dropping
    ele/time/speed…).  Spark form: one map-only read of the route
    directory, one row per file (rowTag=gpx) with a declared schema, so
    no schema-discovery job runs; every trk → trkseg → trkpt level is
    flattened in document order.  A missing level adds no points, and a
    file with no points has no row (its workout keeps '{}')."""
    configure(spark)
    # FAILFAST: a malformed (e.g. truncated) file raises, naming the
    # file; the default mode would drop its route in silence
    gpx = (spark.read.format("xml").option("rowTag", "gpx")
           .option("mode", "FAILFAST").option("pathGlobFilter", "*.gpx")
           .schema(_GPX_SCHEMA).load(routes_dir))
    per_trk = F.transform("trk", lambda t: F.transform(
        t.trkseg, lambda s: F.transform(s.trkpt, lambda p: F.array(
            p._lon.cast("double"), p._lat.cast("double")))))
    # flatten is null if any part is: compact away the missing levels
    coordinates = F.flatten(F.array_compact(F.flatten(F.array_compact(per_trk))))
    # archive-relative path: '<...>/apple_health_export/workout-routes/x.gpx'
    # → '/workout-routes/x.gpx' (join key; reference core.rs:567-581)
    rel = F.regexp_extract("_metadata.file_path", r"apple_health_export(/.*)$", 1)
    return (gpx.filter(F.size(coordinates) > 0)
            .select(rel.alias("route_path"),
                    F.struct(F.lit("LineString").alias("type"),
                             coordinates.alias("coordinates")).alias("geometry")))


def read_workouts(spark: SparkSession, xml_path: str,
                  routes: DataFrame) -> DataFrame:
    """<Workout> rows with the reference's three synthesized columns
    (core.rs:639-650): workoutEvents JSON array, workoutStatistics JSON
    object keyed by statistic type, geometry GeoJSON LineString.

    Empty-children workouts keep '[]' / '{}' (reference quirk
    preserved, SURVEY.md §4.4-6); a missing route file leaves '{}'
    (reference hard-errors, core.rs:580-582 — we degrade gracefully
    and record the divergence here).  An export without <Workout>
    elements reads with an empty schema, returned as is: the class
    contributes no table."""
    from ..operators.schema_infer import (
        apply_inferred_types, column_votes)

    df = read_element(spark, xml_path, "Workout")
    if not df.columns:
        return df
    # raw child columns get __-prefixed temp names: Spark resolves
    # column names case-insensitively, so raw `WorkoutStatistics` would
    # collide with the synthesized `workoutStatistics`
    df = _metadata_as_map(df.withColumnsRenamed(
        {raw: f"__{raw}" for raw in ("WorkoutEvent", "WorkoutStatistics",
                                     "WorkoutRoute") if raw in df.columns}))
    # the vote sees the attribute and metadata columns only: the
    # synthesized JSON columns are TEXT and pass through untagged, and
    # voting them would read every GPX file and run the route join
    votes = column_votes(df)

    # --- workoutEvents: ordered JSON array (A7; core.rs:541-543) ---
    # every attribute passes through (no fixed list); values follow the
    # reference's f32-else-string JSON policy via _unquote_numeric_json
    if "__WorkoutEvent" in df.columns:
        df = _as_array(df, "__WorkoutEvent")
        ev_fields = sorted(f[1:] for f in _struct_fields(df, "__WorkoutEvent")
                           if f.startswith("_"))
        ev = F.transform(
            F.col("__WorkoutEvent"),
            lambda e: F.struct(*[e[f"_{f}"].cast("string").alias(f)
                                 for f in ev_fields]))
        df = df.withColumn("workoutEvents",
                           _unquote_numeric_json(F.to_json(ev)))
    else:
        df = df.withColumn("workoutEvents", F.lit("[]"))
    df = df.withColumn("workoutEvents",
                       F.coalesce("workoutEvents", F.lit("[]")))

    # --- workoutStatistics: JSON object keyed by type (A8; core.rs:544-548) ---
    if "__WorkoutStatistics" in df.columns:
        df = _as_array(df, "__WorkoutStatistics")
        st_fields = sorted(f[1:] for f in
                           _struct_fields(df, "__WorkoutStatistics")
                           if f.startswith("_"))
        st = F.map_from_entries(F.transform(
            F.col("__WorkoutStatistics"),
            lambda s: F.struct(
                s["_type"].alias("key"),
                F.struct(*[s[f"_{f}"].cast("string").alias(f)
                           for f in st_fields]).alias("value"))))
        df = df.withColumn("workoutStatistics",
                           _unquote_numeric_json(F.to_json(st)))
    else:
        df = df.withColumn("workoutStatistics", F.lit("{}"))
    df = df.withColumn("workoutStatistics",
                       F.coalesce("workoutStatistics", F.lit("{}")))

    # --- route path + geometry join (A10/A11; core.rs:556-633) ---
    if "__WorkoutRoute" in df.columns:
        df = _as_array(df, "__WorkoutRoute")
        df = df.withColumn(
            "route_path",
            F.try_element_at(F.col("__WorkoutRoute"),
                             F.lit(1))["FileReference"]["_path"])
    else:
        df = df.withColumn("route_path", F.lit(None).cast("string"))
    df = (df.join(F.broadcast(routes), "route_path", "left")
          .withColumn("geometry",
                      F.coalesce(F.to_json("geometry"), F.lit("{}"))))

    df = df.drop("__WorkoutEvent", "__WorkoutStatistics", "__WorkoutRoute")
    return apply_inferred_types(df, votes)


#: a complete quoted JSON *value* that is a valid JSON number literal;
#: anchored on the preceding ':' so keys never match.  Deliberately
#: excluded (documented edges, all forms the reference's f32 parse
#: accepts but whose verbatim unquoting would emit invalid or
#: misleading JSON): leading-zero strings ("0081" → reference 81.0),
#: bare-fraction forms (".5" / "5." → reference 0.5 / 5.0 — not valid
#: JSON number literals verbatim), and beyond-f32-range literals
#: ("1e39" → reference saturates to inf, unrepresentable in JSON).
#: All stay quoted strings here; HealthKit exports emit none of these
#: forms in practice.
_NUM_JSON_VALUE = r'":"(-?(?:0|[1-9][0-9]*)(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)"'


def _unquote_numeric_json(col: Column) -> Column:
    """Reference JSON policy (core.rs:476-495, f32-else-string): every
    element attribute becomes a JSON *number* when numeric, else a
    string.  Spark struct fields are single-typed, so a per-value
    number-else-string union can't be expressed in the struct itself;
    instead all values serialize as strings and numeric literals are
    unquoted in the JSON text — one JVM-side regexp_replace, map-only."""
    return F.regexp_replace(col, _NUM_JSON_VALUE, '":$1')


def _struct_fields(df: DataFrame, col: str) -> set[str]:
    dt = df.schema[col].dataType
    if isinstance(dt, T.ArrayType):
        dt = dt.elementType
    return {f.name for f in dt.fields} if isinstance(dt, T.StructType) else set()


def record_tables_onepass(records: DataFrame) -> dict[str, DataFrame]:
    """A4 fan-out with schema votes for ALL types in ONE aggregate:
    ``infer_column_types`` grouped by ``type`` (one scan) gives each
    (type, column) its tag and non-null count, and the metadata keys
    with them.  All-null columns are pruned per type (core.rs:216-227);
    each table is one ``select_typed`` of ``type``, the string columns
    in schema order, then the metadata columns in key order."""
    from ..operators.schema_infer import (
        infer_column_types, long_form, metadata_keys_among, select_typed)

    votes: dict[str, dict[str, str]] = {}
    for r in infer_column_types(long_form(records, "type"), "type").collect():
        tags = votes.setdefault(r["type"], {})
        if r["nonnull"]:
            tags[r["col_name"]] = r["inferred_type"]
    str_cols = [f.name for f in records.schema.fields
                if isinstance(f.dataType, T.StringType) and f.name != "type"]
    out: dict[str, DataFrame] = {}
    for t, tags in sorted(votes.items()):
        out[t] = select_typed(records.filter(F.col("type") == t),
                              ["type", *[c for c in str_cols if c in tags]],
                              metadata_keys_among(tags, str_cols), tags)
    return out


def convert(spark: SparkSession, zip_path: str,
            staging_dir: str) -> dict[str, DataFrame]:
    """E1 end-to-end (reference main.rs:88 → core.rs:42-76): stage the
    zip, read all element classes, synthesize nested columns, and
    return the logical table catalog {table_name: DataFrame} — the
    Spark analog of the converted SQLite database.  An element class
    the export does not contain contributes no table (the reference's
    tables come from its pass-1 schema map, which holds only classes it
    saw; SURVEY.md §1.3); the XML reader's empty schema says so without
    an extra job.

    Staging (``stage_zip``) leaves exactly three inputs: the Record
    chunk dir and the two rare-class side files; every element class
    is read from its own input, never from the whole export.xml.

    The parsed Record relation is materialized to staging parquet
    before the table-per-type fan-out.  The fan-out makes a schema
    vote pass plus one output pass per type; without staging each
    pass re-parses the XML — columnar staging turns them into pruned
    parquet scans.  Exactly the reference's two-pass design rationale
    (core.rs:52-73), except pass 1 leaves behind a columnar artifact
    instead of being pure overhead (SCALE.md: the load-bearing
    choice).

    The three element-class pipelines (workouts+routes / summaries /
    records) are independent, but each fires small BLOCKING driver
    jobs (XML structure discovery, then one schema vote that also
    finds the metadata keys) whose fixed latency — not data volume —
    dominates the rare classes.  The GPX routes are read with a
    declared schema, so they run no discovery job; their map-only read
    and broadcast join first run when the Workout table does.  The
    pipelines run on three threads so the
    Spark scheduler interleaves those jobs instead of serializing
    back-to-back round-trips (same-JVM A/B at 400k records incl. forcing all 6
    tables: 7.5→3.7s first run, 4.7→2.8s repeat; identical outputs —
    threads only submit jobs)."""
    from concurrent.futures import ThreadPoolExecutor

    # two Record chunks per task slot of the session
    staged = stage_zip(zip_path, staging_dir,
                       2 * spark.sparkContext.defaultParallelism)

    # rare classes read from their small side files (a rowTag read
    # scans its whole input; don't make it the full archive)
    def _workouts() -> DataFrame:
        routes = read_gpx_routes(spark, staged.routes_dir)
        return read_workouts(spark, staged.workouts_xml, routes)

    def _summaries() -> DataFrame:
        return read_activity_summaries(spark, staged.summaries_xml)

    # records read from the boundary-safe chunk dir → one parse task
    # per chunk (a single export.xml would parse on one task)
    def _records() -> dict[str, DataFrame]:
        records = read_records(spark, staged.records_dir)
        if not records.columns:
            return {}
        # NB: no leading underscore — Spark's file index hides _* paths
        staged_records = os.path.join(staging_dir, "records-staged.parquet")
        records.write.mode("overwrite").parquet(staged_records)
        return record_tables_onepass(spark.read.parquet(staged_records))

    out: dict[str, DataFrame] = {}
    with ThreadPoolExecutor(max_workers=3) as ex:
        fw = ex.submit(_workouts)
        fs = ex.submit(_summaries)
        fr = ex.submit(_records)
        for name, df in (("Workout", fw.result()),
                         ("ActivitySummary", fs.result())):
            if df.columns:
                out[name] = df
        out.update(fr.result())
    return out
