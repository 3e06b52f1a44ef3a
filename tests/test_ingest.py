"""Ingest-parity tests: the fixture-zip golden assertions from
FIXTURES.md §A.3 — the real-assertion version of the reference's
CI smoke run (SURVEY.md §5.1: exit-code-only)."""

from __future__ import annotations

import json
import sqlite3
import zipfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F


def test_table_set(hk_tables):
    assert set(hk_tables) == {
        "Workout", "ActivitySummary",
        "HKQuantityTypeIdentifierWalkingSpeed",
        "HKQuantityTypeIdentifierStepCount"}


def test_activity_summary(hk_tables):
    df = hk_tables["ActivitySummary"]
    assert df.count() == 10
    types = dict(df.dtypes)
    assert types["dateComponents"] == "date"
    assert types["activeEnergyBurned"] == "double"
    assert types["activeEnergyBurnedGoal"] == "bigint"
    assert df.agg(F.sum("appleExerciseTime")).collect()[0][0] == sum(range(30, 40))


def test_record_typing_and_metadata(hk_tables):
    ws = hk_tables["HKQuantityTypeIdentifierWalkingSpeed"]
    assert ws.count() == 3
    types = dict(ws.dtypes)
    assert types["value"] == "double"
    assert types["creationDate"].startswith("timestamp")
    # metadata key with a space survives as a column (reference
    # backtick-quotes such identifiers, core.rs:78-83)
    assert "metadata_Test Entry" in ws.columns
    assert ws.select("metadata_Test Entry").distinct().collect()[0][0] == "FooBar"

    sc = hk_tables["HKQuantityTypeIdentifierStepCount"]
    assert sc.count() == 2
    # integer-valued record column widens to bigint, not double
    assert dict(sc.dtypes)["value"] == "bigint"


def test_workout_nested_columns(hk_tables):
    w = hk_tables["Workout"].orderBy("workoutActivityType")
    rows = {r["workoutActivityType"]: r for r in w.collect()}
    run = rows["HKWorkoutActivityTypeRunning"]

    events = json.loads(run["workoutEvents"])
    assert len(events) == 4
    assert events[0]["type"] == "HKWorkoutEventTypeSegment"
    assert events[0]["duration"] == 8.1
    # order preserved (document order by date)
    assert [e["type"] for e in events][1] == "HKWorkoutEventTypePause"

    stats = json.loads(run["workoutStatistics"])
    assert set(stats) == {
        "HKQuantityTypeIdentifierHeartRate",
        "HKQuantityTypeIdentifierActiveEnergyBurned",
        "HKQuantityTypeIdentifierDistanceWalkingRunning"}
    # numeric attrs are JSON numbers, not strings (the reference's
    # f32-else-string policy, core.rs:487-491); text attrs stay strings
    hr = stats["HKQuantityTypeIdentifierHeartRate"]
    assert hr["average"] == 149 and isinstance(hr["average"], (int, float))
    assert isinstance(hr["unit"], str)
    dist = stats["HKQuantityTypeIdentifierDistanceWalkingRunning"]
    assert dist["sum"] == 2.235 and isinstance(dist["sum"], float)

    geom = json.loads(run["geometry"])
    assert geom["type"] == "LineString"
    assert len(geom["coordinates"]) == 644
    # [lon, lat] ordering (reference core.rs:612-615), first point first
    lon, lat = geom["coordinates"][0]
    assert lon == pytest.approx(-118.495, abs=1e-5)
    assert lat == pytest.approx(34.011, abs=1e-5)
    # monotone along the route
    assert geom["coordinates"][-1][1] > lat


def test_workout_duplicate_metadata_last_wins(hk_tables):
    run = hk_tables["Workout"].filter(
        F.col("workoutActivityType") == "HKWorkoutActivityTypeRunning").collect()[0]
    # fixture repeats HKIndoorWorkout with 0 then 1 → LAST_WIN keeps 1
    assert run["metadata_HKIndoorWorkout"] == 1
    # mixed-unit text stays TEXT
    assert run["metadata_HKAverageMETs"] == "4.30455 kcal/hr·kg"


def test_bare_workout_empty_json(hk_tables):
    yoga = hk_tables["Workout"].filter(
        F.col("workoutActivityType") == "HKWorkoutActivityTypeYoga").collect()[0]
    # reference writes [] / {} for absent children (core.rs:639-650)
    assert yoga["workoutEvents"] == "[]"
    assert yoga["workoutStatistics"] == "{}"
    assert yoga["geometry"] == "{}"
    assert yoga["route_path"] is None


def test_sqlite_sink_roundtrip(hk_tables, tmp_path):
    from healthkit_to_sqlite_spark.sinks.database import write_sqlite
    db = str(tmp_path / "healthkit.db")
    write_sqlite(hk_tables, db)
    con = sqlite3.connect(db)
    tables = {r[0] for r in con.execute(
        "SELECT name FROM sqlite_master WHERE type='table'")}
    assert tables == set(hk_tables)
    n = con.execute('SELECT COUNT(*) FROM "ActivitySummary"').fetchone()[0]
    assert n == 10
    # the README's flagship query shape runs against our output
    # (reference README.md:33-46)
    total = con.execute(
        "SELECT SUM(duration)/60 FROM `Workout` "
        "WHERE creationDate BETWEEN '2020-01-01' AND '2021-01-01'").fetchone()[0]
    assert total == pytest.approx((23.59 + 30.0) / 60)
    geom = con.execute(
        "SELECT json_extract(geometry, '$.type') FROM `Workout` "
        "WHERE workoutActivityType='HKWorkoutActivityTypeRunning'").fetchone()[0]
    assert geom == "LineString"
    con.close()


def test_reference_readme_queries_on_sqlite_output(hk_tables, tmp_path):
    """Run the reference README's own example SQL (README.md:33-65)
    verbatim-shape against OUR converted SQLite file — the literal
    'switch engines, keep your queries' guarantee.  Dates adapted to
    the fixture's February 2020 workout."""
    from healthkit_to_sqlite_spark.sinks.database import write_sqlite

    db = str(tmp_path / "healthkit.db")
    write_sqlite(hk_tables, db)
    con = sqlite3.connect(db)

    # README.md:33-46 — total duration over a date range + activity OR
    total_duration = con.execute("""
        select sum(duration) / 60 as total_duration
        from workout
        where (creationDate between '2020-02-01' and '2020-02-29')
          and (workoutActivityType = 'HKWorkoutActivityTypeWalking' or
               workoutActivityType = 'HKWorkoutActivityTypeRunning' or
               workoutActivityType = 'HKWorkoutActivityTypeHiking')
    """).fetchone()[0]
    assert abs(total_duration - 23.59 / 60) < 1e-9

    # README.md:51-65 — SUM over json_extract into workoutStatistics
    total_miles = con.execute("""
        select sum(json_extract(workoutStatistics,
                   '$.HKQuantityTypeIdentifierDistanceWalkingRunning.sum'))
               as total_distance_miles
        from workout
        where (creationDate between '2020-02-01' and '2020-02-29')
    """).fetchone()[0]
    assert abs(total_miles - 2.235) < 1e-9
    con.close()


def test_cli_end_to_end(hk_zip, tmp_path):
    """The reference CLI surface (main.rs:12-29) end to end:
    python -m healthkit_to_sqlite_spark <zip> sqlite://<db> --drop
    --yes --quiet, then open the database as a Datasette user would."""
    import subprocess
    import sys as _sys

    db = str(tmp_path / "cli_out.db")
    proc = subprocess.run(
        [_sys.executable, "-m", "healthkit_to_sqlite_spark",
         str(hk_zip), f"sqlite://{db}", "--drop", "--yes", "--quiet"],
        cwd=Path(__file__).parents[1], capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    con = sqlite3.connect(db)
    tables = {r[0] for r in con.execute(
        "select name from sqlite_master where type='table'")}
    assert {"Workout", "ActivitySummary"} <= tables
    assert any(t.startswith("HK") for t in tables)
    n = con.execute('select count(*) from "Workout"').fetchone()[0]
    assert n == 2
    con.close()


def test_offset_timestamps_keep_local_wall_clock(spark):
    """HealthKit datetimes carry explicit offsets; the reference stores
    the original text, so its README date-range queries compare LOCAL
    time (core.rs:199-200).  A plain cast would rebase a device-local
    23:30 -0800 to next-day 07:30 UTC and flip day-boundary queries;
    the cascade must keep the wall-clock instead."""
    from healthkit_to_sqlite_spark.operators.schema_infer import (
        apply_inferred_types)
    df = spark.createDataFrame(
        [("2020-03-01 23:30:00 -0800",), ("2020-03-02 01:00:00 +0100",)],
        "creationDate string")
    out = apply_inferred_types(df)
    assert dict(out.dtypes)["creationDate"] == "timestamp_ntz"
    vals = sorted(r[0].isoformat(sep=" ") for r in out.collect())
    assert vals == ["2020-03-01 23:30:00", "2020-03-02 01:00:00"]


def _export_zip(tmp_path, xml: str) -> str:
    """An export.zip holding just ``xml`` as its export.xml."""
    zp = tmp_path / "export.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("apple_health_export/export.xml", xml)
    return str(zp)


def _record(i: int) -> str:
    return (f'<Record type="HKQuantityTypeIdentifierStepCount" id="r{i}" '
            f'value="{i}" startDate="2022-12-16 08:00:00 -0800"/>')


def test_stage_carves_every_rare_element_once_in_document_order(tmp_path):
    """Staging is one pass that cuts Record chunks and carves the rare
    classes out of every segment between cuts: an ActivitySummary in
    the preamble, a Workout inside an early chunk, a Workout with a
    1 MiB attribute between Records, and a self-closing Workout whose
    quoted value holds '>' and '/' right before a second Workout.  Each
    lands in its side file exactly once, in document order; the chunks
    hold every Record exactly once."""
    import xml.etree.ElementTree as ET
    from healthkit_to_sqlite_spark.sources.healthkit import stage_zip

    n = 24_000
    s0 = '<ActivitySummary id="s0" dateComponents="2020-01-01"/>'
    wa = '<Workout id="wa" workoutActivityType="C"/>'
    w0 = f'<Workout id="w0" note="{"x" * (1 << 20)}"></Workout>'
    w1 = '<Workout id="w1" device="a>b/" workoutActivityType="A"/>'
    w2 = ('<Workout id="w2" workoutActivityType="B">'
          '<WorkoutEvent type="E"/></Workout>')
    s1 = '<ActivitySummary id="s1" dateComponents="2020-01-02"/>'
    body = ([s0] + [_record(i) for i in range(n // 2)] + [wa]
            + [_record(i) for i in range(n // 2, n - 100)] + [w0]
            + [_record(i) for i in range(n - 100, n)] + [w1, w2, s1])
    xml = ('<?xml version="1.0" encoding="UTF-8"?>\n'
           '<HealthData locale="en_US">\n' + "\n".join(body)
           + "\n</HealthData>\n")
    assert len(xml) > 2 << 20
    staged = stage_zip(_export_zip(tmp_path, xml), str(tmp_path / "staging"), 8)

    def side(*els: str) -> str:
        return "<HealthData>\n" + "".join(e + "\n" for e in els) + "</HealthData>\n"

    assert Path(staged.workouts_xml).read_text() == side(wa, w0, w1, w2)
    assert Path(staged.summaries_xml).read_text() == side(s0, s1)

    chunks = sorted(Path(staged.records_dir).iterdir())
    assert len(chunks) >= 3
    assert 'id="wa"' in chunks[1].read_text()  # carved from a middle chunk
    ids = [r.get("id") for c in chunks
           for r in ET.parse(c).getroot().findall("Record")]
    assert ids == [f"r{i}" for i in range(n)]


def test_stage_cuts_after_a_window_filling_element(tmp_path):
    """A 1 MiB Workout fills a whole 1 MiB cut window: the cut falls at
    the first Record after it, so the Records behind it still spread
    over chunks instead of all landing in the tail chunk."""
    import xml.etree.ElementTree as ET
    from healthkit_to_sqlite_spark.sources.healthkit import stage_zip

    n = 18_000
    w0 = f'<Workout id="w0" note="{"x" * (1 << 20)}"></Workout>'
    body = ([_record(i) for i in range(n // 2)] + [w0]
            + [_record(i) for i in range(n // 2, n)])
    xml = ('<?xml version="1.0" encoding="UTF-8"?>\n'
           '<HealthData locale="en_US">\n' + "\n".join(body)
           + "\n</HealthData>\n")
    # the Records before the Workout fit in one window, so the window
    # after the first cut holds one Record start, at its very beginning
    assert len("\n".join(body[:n // 2])) < 1 << 20
    assert 3_000_000 < len(xml) < 16 << 20  # one 16 MiB read
    # 8 chunks → a 1 MiB target window
    staged = stage_zip(_export_zip(tmp_path, xml), str(tmp_path / "staging"), 8)

    assert Path(staged.workouts_xml).read_text() == (
        "<HealthData>\n" + w0 + "\n</HealthData>\n")
    chunks = sorted(Path(staged.records_dir).iterdir())
    assert len(chunks) >= 3
    ids = [r.get("id") for c in chunks
           for r in ET.parse(c).getroot().findall("Record")]
    assert ids == [f"r{i}" for i in range(n)]


def test_stage_unclosed_rare_element_raises(tmp_path):
    """A Workout that never closes is not carved: the open-tag census
    raises, naming the class, instead of dropping the element."""
    from healthkit_to_sqlite_spark.sources.healthkit import stage_zip

    xml = ("<HealthData>\n" + _record(0) + "\n"
           '<Workout workoutActivityType="A"><WorkoutEvent type="E"/>\n'
           "</HealthData>\n")
    with pytest.raises(ValueError, match="Workout"):
        stage_zip(_export_zip(tmp_path, xml), str(tmp_path / "staging"), 8)


def test_stage_fixture_zip_is_one_chunk_read_like_export_xml(
        spark, hk_zip, tmp_path):
    """An export under 2 MiB stages to one chunk, and the Record read of
    that chunk gives the rows a read of export.xml gives."""
    from healthkit_to_sqlite_spark.sources.healthkit import (
        read_records, stage_zip)

    staged = stage_zip(hk_zip, str(tmp_path / "staging"), 8)
    assert sorted(p.name for p in Path(staged.records_dir).iterdir()) == [
        "records-00000.xml"]

    def rows(path: str):
        df = read_records(spark, path)
        return sorted(df.columns), sorted(
            df.select(sorted(df.columns)).collect(), key=repr)

    chunk_rows = rows(staged.records_dir)
    assert len(chunk_rows[1]) == 5
    assert chunk_rows == rows(staged.export_xml)


def test_read_records_unescapes_attribute_entities(spark, tmp_path):
    from healthkit_to_sqlite_spark.sources.healthkit import read_records
    p = tmp_path / "ent.xml"
    p.write_text('<HealthData><Record type="T" value="a &amp; b '
                 '&lt;c&gt; &quot;d&quot;"/></HealthData>')
    row = read_records(spark, str(p)).collect()[0]
    assert row["value"] == 'a & b <c> "d"'


def test_read_records_gt_in_attribute_value_and_numeric_refs(spark, tmp_path):
    """'>' is legal inside attribute values (HealthKit device strings)
    and numeric character references must resolve."""
    from healthkit_to_sqlite_spark.sources.healthkit import read_records
    p = tmp_path / "dev.xml"
    p.write_text(
        '<HealthData>'
        '<Record type="A" device="&lt;&lt;HKDevice: 0x283&gt;, name:W>x" '
        'value="1"/>'
        '<Record type="B" value="line&#10;break &#x2019;q&#8217;"/>'
        '<Record type="C" value="3"><MetadataEntry key="k" value="v>w"/>'
        '</Record>'
        '</HealthData>')
    rows = {r["type"]: r for r in read_records(spark, str(p)).collect()}
    assert len(rows) == 3                       # nothing dropped/merged
    assert rows["A"]["device"] == "<<HKDevice: 0x283>, name:W>x"
    assert rows["B"]["value"] == "line\nbreak ’q’"
    assert rows["C"]["MetadataEntry"] == {"k": "v>w"}


def _body_zip(tmp_path, body: str, with_route: bool) -> str:
    """An export.zip whose export.xml holds ``body``, plus the fixture
    GPX route when ``with_route``."""
    from tests import hk_fixture as fx

    zp = tmp_path / "export.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("apple_health_export/export.xml",
                    '<?xml version="1.0" encoding="UTF-8"?>\n'
                    '<HealthData locale="en_US">\n' + body
                    + "\n</HealthData>\n")
        if with_route:
            zf.writestr("apple_health_export" + fx.ROUTE_PATH, fx.route_gpx())
    return str(zp)


def _cli_db(spark, monkeypatch, tmp_path, zip_path: str) -> sqlite3.Connection:
    """Run the CLI's ``main()`` in-process (on the test session) over
    ``zip_path``; return a connection to the .db it wrote."""
    import healthkit_to_sqlite_spark.session as sess
    from healthkit_to_sqlite_spark.__main__ import main

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    db = tmp_path / "out.db"
    assert main([zip_path, f"sqlite://{db}"]) == 0
    return sqlite3.connect(db)


def _cli_tables(spark, monkeypatch, tmp_path, body: str,
                with_route: bool) -> dict[str, int]:
    """The CLI's .db for an export of ``body``: {table: row count}."""
    con = _cli_db(spark, monkeypatch, tmp_path,
                  _body_zip(tmp_path, body, with_route))
    try:
        names = [r[0] for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type='table'")]
        return {n: con.execute(f'SELECT COUNT(*) FROM "{n}"').fetchone()[0]
                for n in names}
    finally:
        con.close()


def _cli_ddl(spark, monkeypatch, tmp_path, zip_path: str) -> list[str]:
    con = _cli_db(spark, monkeypatch, tmp_path, zip_path)
    try:
        return [r[0] for r in con.execute("SELECT sql FROM sqlite_master")]
    finally:
        con.close()


def test_cli_ddl_of_fixture_zip(spark, monkeypatch, hk_zip, tmp_path):
    """Every table's columns, in order, with their declared types:
    reader columns in schema order, then the sorted metadata columns;
    Record tables lead with ``type``."""
    assert _cli_ddl(spark, monkeypatch, tmp_path, hk_zip) == [
        "CREATE TABLE `Workout` (`route_path` TEXT, `creationDate` DATE, "
        "`duration` REAL, `durationUnit` TEXT, `endDate` DATE, "
        "`sourceName` TEXT, `sourceVersion` TEXT, `startDate` DATE, "
        "`totalDistance` REAL, `totalDistanceUnit` TEXT, "
        "`totalEnergyBurned` REAL, `totalEnergyBurnedUnit` TEXT, "
        "`workoutActivityType` TEXT, `workoutEvents` TEXT, "
        "`workoutStatistics` TEXT, `geometry` TEXT, "
        "`metadata_HKAverageMETs` TEXT, `metadata_HKElevationAscended` TEXT, "
        "`metadata_HKIndoorWorkout` INTEGER, `metadata_HKTimeZone` TEXT)",
        "CREATE TABLE `ActivitySummary` (`activeEnergyBurned` REAL, "
        "`activeEnergyBurnedGoal` INTEGER, `activeEnergyBurnedUnit` TEXT, "
        "`appleExerciseTime` INTEGER, `appleExerciseTimeGoal` INTEGER, "
        "`appleStandHours` INTEGER, `appleStandHoursGoal` INTEGER, "
        "`dateComponents` DATE)",
        "CREATE TABLE `HKQuantityTypeIdentifierStepCount` (`type` TEXT, "
        "`creationDate` DATE, `endDate` DATE, `sourceName` TEXT, "
        "`startDate` DATE, `unit` TEXT, `value` INTEGER)",
        "CREATE TABLE `HKQuantityTypeIdentifierWalkingSpeed` (`type` TEXT, "
        "`creationDate` DATE, `endDate` DATE, `sourceName` TEXT, "
        "`sourceVersion` TEXT, `startDate` DATE, `unit` TEXT, `value` REAL, "
        "`metadata_Test Entry` TEXT)",
    ]


def test_cli_values_of_fixture_zip(spark, monkeypatch, hk_zip, tmp_path):
    """The stored text of a DATE column (ActivitySummary) and of a
    Record table's three TIMESTAMP_NTZ columns, as the CLI writes them
    for the fixture zip, pinned line by line."""
    con = _cli_db(spark, monkeypatch, tmp_path, hk_zip)
    try:
        dump = list(con.iterdump())
    finally:
        con.close()
    summaries = [line for line in dump
                 if line.startswith('INSERT INTO "ActivitySummary"')]
    assert summaries == [
        f'INSERT INTO "ActivitySummary" VALUES({300 + i}.25,400,\'Cal\','
        f"{30 + i},30,{10 + i % 3},12,'2020-02-{15 + i}');" for i in range(10)]
    speed = 'INSERT INTO "HKQuantityTypeIdentifierWalkingSpeed"'
    assert [line for line in dump if line.startswith(speed)] == [
        f"{speed} VALUES('HKQuantityTypeIdentifierWalkingSpeed',"
        f"'2022-12-15 18:0{i}:02','2022-12-15 17:59:0{i}','Phone','16.1.2',"
        f"'2022-12-15 17:58:5{i}','mi/hr',{v},'FooBar');"
        for i, v in enumerate(("2.95276", "3.1", "2.5"))]


def test_cli_ddl_of_per_type_columns(spark, monkeypatch, tmp_path):
    """Per-table column sets from the one vote: a metadata key carried
    by one Record type only; ``value`` INTEGER in one type and REAL in
    the other; ``device`` on one type only, pruned from the other; and
    a key-only MetadataEntry, which is a TEXT column on Workout (no
    pruning there) but no column on the Record table that carries it
    without a value."""
    body = "\n".join([
        '<Record type="HKQuantityTypeIdentifierStepCount" sourceName="Phone" '
        'device="iPhone" value="12" startDate="2023-01-01 08:00:00 -0800">'
        '<MetadataEntry key="HKOnlySteps" value="7"/>'
        '<MetadataEntry key="HKShared" value="a"/></Record>',
        '<Record type="HKQuantityTypeIdentifierStepCount" sourceName="Phone" '
        'value="30" startDate="2023-01-01 09:00:00 -0800"/>',
        '<Record type="HKQuantityTypeIdentifierHeartRate" sourceName="Watch" '
        'value="61.5" startDate="2023-01-01 08:00:00 -0800">'
        '<MetadataEntry key="HKShared" value="b"/>'
        '<MetadataEntry key="HKNoValue"/></Record>',
        '<Record type="HKQuantityTypeIdentifierHeartRate" sourceName="Watch" '
        'value="72" startDate="2023-01-02 08:00:00 -0800"/>',
        '<Workout workoutActivityType="HKWorkoutActivityTypeWalking" '
        'duration="12.5" startDate="2023-01-01 07:00:00 -0800">'
        '<MetadataEntry key="HKNoValue"/>'
        '<MetadataEntry key="HKIndoorWorkout" value="0"/></Workout>',
    ])
    zp = _body_zip(tmp_path, body, with_route=False)
    assert _cli_ddl(spark, monkeypatch, tmp_path, zp) == [
        "CREATE TABLE `Workout` (`route_path` TEXT, `duration` REAL, "
        "`startDate` DATE, `workoutActivityType` TEXT, `workoutEvents` TEXT, "
        "`workoutStatistics` TEXT, `geometry` TEXT, "
        "`metadata_HKIndoorWorkout` INTEGER, `metadata_HKNoValue` TEXT)",
        "CREATE TABLE `HKQuantityTypeIdentifierHeartRate` (`type` TEXT, "
        "`sourceName` TEXT, `startDate` DATE, `value` REAL, "
        "`metadata_HKShared` TEXT)",
        "CREATE TABLE `HKQuantityTypeIdentifierStepCount` (`type` TEXT, "
        "`device` TEXT, `sourceName` TEXT, `startDate` DATE, "
        "`value` INTEGER, `metadata_HKOnlySteps` INTEGER, "
        "`metadata_HKShared` TEXT)",
    ]


def test_convert_job_count_on_fixture_zip(spark, hk_zip, tmp_path):
    """``convert`` submits a fixed number of Spark jobs on the fixture:
    per element class, XML structure discovery and one schema vote that
    also finds the metadata keys, plus the staged Record parquet write:
    11 jobs.  The GPX route read has a declared schema and runs no
    discovery job.  A separate metadata-key census (6 more jobs on this
    fixture), a Workout vote that runs the route read and its broadcast
    join, a route discovery job, or a re-parse of export.xml shows up
    here."""
    from healthkit_to_sqlite_spark.sources.healthkit import convert
    from tests.test_sqlite_sink import _jobs_submitted

    sc = spark.sparkContext
    before = _jobs_submitted(sc)
    convert(spark, hk_zip, str(tmp_path / "staging"))
    assert _jobs_submitted(sc) - before == 11


#: two tracks, the first with two segments around an empty one, point
#: times decreasing: document order and time order are opposite
_MULTI_TRACK_GPX = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<gpx version="1.1" creator="Apple Health Export" '
    'xmlns="http://www.topografix.com/GPX/1/1"><trk><name>A</name><trkseg>'
    '<trkpt lat="1.5" lon="10.5"><ele>3.0</ele>'
    '<time>2020-02-24T18:00:05Z</time></trkpt>'
    '<trkpt lat="2.5" lon="20.5"><time>2020-02-24T18:00:04Z</time></trkpt>'
    '</trkseg><trkseg></trkseg><trkseg>'
    '<trkpt lat="3.5" lon="30.5"><time>2020-02-24T18:00:03Z</time></trkpt>'
    '</trkseg></trk><trk><trkseg>'
    '<trkpt lat="4.5" lon="40.5"><time>2020-02-24T18:00:02Z</time></trkpt>'
    '<trkpt lat="5.5" lon="50.5"><time>2020-02-24T18:00:01Z</time></trkpt>'
    '</trkseg></trk></gpx>')
_POINTLESS_GPX = ('<?xml version="1.0" encoding="UTF-8"?>\n'
                  '<gpx version="1.1"><trk><trkseg></trkseg></trk></gpx>')


@pytest.fixture(scope="module")
def route_workouts(spark, tmp_path_factory):
    """Workout rows by activity type, converted from an export whose two
    Workouts reference ``_MULTI_TRACK_GPX`` and ``_POINTLESS_GPX``."""
    from healthkit_to_sqlite_spark.sources.healthkit import convert

    def workout(kind: str, route: str) -> str:
        return (f'<Workout workoutActivityType="{kind}" duration="1.0">'
                f'<WorkoutRoute><FileReference path="{route}"/>'
                '</WorkoutRoute></Workout>')

    d = tmp_path_factory.mktemp("routes")
    zp = d / "export.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("apple_health_export/export.xml",
                    '<?xml version="1.0" encoding="UTF-8"?>\n<HealthData>\n'
                    + workout("Multi", "/workout-routes/multi.gpx")
                    + workout("Pointless", "/workout-routes/pointless.gpx")
                    + "\n</HealthData>\n")
        zf.writestr("apple_health_export/workout-routes/multi.gpx",
                    _MULTI_TRACK_GPX)
        zf.writestr("apple_health_export/workout-routes/pointless.gpx",
                    _POINTLESS_GPX)
    tables = convert(spark, str(zp), str(d / "staging"))
    return {r["workoutActivityType"]: r for r in tables["Workout"].collect()}


def test_route_geometry_in_document_order(route_workouts):
    """Every point of every segment of every track, in document order
    (core.rs:594-616), whatever the point times say; an empty segment
    adds nothing."""
    geom = json.loads(route_workouts["Multi"]["geometry"])
    assert geom == {"type": "LineString", "coordinates": [
        [10.5, 1.5], [20.5, 2.5], [30.5, 3.5], [40.5, 4.5], [50.5, 5.5]]}


def test_route_without_points_keeps_empty_geometry(route_workouts):
    row = route_workouts["Pointless"]
    assert row["route_path"] == "/workout-routes/pointless.gpx"
    assert row["geometry"] == "{}"


def test_truncated_route_file_raises(spark, tmp_path):
    """A GPX file cut off mid-element fails the read, naming the file,
    instead of losing its route, or part of it, in silence."""
    from healthkit_to_sqlite_spark.sources.healthkit import read_gpx_routes

    routes = tmp_path / "workout-routes"
    routes.mkdir()
    (routes / "cut.gpx").write_text(_MULTI_TRACK_GPX[:300])
    with pytest.raises(Exception, match=r"(?s)FAILED_READ_FILE.*cut\.gpx"):
        read_gpx_routes(spark, str(routes)).collect()


def test_cli_drop_replaces_only_after_conversion(
        spark, monkeypatch, hk_zip, tmp_path):
    """An existing .db: without --drop the CLI refuses and leaves it as
    it was; with --drop --yes it is replaced, stale tables and all; and
    a conversion that fails leaves the old file in place."""
    import healthkit_to_sqlite_spark.session as sess
    import healthkit_to_sqlite_spark.sources.healthkit as hk
    from healthkit_to_sqlite_spark.__main__ import main

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    db = tmp_path / "old.db"
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE stale (x INTEGER)")
    con.commit()
    con.close()
    old = db.read_bytes()

    assert main([hk_zip, f"sqlite://{db}"]) == 1
    assert db.read_bytes() == old

    def fail(*a, **k):
        raise RuntimeError("conversion failed")

    with monkeypatch.context() as m:
        m.setattr(hk, "convert", fail)
        with pytest.raises(RuntimeError, match="conversion failed"):
            main([hk_zip, f"sqlite://{db}", "--drop", "--yes"])
    assert db.read_bytes() == old

    assert main([hk_zip, f"sqlite://{db}", "--drop", "--yes"]) == 0
    con = sqlite3.connect(db)
    try:
        tables = {r[0] for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type='table'")}
    finally:
        con.close()
    assert "stale" not in tables and "Workout" in tables


def test_cli_recordless_export_has_no_record_tables(
        spark, monkeypatch, tmp_path):
    """An element class the export does not contain contributes no
    table: Workouts and ActivitySummaries only → exactly those two."""
    from tests import hk_fixture as fx
    tables = _cli_tables(spark, monkeypatch, tmp_path,
                         fx._workout_xml() + "\n" + fx._summaries_xml(),
                         with_route=True)
    assert tables == {"Workout": 2, "ActivitySummary": 10}


def test_cli_records_only_export_has_only_record_tables(
        spark, monkeypatch, tmp_path):
    """Records only → one table per Record type, and no empty Workout
    or zero-column ActivitySummary table."""
    from tests import hk_fixture as fx
    tables = _cli_tables(spark, monkeypatch, tmp_path, fx._records_xml(),
                         with_route=False)
    assert tables == {"HKQuantityTypeIdentifierWalkingSpeed": 3,
                      "HKQuantityTypeIdentifierStepCount": 2}
