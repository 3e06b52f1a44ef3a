"""Seeded HealthKit export.zip generator for the two ingest workloads.

``export_large`` is the row-volume shape: a few Record types (INTEGER-
and REAL-valued) with MetadataEntry children on a share of the rows,
plus the canonical Workout / GPX route / ActivitySummary fixture from
``tests/hk_fixture.py``.  ``export_many_types`` is shaped like a real
phone export: many Record types, many distinct metadata keys, and
Workouts with events, statistics and metadata, each with its own GPX
route file.

Every generator returns the zip path plus an ``expect`` manifest that
the benchmark checks the converted ``.db`` against: table set, per-table
row counts, declared SQLite column types and per-route ``trkpt`` counts.
The same seed always gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import zipfile

ROOT = "apple_health_export"
#: offset suffixes carried by generated datetimes; the converter keeps
#: the local wall clock and drops the offset
OFFSETS = ("-0800", "-0700", "-0500", "+0000", "+0100", "+0530")
BASE = dt.datetime(2019, 1, 1, 6, 0, 0)

#: (type, unit, value kind) for export_large — value kind decides the
#: declared column type of ``value`` in the .db
LARGE_TYPES = (
    ("HKQuantityTypeIdentifierStepCount", "count", "INTEGER"),
    ("HKQuantityTypeIdentifierHeartRate", "count/min", "INTEGER"),
    ("HKQuantityTypeIdentifierFlightsClimbed", "count", "INTEGER"),
    ("HKQuantityTypeIdentifierDistanceWalkingRunning", "mi", "REAL"),
    ("HKQuantityTypeIdentifierActiveEnergyBurned", "Cal", "REAL"),
    ("HKQuantityTypeIdentifierWalkingSpeed", "mi/hr", "REAL"),
)

_WORKOUT_KINDS = ("Running", "Walking", "Cycling", "Hiking", "Swimming",
                  "Yoga", "TraditionalStrengthTraining", "Rowing")
_STAT_TYPES = ("HKQuantityTypeIdentifierHeartRate",
               "HKQuantityTypeIdentifierActiveEnergyBurned",
               "HKQuantityTypeIdentifierDistanceWalkingRunning",
               "HKQuantityTypeIdentifierBasalEnergyBurned")


def _ts(t: dt.datetime, rng: random.Random) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S ") + rng.choice(OFFSETS)


def _value(kind: str, rng: random.Random) -> str:
    if kind == "INTEGER":
        return str(rng.randint(1, 5000))
    # always a fractional literal, so the column widens to REAL
    return f"{rng.uniform(0.01, 900.0):.5f}"


def _record(rtype: str, unit: str, kind: str, i: int, rng: random.Random,
            metadata: list[tuple[str, str]]) -> str:
    start = BASE + dt.timedelta(seconds=37 * i)
    end = start + dt.timedelta(seconds=rng.randint(1, 600))
    created = end + dt.timedelta(seconds=rng.randint(0, 120))
    head = (f'<Record type="{rtype}" sourceName="Phone" sourceVersion="16.1" '
            f'unit="{unit}" creationDate="{_ts(created, rng)}" '
            f'startDate="{_ts(start, rng)}" endDate="{_ts(end, rng)}" '
            f'value="{_value(kind, rng)}"')
    if not metadata:
        return head + "/>"
    body = "".join(f'<MetadataEntry key="{k}" value="{v}"/>' for k, v in metadata)
    return head + ">" + body + "</Record>"


def _large_metadata(rng: random.Random) -> list[tuple[str, str]]:
    """Metadata on about 30% of Records; 1 in 20 of those repeats a key
    (the converter keeps the last value)."""
    if rng.random() >= 0.3:
        return []
    md = [("HKMetadataKeyHeartRateMotionContext", str(rng.randint(0, 2))),
          ("HKTimeZone", rng.choice(("America/Los_Angeles", "Europe/Berlin")))]
    if rng.random() < 0.05:
        md.append(("HKMetadataKeyHeartRateMotionContext", str(rng.randint(0, 2))))
    return md


def _gpx(n_points: int, rng: random.Random, start: dt.datetime) -> str:
    lat, lon = rng.uniform(30, 45), rng.uniform(-120, -75)
    pts = []
    for i in range(n_points):
        lat += rng.uniform(-2e-5, 2e-5)
        lon += rng.uniform(-2e-5, 2e-5)
        t = (start + dt.timedelta(seconds=i)).strftime("%Y-%m-%dT%H:%M:%SZ")
        pts.append(f'<trkpt lat="{lat:.6f}" lon="{lon:.6f}"><ele>{rng.uniform(0, 50):.1f}'
                   f'</ele><time>{t}</time></trkpt>')
    return ('<?xml version="1.0" encoding="UTF-8"?>\n<gpx version="1.1" '
            'creator="Apple Health Export"><trk><trkseg>'
            + "".join(pts) + "</trkseg></trk></gpx>")


def _workout(j: int, rng: random.Random, route_path: str) -> str:
    start = BASE + dt.timedelta(days=j, hours=rng.randint(0, 10))
    minutes = rng.uniform(10, 90)
    end = start + dt.timedelta(minutes=minutes)
    md = [("HKIndoorWorkout", "0"), ("HKIndoorWorkout", str(rng.randint(0, 1))),
          ("HKAverageMETs", f"{rng.uniform(2, 12):.5f} kcal/hr·kg"),
          ("HKTimeZone", "America/Los_Angeles"),
          (f"HKWorkoutBrandKey{j % 7}", f"{rng.uniform(1, 99):.3f}")]
    events = []
    for e in range(rng.randint(2, 6)):
        when = _ts(start + dt.timedelta(minutes=e * minutes / 6), rng)
        if e % 2 == 0:
            events.append(f'<WorkoutEvent type="HKWorkoutEventTypeSegment" date="{when}" '
                          f'duration="{rng.uniform(1, 15):.1f}" durationUnit="min"/>')
        else:
            events.append(f'<WorkoutEvent type="HKWorkoutEventTypePause" date="{when}"/>')
    stats = []
    for st in rng.sample(_STAT_TYPES, rng.randint(1, len(_STAT_TYPES))):
        stats.append(f'<WorkoutStatistics type="{st}" startDate="{_ts(start, rng)}" '
                     f'endDate="{_ts(end, rng)}" sum="{rng.uniform(1, 900):.3f}" unit="Cal"/>')
    return (f'<Workout workoutActivityType="HKWorkoutActivityType{rng.choice(_WORKOUT_KINDS)}" '
            f'duration="{minutes:.4f}" durationUnit="min" '
            f'totalDistance="{rng.uniform(0.1, 20):.4f}" totalDistanceUnit="mi" '
            f'totalEnergyBurned="{rng.uniform(50, 900):.3f}" totalEnergyBurnedUnit="Cal" '
            f'sourceName="Watch" sourceVersion="9.1" creationDate="{_ts(end, rng)}" '
            f'startDate="{_ts(start, rng)}" endDate="{_ts(end, rng)}">'
            + "".join(f'<MetadataEntry key="{k}" value="{v}"/>' for k, v in md)
            + "".join(events) + "".join(stats)
            + f'<WorkoutRoute sourceName="Watch" creationDate="{_ts(end, rng)}" '
            f'startDate="{_ts(start, rng)}" endDate="{_ts(end, rng)}">'
            f'<FileReference path="{route_path}"/></WorkoutRoute></Workout>')


def _summaries(n: int) -> str:
    day = dt.date(2019, 1, 1)
    return "\n".join(
        f'<ActivitySummary dateComponents="{day + dt.timedelta(days=i)}" '
        f'activeEnergyBurned="{300 + i % 97}.25" activeEnergyBurnedGoal="400" '
        f'activeEnergyBurnedUnit="Cal" appleExerciseTime="{30 + i % 40}" '
        f'appleExerciseTimeGoal="30" appleStandHours="{10 + i % 3}" '
        f'appleStandHoursGoal="12"/>' for i in range(n))


def _document(body: list[str]) -> str:
    return ('<?xml version="1.0" encoding="UTF-8"?>\n<HealthData locale="en_US">\n'
            ' <ExportDate value="2023-01-06 13:04:32 -0800"/>\n'
            ' <Me HKCharacteristicTypeIdentifierBiologicalSex="HKBiologicalSexNotSet"/>\n'
            + "\n".join(body) + "\n</HealthData>\n")


def _write_zip(path: str, xml: str, routes: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        zf.writestr(f"{ROOT}/export.xml", xml)
        for rel, gpx in sorted(routes.items()):
            zf.writestr(ROOT + rel, gpx)


#: declared column types the converter must emit for every Record table
_RECORD_DATE_COLS = {"creationDate": "DATE", "startDate": "DATE", "endDate": "DATE"}
#: ActivitySummary / Workout pins (tests/test_ingest.py shapes)
SUMMARY_TYPES = {"dateComponents": "DATE", "activeEnergyBurned": "REAL",
                 "activeEnergyBurnedGoal": "INTEGER", "appleExerciseTime": "INTEGER"}
WORKOUT_TYPES = {"duration": "REAL", "creationDate": "DATE",
                 "metadata_HKIndoorWorkout": "INTEGER"}


def _count(tables: dict, rtype: str, kind: str,
           metadata: list[tuple[str, str]]) -> None:
    """Tally one Record into the expected-table manifest: its row count
    and the declared type of every column it carries."""
    t = tables.setdefault(rtype, {"rows": 0,
                                  "types": {"value": kind, **_RECORD_DATE_COLS}})
    t["rows"] += 1
    for key, _ in metadata:
        t["types"][f"metadata_{key}"] = "TEXT" if key == "HKTimeZone" else "INTEGER"


def export_large(out_dir: str, seed: int, n_records: int) -> tuple[str, dict]:
    """Row-volume shape plus the canonical fixture Workout, route and
    ActivitySummary rows."""
    from tests import hk_fixture

    rng = random.Random(seed)
    body, tables = [], {}
    for i in range(n_records):
        rtype, unit, kind = LARGE_TYPES[rng.randrange(len(LARGE_TYPES))]
        md = _large_metadata(rng)
        _count(tables, rtype, kind, md)
        body.append(_record(rtype, unit, kind, i, rng, md))
    body += [hk_fixture._workout_xml(), hk_fixture._summaries_xml()]
    tables["Workout"] = {"rows": 2, "types": WORKOUT_TYPES}
    tables["ActivitySummary"] = {"rows": 10, "types": SUMMARY_TYPES}
    xml = _document(body)
    path = os.path.join(out_dir, "export_large.zip")
    _write_zip(path, xml, {hk_fixture.ROUTE_PATH: hk_fixture.route_gpx()})
    return path, {"tables": tables, "xml_bytes": len(xml.encode()),
                  "routes": {hk_fixture.ROUTE_PATH: hk_fixture.N_TRKPT}}


def export_many_types(out_dir: str, seed: int, n_records: int, n_types: int,
                      n_workouts: int) -> tuple[str, dict]:
    """Phone-export shape: many Record types and metadata keys, and
    Workouts with events, statistics, metadata and one GPX file each."""
    rng = random.Random(seed)
    types = []
    for k in range(n_types):
        kind = "INTEGER" if k % 2 == 0 else "REAL"
        types.append((f"HKQuantityTypeIdentifierSynthetic{k:03d}",
                      "count" if kind == "INTEGER" else "mg/dL", kind))
    body, tables = [], {}
    for i in range(n_records):
        rtype, unit, kind = types[rng.randrange(n_types)]
        md = []
        if rng.random() < 0.4:
            # type k draws from keys k..k+2, so neighbouring tables carry
            # overlapping but different metadata column sets
            k = int(rtype[-3:])
            md = [(f"HKSyntheticKey{k + rng.randint(0, 2):03d}", str(rng.randint(0, 99)))]
            if rng.random() < 0.1:
                md.append((md[0][0], str(rng.randint(0, 99))))
        _count(tables, rtype, kind, md)
        body.append(_record(rtype, unit, kind, i, rng, md))
    routes = {}
    for j in range(n_workouts):
        rel = f"/workout-routes/route_{j:04d}.gpx"
        n_pts = rng.randint(20, 200)
        routes[rel] = n_pts
        body.append(_workout(j, rng, rel))
    body.append(_summaries(365))
    gpx = {rel: _gpx(n, random.Random(seed * 7919 + j), BASE + dt.timedelta(days=j))
           for j, (rel, n) in enumerate(sorted(routes.items()))}
    tables["Workout"] = {"rows": n_workouts, "types": WORKOUT_TYPES}
    tables["ActivitySummary"] = {"rows": 365, "types": SUMMARY_TYPES}
    xml = _document(body)
    path = os.path.join(out_dir, "export_many_types.zip")
    _write_zip(path, xml, gpx)
    return path, {"tables": tables, "xml_bytes": len(xml.encode()),
                  "routes": routes}
