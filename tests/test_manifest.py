"""Manifest-table properties: atomic append, reader isolation, commit
races, time travel, compaction invariance, vacuum safety."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from healthkit_to_sqlite_spark.sinks.manifest import (
    BatchIdRegression, CommitConflict, ManifestCatalog, ManifestTable)


@pytest.fixture()
def tbl(tmp_path):
    return ManifestTable(str(tmp_path / "tbl"))


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"),
                                      (F.col("id") * 2).alias("v"))


def test_append_and_read(spark, tbl):
    assert tbl.current_version() == 0
    assert tbl.append(_batch(spark, 0, 10)) == 1
    assert tbl.append(_batch(spark, 10, 25)) == 2
    df = tbl.read(spark)
    assert df.count() == 25
    assert df.agg(F.sum("v")).collect()[0][0] == 2 * sum(range(25))


def test_time_travel(spark, tbl):
    tbl.append(_batch(spark, 0, 10))
    tbl.append(_batch(spark, 10, 30))
    assert tbl.read(spark, version=1).count() == 10
    assert tbl.read(spark, version=2).count() == 30
    assert tbl.read(spark).count() == 30


def test_staged_but_uncommitted_is_invisible(spark, tbl):
    tbl.append(_batch(spark, 0, 10))
    # a crashed writer: staged files, no manifest
    tbl._stage(_batch(spark, 100, 200))
    assert tbl.read(spark).count() == 10
    # vacuum removes exactly the orphans (grace window 0: the
    # "crashed writer" is not in flight); committed data survives
    removed = tbl.vacuum(min_age_seconds=0)
    assert len(removed) > 0
    assert tbl.read(spark).count() == 10


def test_commit_race_serializes(spark, tbl):
    tbl.append(_batch(spark, 0, 5))
    # simulate a rival writer taking version 2 between stage and publish
    files, schema = tbl._stage(_batch(spark, 5, 10))
    tbl._publish({"schema": schema, "files":
                  tbl._load(1)["files"] + files, "parent": 1}, 2)
    # our append must retry onto version 3 and include both batches
    v = tbl.append(_batch(spark, 10, 20))
    assert v == 3
    assert tbl.read(spark).count() == 20


def test_publish_conflict_raises(spark, tbl):
    tbl.append(_batch(spark, 0, 5))
    files, schema = tbl._stage(_batch(spark, 5, 10))
    with pytest.raises(CommitConflict):
        tbl._publish({"schema": schema, "files": files, "parent": 0}, 1)


def test_compaction_preserves_content(spark, tbl):
    for i in range(4):
        tbl.append(_batch(spark, i * 10, (i + 1) * 10))
    before = sorted(r["id"] for r in tbl.read(spark).collect())
    n_files_before = len(tbl._load(tbl.current_version())["files"])
    v = tbl.compact(spark, target_files=1)
    after = sorted(r["id"] for r in tbl.read(spark, v).collect())
    assert after == before
    assert len(tbl._load(v)["files"]) == 1 < n_files_before
    # pre-compaction version still time-travels
    assert tbl.read(spark, v - 1).count() == 40
    # vacuum keeps every manifest-referenced file (both versions readable)
    tbl.vacuum(min_age_seconds=0)
    assert sorted(r["id"] for r in tbl.read(spark, v - 1).collect()) == before


def test_streaming_exactly_once_sink(spark, tbl, tmp_path):
    """foreachBatch into the manifest table: a replayed batch id is a
    no-op (exactly-once), and a full availableNow run lands every
    source row exactly once."""
    src_dir = str(tmp_path / "src")
    _batch(spark, 0, 40).repartition(4).write.parquet(src_dir)
    stream = (spark.readStream.schema(spark.read.parquet(src_dir).schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    q = (stream.writeStream.foreachBatch(tbl.foreach_batch_writer())
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert tbl.read(spark).count() == 40

    # simulate a sink-level retry of the LAST committed batch (the
    # only replay foreachBatch can produce) — must no-op
    v_before = tbl.current_version()
    last = tbl._load(v_before)["last_batch_id"]
    assert tbl.append_batch(_batch(spark, 0, 10), batch_id=last) is None
    assert tbl.current_version() == v_before
    assert tbl.read(spark).count() == 40
    # a batch id BELOW the high-water mark means the checkpoint was
    # reset — silently dropping it would lose data, so it raises
    with pytest.raises(BatchIdRegression):
        tbl.append_batch(_batch(spark, 0, 10), batch_id=0)
    assert tbl.read(spark).count() == 40
    # a NEW batch id still appends
    assert tbl.append_batch(_batch(spark, 40, 45), batch_id=99) == v_before + 1
    assert tbl.read(spark).count() == 45


def test_end_to_end_archive_to_manifest(spark, hk_zip, tmp_path):
    """The full landing pipeline: stream the archive's Records through
    the streaming ingest source with no casts (values land as raw
    strings), append each micro-batch transactionally, read the table
    back and type it per Record type with the inference cascade."""
    import dataclasses
    import shutil

    from healthkit_to_sqlite_spark.operators.schema_infer import (
        apply_inferred_types)
    from healthkit_to_sqlite_spark.sources.healthkit import stage_zip
    from healthkit_to_sqlite_spark.streaming.ingest import (
        plan_record_ingest, records_stream)

    staged = stage_zip(hk_zip, str(tmp_path / "staging"), 8)
    drop = tmp_path / "drop"
    drop.mkdir()
    shutil.copy(staged.export_xml, drop / "chunk-000.xml")
    plan = dataclasses.replace(plan_record_ingest(spark, str(drop)),
                               casts={})
    tbl = ManifestTable(str(tmp_path / "records"))
    q = (records_stream(spark, str(drop), plan)
         .writeStream.foreachBatch(tbl.foreach_batch_writer())
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.processAllAvailable()
    q.stop()

    raw = tbl.read(spark)
    assert raw.count() == 5
    # typed per-type projection downstream of the transactional store
    typed = apply_inferred_types(
        raw.filter(F.col("type") == "HKQuantityTypeIdentifierStepCount")
        .select("type", "value", "startDate"))
    types = dict(typed.dtypes)
    assert types["value"] == "bigint"
    assert typed.agg(F.sum("value")).collect()[0][0] == 350


def test_schema_evolution_add_column(spark, tbl):
    """Appending a batch with a NEW column publishes the widened
    schema; old files read back with nulls for the added column
    (parquet name-based resolution) — additive evolution for free."""
    tbl.append(_batch(spark, 0, 10))
    widened = _batch(spark, 10, 20).withColumn("tag", F.lit("new"))
    tbl.append(widened)
    df = tbl.read(spark)
    assert set(df.columns) == {"id", "v", "tag"}
    assert df.count() == 20
    by_tag = {r["tag"]: r["n"] for r in
              df.groupBy("tag").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_tag == {None: 10, "new": 10}
    # old version still reads with its own (narrow) schema
    assert set(tbl.read(spark, 1).columns) == {"id", "v"}


def test_vacuum_grace_window_protects_inflight_stage(spark, tbl):
    # a concurrent writer mid-append: staged, not yet published —
    # default-window vacuum must NOT touch its files
    tbl.append(_batch(spark, 0, 5))
    files, schema = tbl._stage(_batch(spark, 5, 10))
    assert tbl.vacuum() == []   # files are seconds old — protected
    # the writer can still publish and its version reads cleanly
    tbl._publish({"schema": schema,
                  "files": tbl._load(1)["files"] + files,
                  "parent": 1}, 2)
    assert tbl.read(spark).count() == 10


def test_batch_ids_survive_append_and_compact(spark, tbl):
    # the replay high-water mark must survive non-streaming commits —
    # losing it would double-append a replayed batch (review finding)
    assert tbl.append_batch(_batch(spark, 0, 10), batch_id=3) == 1
    tbl.append(_batch(spark, 10, 20))
    tbl.compact(spark, target_files=1)
    assert tbl.append_batch(_batch(spark, 0, 10), batch_id=3) is None
    assert tbl.read(spark).count() == 20


def test_vacuum_removes_stage_dirs_and_skips_stray_files(spark, tbl):
    """An orphaned stage dir must disappear ENTIRELY — Spark's
    _SUCCESS/.crc sidecars used to pin empty dirs forever — and a
    stray plain file under data/ must not crash the walk."""
    tbl.append(_batch(spark, 0, 10))
    stage_before = set(os.listdir(os.path.join(tbl.root, "data")))
    tbl._stage(_batch(spark, 100, 200))   # crashed writer
    orphan = (set(os.listdir(os.path.join(tbl.root, "data")))
              - stage_before).pop()
    stray = os.path.join(tbl.root, "data", "README.txt")
    with open(stray, "w") as fh:
        fh.write("not a stage dir")
    removed = tbl.vacuum(min_age_seconds=0)
    assert len(removed) > 0
    assert not os.path.exists(os.path.join(tbl.root, "data", orphan))
    assert os.path.exists(stray)          # left alone, no crash
    assert tbl.read(spark).count() == 10  # committed data intact


def test_concurrent_appends_serialize(spark, tbl):
    """Eight genuinely concurrent appends (threads share the table
    object) must all land: CAS losers retry against the new head, no
    version is lost, no rows duplicated."""
    import threading

    errs = []

    def worker(i):
        try:
            tbl.append(_batch(spark, i * 10, i * 10 + 10))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    assert tbl.current_version() == 8
    rows = sorted(r["id"] for r in tbl.read(spark).collect())
    assert rows == list(range(80))


# -- multi-table atomic pass (reference one-transaction-per-pass) ---------


@pytest.fixture()
def cat(tmp_path):
    return ManifestCatalog(str(tmp_path / "cat"))


def test_catalog_pass_publishes_all_tables_atomically(spark, cat):
    v = cat.publish_pass({"a": _batch(spark, 0, 10),
                          "b": _batch(spark, 10, 30)})
    assert v == 1
    assert cat.table_names() == ["a", "b"]
    assert cat.read(spark, "a").count() == 10
    assert cat.read(spark, "b").count() == 20


def test_catalog_crash_mid_pass_publishes_nothing(spark, cat, monkeypatch):
    """Kill the writer after it staged table 1 but before table 2:
    NO table from the pass may be visible (the reference's crashed
    run leaves zero tables, core.rs:59-72)."""
    real_stage = cat._stage
    calls = {"n": 0}

    def dying_stage(df):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("executor lost mid-pass")
        return real_stage(df)

    monkeypatch.setattr(cat, "_stage", dying_stage)
    with pytest.raises(RuntimeError):
        cat.publish_pass({"a": _batch(spark, 0, 10),
                          "b": _batch(spark, 10, 30)})
    assert cat.current_version() == 0
    assert cat.table_names() == []
    # the dead writer's staged files are invisible garbage; vacuum
    # clears them and the catalog is still empty
    assert len(cat.vacuum(min_age_seconds=0)) > 0
    assert cat.current_version() == 0


def test_catalog_second_pass_appends_and_carries_forward(spark, cat):
    cat.publish_pass({"a": _batch(spark, 0, 10), "b": _batch(spark, 0, 5)})
    v = cat.publish_pass({"a": _batch(spark, 10, 20)})
    assert v == 2
    # named table appended, unnamed table carried forward
    assert cat.read(spark, "a").count() == 20
    assert cat.read(spark, "b").count() == 5
    # time travel still sees the first pass
    assert cat.read(spark, "a", version=1).count() == 10
    with pytest.raises(KeyError):
        cat.read(spark, "missing")


def test_catalog_replace_overwrites_one_table_only(spark, cat):
    """The overwrite transaction (prune-on-append's publish shape):
    a table named in ``replace`` carries ONLY the new pass's files,
    sibling tables in the same pass still append, untouched tables
    carry forward, and the replaced table's old version stays
    time-travelable (old files remain manifest-referenced, so vacuum
    must not collect them)."""
    cat.publish_pass({"a": _batch(spark, 0, 10), "b": _batch(spark, 0, 5),
                      "c": _batch(spark, 0, 3)})
    v = cat.publish_pass({"a": _batch(spark, 100, 104),
                          "b": _batch(spark, 5, 7)}, replace={"a"})
    assert v == 2
    assert cat.read(spark, "a").count() == 4        # replaced
    assert cat.read(spark, "b").count() == 7        # appended
    assert cat.read(spark, "c").count() == 3        # carried forward
    # time travel: the pre-replace content is intact and vacuum-safe
    assert cat.read(spark, "a", version=1).count() == 10
    assert cat.vacuum(min_age_seconds=0) == []
    assert cat.read(spark, "a", version=1).count() == 10
    # file-level: v2's 'a' files are disjoint from v1's (true replace)
    f1 = set(cat._load(1)["tables"]["a"]["files"])
    f2 = set(cat._load(2)["tables"]["a"]["files"])
    assert f1 and f2 and not (f1 & f2)


def test_ingest_fanout_atomic_publish(spark, hk_zip, tmp_path):
    """The real A4 composition: archive → record_tables_onepass fan-out →
    ``publish_pass`` = one commit for the whole per-type table set."""
    from healthkit_to_sqlite_spark.sources.healthkit import convert

    tables = convert(spark, hk_zip, str(tmp_path / "stage"))
    cat = ManifestCatalog(str(tmp_path / "catalog"))
    assert cat.publish_pass(tables) == 1
    assert sorted(cat.table_names()) == sorted(tables)
    for name, df in tables.items():
        assert cat.read(spark, name).count() == df.count()


def test_write_sqlite_crash_mid_pass_rolls_back(spark, tmp_path):
    """write_sqlite is one transaction per pass: dying on table 2
    must leave table 1 invisible too."""
    import sqlite3

    from healthkit_to_sqlite_spark.sinks.database import write_sqlite

    class Exploding:
        @property
        def columns(self):
            raise RuntimeError("boom")

    db = str(tmp_path / "out.db")
    with pytest.raises(RuntimeError):
        write_sqlite({"good": _batch(spark, 0, 10), "bad": Exploding()}, db)
    con = sqlite3.connect(db)
    try:
        names = [r[0] for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type='table'")]
    finally:
        con.close()
    assert names == []


def test_merge_upserts_and_inserts(spark, tbl):
    tbl.append(_batch(spark, 0, 10))                       # v=2*id
    updates = (spark.range(5, 15)
               .select(F.col("id"), (F.col("id") * 100).alias("v")))
    v = tbl.merge(spark, updates, key="id")
    assert v == 2
    got = {r.id: r.v for r in tbl.read(spark).collect()}
    # 0-4 untouched, 5-9 replaced, 10-14 inserted
    assert got == {i: (2 * i if i < 5 else 100 * i) for i in range(15)}
    # time travel to the pre-merge snapshot still works
    old = {r.id: r.v for r in tbl.read(spark, version=1).collect()}
    assert old == {i: 2 * i for i in range(10)}


def test_merge_into_empty_table_inserts_all(spark, tbl):
    assert tbl.merge(spark, _batch(spark, 0, 5), key="id") == 1
    assert tbl.read(spark).count() == 5


def test_merge_crash_mid_stage_publishes_nothing(spark, tbl, monkeypatch):
    tbl.append(_batch(spark, 0, 10))
    orig = type(tbl)._stage

    def boom(self, df):
        files, schema = orig(self, df)
        raise RuntimeError("staging torn down mid-merge")

    monkeypatch.setattr(type(tbl), "_stage", boom)
    with pytest.raises(RuntimeError):
        tbl.merge(spark, _batch(spark, 0, 3), key="id")
    monkeypatch.undo()
    # nothing published: head still the append, content unchanged
    assert tbl.current_version() == 1
    assert tbl.read(spark).count() == 10


def test_merge_batch_replay_is_noop_and_upserts(spark, tbl):
    """The streaming CDC-upsert sink: a retried micro-batch must
    publish nothing (re-merging would double-apply), a fresh batch
    upserts, and a checkpoint reset fails fast."""
    tbl.append(_batch(spark, 0, 10))
    upd = (spark.range(5, 12)
           .select(F.col("id"), (F.col("id") * 100).alias("v")))
    assert tbl.merge_batch(spark, upd, "id", batch_id=0) == 2
    assert tbl.merge_batch(spark, upd, "id", batch_id=0) is None  # replay
    assert tbl.current_version() == 2
    got = {r.id: r.v for r in tbl.read(spark).collect()}
    assert got == {i: (2 * i if i < 5 else 100 * i) for i in range(12)}
    # next batch applies on top
    upd2 = spark.range(0, 2).select(F.col("id"), F.lit(-1).alias("v"))
    assert tbl.merge_batch(spark, upd2, "id", batch_id=1) == 3
    assert {r.v for r in tbl.read(spark).filter("id < 2").collect()} == {-1}
    with pytest.raises(BatchIdRegression):
        tbl.merge_batch(spark, upd2, "id", batch_id=0)


def test_optimize_zorder_tightens_both_dims(spark, tbl):
    """OPTIMIZE must preserve content exactly AND make per-file spans
    on the SECOND z-ordered column materially tighter than a plain
    compaction (whose files inherit input order: first column tight,
    second column's span ~100% per file)."""
    import pyarrow.parquet as pq

    df = (spark.range(0, 4096)
          .select(F.col("id"),
                  # decorrelated second dim: bit-reversed-ish ordering
                  ((F.col("id") * 2654435761) % 4096).alias("v")))
    tbl.append(df)
    before = {(r.id, r.v) for r in tbl.read(spark).collect()}

    v1 = tbl.compact(spark, target_files=16)
    plain_files = tbl._load(v1)["files"]
    v2 = tbl.optimize(spark, ["id", "v"], target_files=16)
    z_files = tbl._load(v2)["files"]
    after = {(r.id, r.v) for r in tbl.read(spark).collect()}
    assert after == before  # content invariant

    def mean_vspan(files):
        spans = []
        for f in files:
            t = pq.read_table(f, columns=["v"])
            vs = t.column("v").to_pylist()
            if vs:
                spans.append((max(vs) - min(vs)) / 4096)
        return sum(spans) / len(spans)

    # compaction came from one coalesced file set of an id-ordered
    # table: v is scrambled, per-file v-span ~ full range
    assert mean_vspan(plain_files) > 0.8
    # z-order bounds BOTH dims per file
    assert mean_vspan(z_files) < 0.5 * mean_vspan(plain_files)
    # time travel to the pre-optimize version still works
    assert {(r.id, r.v) for r in tbl.read(spark, version=v1).collect()} \
        == before


def test_ingest_pass_failure_injection_then_exactly_once(
        spark, hk_zip, tmp_path, monkeypatch):
    """VERDICT r4 item 5 — the reference-semantics failure drill at
    ingest scale: run the REAL multi-table convert() fan-out, kill the
    writer staging its final table, and prove (a) ZERO tables are
    visible (the reference's one-transaction-per-pass, core.rs:59-61/
    70-72: a crashed run publishes nothing, never a partial set), then
    (b) the re-run publishes the whole pass EXACTLY ONCE — version 1,
    every table visible at full count, no doubled rows from the dead
    attempt's orphaned staging files."""
    from healthkit_to_sqlite_spark.sources.healthkit import convert

    tables = convert(spark, hk_zip, str(tmp_path / "stage"))
    assert len(tables) >= 4, "fixture must exercise the multi-type fan-out"
    expected = {name: df.count() for name, df in tables.items()}

    root = str(tmp_path / "catalog")
    cat = ManifestCatalog(root)
    real_stage = cat._stage
    calls = {"n": 0}

    def dying_stage(df):
        calls["n"] += 1
        if calls["n"] == len(tables):        # die staging the LAST table
            raise RuntimeError("worker killed mid-pass")
        return real_stage(df)

    monkeypatch.setattr(cat, "_stage", dying_stage)
    with pytest.raises(RuntimeError):
        cat.publish_pass(dict(tables))
    # (a) invisibility: no version, no tables, reads fail
    assert cat.current_version() == 0
    assert cat.table_names() == []
    with pytest.raises(KeyError):
        cat.read(spark, next(iter(tables)))

    # (b) idempotent republish: fresh writer on the same root
    monkeypatch.setattr(cat, "_stage", real_stage)
    v = cat.publish_pass(dict(tables))
    assert v == 1                            # one transaction per pass
    assert sorted(cat.table_names()) == sorted(tables)
    for name, want in expected.items():
        assert cat.read(spark, name).count() == want, name
    # the dead attempt's staged files are unreferenced garbage only:
    # vacuum removes them without touching the published pass
    removed = cat.vacuum(min_age_seconds=0)
    assert removed
    for name, want in expected.items():
        assert cat.read(spark, name).count() == want, name


def test_catalog_crash_mid_replace_keeps_serving_head(spark, cat,
                                                      monkeypatch):
    """Crash drill for the maintenance passes (rebalance / retrain /
    prune-on-append all publish with replace semantics): a writer that
    dies after staging part of a replace pass publishes NOTHING — the
    head keeps serving the pre-maintenance content, vacuum clears the
    orphaned staging, and a clean retry completes the replace."""
    cat.publish_pass({"a": _batch(spark, 0, 10), "b": _batch(spark, 0, 5)})
    real_stage = cat._stage
    calls = {"n": 0}

    def dying_stage(df):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("executor lost mid-replace")
        return real_stage(df)

    monkeypatch.setattr(cat, "_stage", dying_stage)
    with pytest.raises(RuntimeError):
        cat.publish_pass({"a": _batch(spark, 100, 104),
                          "b": _batch(spark, 5, 7)}, replace={"a"})
    assert cat.current_version() == 1
    assert cat.read(spark, "a").count() == 10   # head still serves v1
    assert len(cat.vacuum(min_age_seconds=0)) > 0

    monkeypatch.setattr(cat, "_stage", real_stage)
    v = cat.publish_pass({"a": _batch(spark, 100, 104),
                          "b": _batch(spark, 5, 7)}, replace={"a"})
    assert v == 2
    assert cat.read(spark, "a").count() == 4
    assert cat.read(spark, "b").count() == 7
    assert cat.read(spark, "a", version=1).count() == 10


def test_catalog_row_count_statistic_across_pass_shapes(spark, cat):
    """Commit-time row counts (r9): exact through append, replace,
    clone, and compaction — answered from the manifest, never a scan
    (the count is asserted against df.count() truth here, but the
    API reads footers/manifest only)."""
    cat.publish_pass({"a": _batch(spark, 0, 10), "b": _batch(spark, 0, 7)})
    assert cat.row_count("a") == 10 and cat.row_count("b") == 7
    cat.publish_pass({"a": _batch(spark, 10, 25)})          # append
    assert cat.row_count("a") == 25
    assert cat.row_count("a", version=1) == 10              # time travel
    cat.publish_pass({"a": _batch(spark, 0, 4)}, replace={"a"})
    assert cat.row_count("a") == 4 and cat.row_count("b") == 7

    clone = ManifestCatalog(str(os.path.dirname(cat.root) + "/clone"))
    clone.clone_pass(cat)
    assert clone.row_count("a") == 4 and clone.row_count("b") == 7

    with pytest.raises(KeyError):
        cat.row_count("missing")


def test_catalog_compact_pass_survives_concurrent_append(spark, cat,
                                                         monkeypatch):
    """ADVICE r9: compact_pass staged the head content BEFORE the CAS
    retry loop, so a concurrent append winning the race was REPLACE-
    published away on retry — silent lost update.  The read+publish
    are now one CAS unit (expected_parent): the lost race surfaces as
    CommitConflict and the retry re-reads the NEW head, so the
    appended rows survive compaction."""
    for i in range(3):
        cat.publish_pass({"a": _batch(spark, i * 10, i * 10 + 10)})
    other = ManifestCatalog(cat.root)
    real_stage = cat._stage
    raced = {"done": False}

    def racing_stage(df):
        staged = real_stage(df)
        if not raced["done"]:          # a writer lands AFTER the
            raced["done"] = True       # compactor read+staged, but
            other.publish_pass(        # BEFORE its publish
                {"a": _batch(spark, 100, 105)})
        return staged

    monkeypatch.setattr(cat, "_stage", racing_stage)
    cat.compact_pass(spark, "a")
    ids = sorted(r["id"] for r in cat.read(spark, "a").collect())
    assert ids == list(range(30)) + list(range(100, 105)), (
        "concurrent append lost by compaction")
    assert cat.row_count("a") == 35


def test_catalog_compact_pass_is_content_invariant(spark, cat):
    """compact_pass (r9): many-files head → target_files, rows and
    values identical, superseded files drain through expire+vacuum
    while the other table's files are untouched."""
    for i in range(4):                        # 4 appends → ≥4 files
        cat.publish_pass({"a": _batch(spark, i * 10, i * 10 + 10)})
    cat.publish_pass({"b": _batch(spark, 0, 5)})
    before = sorted(map(tuple, cat.read(spark, "a").collect()))
    files_before = cat._load(cat.current_version())["tables"]["a"]["files"]
    assert len(files_before) >= 4

    v = cat.compact_pass(spark, "a")
    entry = cat._load(v)["tables"]["a"]
    assert len(entry["files"]) == 1
    assert cat.row_count("a") == 40
    assert sorted(map(tuple, cat.read(spark, "a").collect())) == before
    # b rides through untouched (same files, same rows)
    assert cat.row_count("b") == 5

    # retention turns the compaction physical: expired pre-compact
    # manifests release exactly the superseded 'a' files
    cat.expire_versions(keep_last=1)
    removed = set(cat.vacuum(min_age_seconds=0))
    assert set(files_before) <= removed
    assert sorted(map(tuple, cat.read(spark, "a").collect())) == before


def test_table_row_count_from_footers(spark, tbl):
    assert tbl.row_count() == 0
    tbl.append(_batch(spark, 0, 100))
    tbl.append(_batch(spark, 100, 150))
    assert tbl.row_count() == 150
    assert tbl.row_count(version=1) == 100


def test_table_expire_then_append_continues(spark, tbl):
    """Retention on the single-table log composes with the write
    paths: after expiring old versions, the head still serves, new
    appends version past the head, and vacuum frees exactly the files
    only expired manifests referenced."""
    tbl.append(_batch(spark, 0, 10))
    v1_files = set(tbl._load(1)["files"])
    tbl.compact(spark)                       # v2 rewrites into 1 file
    assert tbl.expire_versions(keep_last=1) == [1]
    removed = set(tbl.vacuum(min_age_seconds=0))
    assert v1_files <= removed               # superseded by the compact
    assert tbl.read(spark).count() == 10
    tbl.append(_batch(spark, 10, 15))
    assert tbl.current_version() == 3
    assert tbl.read(spark).count() == 15
    assert tbl.row_count() == 15


def test_source_expire_vacuum_breaks_live_clones(spark, tmp_path):
    """The clone caveat is a real hazard, not theory: a shallow
    clone's manifests reference the SOURCE catalog's files, which the
    source's own expire+vacuum knows nothing about.  Replace the
    source's table, expire its pre-replace manifest, vacuum — the
    clone's head now points at deleted files and its read fails.
    This is why expire_versions' contract says never expire-and-
    vacuum a source whose clones are alive."""
    cat_src = ManifestCatalog(str(tmp_path / "src"))
    cat_src.publish_pass({"t": _batch(spark, 0, 10)})
    clone = ManifestCatalog(str(tmp_path / "clone"))
    clone.clone_pass(cat_src)
    assert clone.read(spark, "t").count() == 10

    cat_src.publish_pass({"t": _batch(spark, 0, 3)}, replace={"t"})
    cat_src.expire_versions(keep_last=1)
    removed = cat_src.vacuum(min_age_seconds=0)
    assert removed                            # the clone's files died
    with pytest.raises(Exception):
        clone.read(spark, "t").collect()
