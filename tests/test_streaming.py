"""Streaming twins verified against their batch counterparts: feed the
same events through a file stream and assert the streaming result
equals the batch operator's answer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    from healthkit_to_sqlite_spark.catalog import load_table
    d = str(tmp_path_factory.mktemp("events_stream"))
    # a bounded slice so the test is fast; timestamp_ntz → timestamp for
    # watermark support
    (load_table(spark, "/root/testdata/sf0.001", "events")
     .withColumn("ts", F.col("ts").cast("timestamp"))
     .coalesce(2).write.mode("overwrite").parquet(d))
    return d


def _run_stream(spark, df, name):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.table(name)


def test_tumbling_window_stream_matches_batch(spark, events_stream_dir):
    from healthkit_to_sqlite_spark.streaming.windowed import tumbling_window_stream
    from healthkit_to_sqlite_spark.operators.timeseries import tumbling_window

    src = spark.readStream.schema(
        spark.read.parquet(events_stream_dir).schema).parquet(events_stream_dir)
    # complete-mode memory sink for aggregations: use update of final?
    # availableNow + append only emits closed windows; use outputMode
    # complete to get them all for the bounded input.
    q = (tumbling_window_stream(src).writeStream.format("memory")
         .queryName("tumbling").outputMode("complete")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
           for r in spark.table("tumbling").collect()}

    batch = tumbling_window(
        spark.read.parquet(events_stream_dir).withColumn(
            "ts", F.col("ts").cast("timestamp_ntz")))
    want = {(r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
            for r in batch.collect()}
    # streaming window_start is timestamp (UTC session) vs batch ntz —
    # compare on naive values
    got_naive = {(k[0].replace(tzinfo=None), k[1]): v for k, v in got.items()}
    assert got_naive == want


def test_sessionize_stream_closes_sessions(spark, events_stream_dir):
    from healthkit_to_sqlite_spark.streaming.windowed import sessionize_stream

    src = spark.readStream.schema(
        spark.read.parquet(events_stream_dir).schema).parquet(events_stream_dir)
    out = _run_stream(spark, sessionize_stream(src), "sessions")
    rows = out.collect()
    # availableNow: only sessions closed by a later event in the same
    # run are emitted (open ones wait for the timeout); every emitted
    # session must be internally consistent
    assert len(rows) > 0
    for r in rows:
        assert r["session_end"] >= r["session_start"]
        assert r["n_events"] >= 1

    # total emitted events ≤ total events, grouped by the same users
    total = spark.read.parquet(events_stream_dir).count()
    assert sum(r["n_events"] for r in rows) <= total


def test_sliding_window_stream_matches_batch(spark, events_stream_dir):
    from healthkit_to_sqlite_spark.streaming.windowed import sliding_window_stream

    src = spark.readStream.schema(
        spark.read.parquet(events_stream_dir).schema).parquet(events_stream_dir)
    q = (sliding_window_stream(src).writeStream.format("memory")
         .queryName("sliding").outputMode("complete")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["window_start"].replace(tzinfo=None), r["event_type"]):
           (r["n"], r["sum_value"]) for r in spark.table("sliding").collect()}

    batch = spark.read.parquet(events_stream_dir)
    want = {(r["window_start"].replace(tzinfo=None), r["event_type"]):
            (r["n"], r["sum_value"])
            for r in (batch.groupBy(F.window("ts", "2 hours", "30 minutes")
                                    .alias("w"), "event_type")
                      .agg(F.count(F.lit(1)).alias("n"),
                           F.sum(F.col("value").cast("decimal(18,2)"))
                           .cast("double").alias("sum_value"))
                      .select(F.col("w.start").alias("window_start"),
                              "event_type", "n", "sum_value")
                      .collect())}
    assert got == want
    # every event lands in window/slide = 4 overlapping windows
    assert sum(n for n, _ in want.values()) == 4 * batch.count()


def test_dedup_stream_drops_replayed_batch(spark, events_stream_dir, tmp_path):
    from healthkit_to_sqlite_spark.streaming.windowed import dedup_stream

    # replay the same events twice (duplicate files) — exactly what a
    # source retry does
    dup_dir = str(tmp_path / "dup")
    base = spark.read.parquet(events_stream_dir)
    base.write.mode("overwrite").parquet(dup_dir)
    base.write.mode("append").parquet(dup_dir)
    assert spark.read.parquet(dup_dir).count() == 2 * base.count()

    src = spark.readStream.schema(base.schema).parquet(dup_dir)
    out = _run_stream(spark, dedup_stream(src), "deduped")
    assert out.count() == base.count()
    assert out.select("event_id").distinct().count() == base.count()


def test_enrich_stream_matches_batch_join(spark, events_stream_dir):
    from healthkit_to_sqlite_spark.streaming.windowed import enrich_stream

    batch = spark.read.parquet(events_stream_dir)
    dim = (batch.select("event_type").distinct()
           .withColumn("type_tag", F.upper("event_type")))

    src = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    out = _run_stream(spark, enrich_stream(src, dim), "enriched")
    assert out.count() == batch.count()
    got = {(r["event_id"], r["type_tag"]) for r in
           out.select("event_id", "type_tag").collect()}
    want = {(r["event_id"], r["type_tag"]) for r in
            enrich_stream(batch, dim).select("event_id", "type_tag").collect()}
    assert got == want


def test_streaming_record_ingest_matches_batch(spark, tmp_path):
    """Two-pass streaming ingest: pass-1 plan over the staged sample,
    pass-2 incremental parse/type/fan-out equals the batch read."""
    import os
    import shutil
    from tests.hk_fixture import build_export_zip
    from healthkit_to_sqlite_spark.sources.healthkit import (
        read_records, stage_zip)
    from healthkit_to_sqlite_spark.streaming.ingest import (
        plan_record_ingest, start_record_ingest)

    zp = build_export_zip(str(tmp_path / "export.zip"))
    staged = stage_zip(zp, str(tmp_path / "staging"), 8)
    sample = staged.records_dir

    plan = plan_record_ingest(spark, sample)
    assert plan.casts.get("value") == "REAL"  # widened across types
    assert "Test Entry" in plan.metadata_keys

    # drop dir receives the staged xml as if an archive just landed
    drop = tmp_path / "drop"
    drop.mkdir()
    for n in os.listdir(sample):
        shutil.copy(os.path.join(sample, n), drop / n)

    out = str(tmp_path / "ingested")
    q = start_record_ingest(spark, str(drop), out,
                            str(tmp_path / "ckpt"), plan,
                            available_now=True)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    batch = read_records(spark, sample)
    assert got.count() == batch.count()
    assert (dict(got.groupBy("type").count().collect())
            == dict(batch.groupBy("type").count().collect()))
    assert dict(got.dtypes)["value"] == "double"
    # ntz: wall-clock-preserving cast (schema_infer.cast_to_tag)
    assert dict(got.dtypes)["creationDate"] == "timestamp_ntz"
    # metadata pivot survives with the fixed key set
    assert "metadata_Test Entry" in got.columns


def test_record_ingest_restart_lands_each_record_once(spark, tmp_path):
    """Exactly-once across restarts: an availableNow run over chunk A,
    then chunk B lands in the drop dir and the query restarts from the
    same checkpoint — every record is in the table exactly once (the
    file-source log skips A, nothing is lost or duplicated)."""
    from healthkit_to_sqlite_spark.streaming.ingest import (
        plan_record_ingest, start_record_ingest)

    def chunk(lo, hi):
        return ("<HealthData>\n" + "".join(
            f'<Record type="T{i % 2}" value="{i}" '
            f'startDate="2022-12-16 08:00:{i:02d} -0800"/>\n'
            for i in range(lo, hi)) + "</HealthData>\n")

    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "chunk-a.xml").write_text(chunk(0, 6))
    plan = plan_record_ingest(spark, str(drop / "chunk-a.xml"))
    out, ckpt = str(tmp_path / "ingested"), str(tmp_path / "ckpt")

    def run():
        q = start_record_ingest(spark, str(drop), out, ckpt, plan,
                                available_now=True)
        q.awaitTermination(120)

    run()
    assert spark.read.parquet(out).count() == 6
    (drop / "chunk-b.xml").write_text(chunk(6, 10))
    run()
    got = spark.read.parquet(out)
    assert dict(got.dtypes)["value"] == "bigint"
    assert sorted(r["value"] for r in got.collect()) == list(range(10))
    assert (dict(got.groupBy("type").count().collect())
            == {"T0": 5, "T1": 5})


def test_stateful_counts_leaves_caller_session_conf_alone(spark, monkeypatch):
    """The stateful stream sizes its state partitions on a child
    session: the caller's ``spark.sql.shuffle.partitions`` is never
    set (a concurrently planned query would see it), and
    q_stateful_counts still matches its DuckDB oracle."""
    from healthkit_to_sqlite_spark.catalog import DEFAULT_SF_DIR
    from healthkit_to_sqlite_spark.registry import _all_specs
    from tests.parity import compare_query, duckdb_connection

    conf = spark.conf
    set_keys = []
    conf_set = conf.set

    def spy(key, value):
        set_keys.append(key)
        return conf_set(key, value)

    monkeypatch.setattr(conf, "set", spy)
    spec = _all_specs()["q_stateful_counts"]
    con = duckdb_connection(DEFAULT_SF_DIR)
    try:
        res = compare_query(spark, con, "q_stateful_counts", spec.build,
                            spec.oracle, DEFAULT_SF_DIR)
    finally:
        con.close()
    assert "spark.sql.shuffle.partitions" not in set_keys
    assert res.ok, (res.detail, res.mismatches)
    assert res.spark_rows > 0


def test_incremental_topk_equals_batch(spark, tmp_path):
    """Streaming incremental top-k (O(k)-state foreachBatch merge)
    must produce EXACTLY the batch topk_cosine answer — the top-k
    merge is monotone, so no approximation is tolerated.  Four chunk
    files × maxFilesPerTrigger=1 force a genuine multi-batch merge."""
    from pyspark.sql import functions as F
    from healthkit_to_sqlite_spark.catalog import load_table
    from healthkit_to_sqlite_spark.operators.similarity import topk_cosine
    from healthkit_to_sqlite_spark.streaming.similarity import (
        run_incremental_topk)

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).select("embedding")
            .collect()[0][0]]
    inc = run_incremental_topk(spark, f"{sf}/embeddings.parquet",
                               str(tmp_path / "work"), qvec, k=10)
    batch = topk_cosine(emb, k=10)
    assert [tuple(r) for r in inc.collect()] == \
           [tuple(r) for r in batch.collect()]


def test_stream_stream_join_matches_batch(spark, events_stream_dir):
    from healthkit_to_sqlite_spark.streaming.windowed import stream_stream_join

    schema = spark.read.parquet(events_stream_dir).schema
    src_l = spark.readStream.schema(schema).parquet(events_stream_dir)
    src_r = spark.readStream.schema(schema).parquet(events_stream_dir)
    got = {(r.l_id, r.r_id) for r in
           _run_stream(spark, stream_stream_join(src_l, src_r),
                       "ssjoin").collect()}

    batch = spark.read.parquet(events_stream_dir)
    want_df = stream_stream_join(batch, batch)
    want = {(r.l_id, r.r_id) for r in want_df.collect()}
    assert got == want and len(want) > 0


def test_transform_state_counts(spark, tmp_path):
    """State API v2 (transformWithStateInPandas, MapState, RocksDB
    provider): final emitted counts equal the batch GROUP BY.  Skips
    where protobuf is unavailable (the v2 state-server protocol needs
    it; this container ships without)."""
    pytest.importorskip("google.protobuf")
    from healthkit_to_sqlite_spark.catalog import load_table
    from healthkit_to_sqlite_spark.streaming.transform_state import (
        run_transform_state_counts)

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    got = {(r["user_id"], r["event_type"]): r["n"]
           for r in run_transform_state_counts(
               spark, events, str(tmp_path / "tws")).collect()}
    want = {(r["user_id"], r["event_type"]): r["n"]
            for r in events.groupBy("user_id", "event_type")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_stream_stream_left_join_matches_batch(spark, events_stream_dir,
                                               tmp_path):
    """LEFT OUTER stream-stream join: null-joined rows are emitted on
    WATERMARK EXPIRY (the engine must prove no match can still
    arrive), so lefts inside the final watermark horizon never flush
    on a bounded stream — the standard fix is a future sentinel row
    that drags the watermark past all real data.  With per-file
    micro-batches + the sentinel, the streamed result must equal the
    batch left join exactly."""
    from healthkit_to_sqlite_spark.streaming.windowed import (
        stream_stream_left_join)

    batch = spark.read.parquet(events_stream_dir)
    d = str(tmp_path / "with_sentinel")
    batch.write.mode("overwrite").parquet(d)
    sentinel = (batch.limit(1)
                .withColumn("event_id", F.lit(-1).cast("long"))
                .withColumn("user_id", F.lit(10**9).cast("long"))
                .drop("ts")
                .crossJoin(batch.agg(F.max("ts").alias("mx")))
                .withColumn("ts", F.expr("mx + INTERVAL 30 DAYS"))
                .drop("mx")
                .select(*batch.columns))
    sentinel.write.mode("append").parquet(d)

    schema = batch.schema
    src_l = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", "1").parquet(d))
    src_r = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", "1").parquet(d))
    got = {(r.l_id, r.r_id) for r in
           _run_stream(spark, stream_stream_left_join(src_l, src_r),
                       "ssljoin").collect() if r.l_id != -1}

    want = {(r.l_id, r.r_id) for r in
            stream_stream_left_join(batch, batch).collect()}
    assert got == want
    # the outer semantics must actually fire: some lefts are unmatched
    assert any(b is None for _, b in want)


def test_session_window_stream_matches_batch(spark, events_stream_dir):
    """Native session_window under Structured Streaming must produce
    exactly the batch twin's gap-merged sessions (complete mode over
    the bounded input)."""
    from healthkit_to_sqlite_spark.operators.timeseries import (
        session_window_agg,
    )
    from healthkit_to_sqlite_spark.streaming.windowed import (
        session_window_stream,
    )

    src = spark.readStream.schema(
        spark.read.parquet(events_stream_dir).schema).parquet(
            events_stream_dir)
    q = (session_window_stream(src).writeStream.format("memory")
         .queryName("sessions_native").outputMode("complete")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.user_id, r.session_start.replace(tzinfo=None),
            r.session_end.replace(tzinfo=None)): (r.n_events, r.sum_value)
           for r in spark.table("sessions_native").collect()}

    batch = session_window_agg(
        spark.read.parquet(events_stream_dir).withColumn(
            "ts", F.col("ts").cast("timestamp_ntz")))
    want = {(r.user_id, r.session_start, r.session_end):
            (r.n_events, r.sum_value) for r in batch.collect()}
    assert got == want and got


def test_streaming_view_maintenance_matches_batch_and_survives_replay(
        spark, events_stream_dir, tmp_path):
    """The incrementally-maintained per-type aggregate must equal the
    batch GROUP BY after multiple micro-batches, and a replayed batch
    must fold ZERO additional rows (exactly-once composes from the
    manifest sink's high-water contract)."""
    from healthkit_to_sqlite_spark.sinks.manifest import ManifestTable
    from healthkit_to_sqlite_spark.streaming.maintenance import (
        read_view,
        view_maintenance_writer,
    )

    tbl = ManifestTable(str(tmp_path / "agg_view"))
    # re-write the slice as 3 files so maxFilesPerTrigger=1 yields
    # three real micro-batches (the module fixture may be 1 file)
    src_dir = str(tmp_path / "ev3")
    spark.read.parquet(events_stream_dir).repartition(3) \
        .write.mode("overwrite").parquet(src_dir)
    src = (spark.readStream
           .schema(spark.read.parquet(src_dir).schema)
           .option("maxFilesPerTrigger", 1)  # force >1 micro-batch
           .parquet(src_dir))
    q = (src.writeStream
         .foreachBatch(view_maintenance_writer(spark, tbl))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert tbl.current_version() >= 2  # one merge per micro-batch

    got = {r.event_type: (r.n_events, r.sum_value)
           for r in read_view(spark, tbl).collect()}
    ev = spark.read.parquet(src_dir)
    want = {r.event_type: (r.n, r.s) for r in
            ev.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double").alias("s")).collect()}
    assert got == want

    # replay the LAST batch id by hand: must no-op at the sink
    v = tbl.current_version()
    last_id = tbl._load(v)["last_batch_id"]
    writer = view_maintenance_writer(spark, tbl)
    writer(ev.limit(50), last_id)
    assert tbl.current_version() == v
    assert {r.event_type: (r.n_events, r.sum_value)
            for r in read_view(spark, tbl).collect()} == want


def test_watermark_drops_late_rows_and_holds_open_windows(
        spark, tmp_path):
    """Append-mode watermark semantics, the part everyone gets wrong,
    pinned as Spark actually GUARANTEES them: (1) windows the
    watermark has passed finalize with their on-time rows and emit
    exactly once; (2) windows at/after the final watermark are HELD
    OPEN and never emitted; (3) the watermark itself advances to
    max(event time) - delay between micro-batches.  NOT pinned: the
    drop of the planted late row — the guide's guarantee is
    one-directional (data within the watermark is never dropped;
    beyond it the drop is best-effort), and empirically Spark DOES
    aggregate a late row into fresh state, so asserting the drop
    would pin an implementation accident."""
    import datetime

    from healthkit_to_sqlite_spark.streaming.windowed import (
        tumbling_window_stream,
    )

    def ev(eid, hour, minute=0):
        return (eid, datetime.datetime(2024, 1, 1, hour, minute),
                1, "click", 1.0, "{}")

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = str(tmp_path / "src")
    # batch 1: on-time rows advance the watermark to 12:00 - 1h = 11:00
    spark.createDataFrame([ev(0, 10), ev(1, 10, 30), ev(2, 11),
                           ev(3, 12)], schema) \
        .coalesce(1).write.mode("overwrite").parquet(d)
    # batch 2: one LATE row (08:00 < watermark) + one fresh row.
    # The file source orders micro-batches by modification time, so
    # the late file must be strictly newer or the two may land in one
    # batch / reversed order (no watermark yet => no drop).
    import os
    import time
    time.sleep(2)
    spark.createDataFrame([ev(4, 8), ev(5, 12, 30)], schema) \
        .coalesce(1).write.mode("append").parquet(d)
    now = time.time()
    for f in os.listdir(d):
        p = os.path.join(d, f)
        if now - os.path.getmtime(p) < 1.5:
            os.utime(p, (now + 10, now + 10))

    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(d))
    q = (tumbling_window_stream(src, window="1 hour", watermark="1 hour")
         .writeStream.format("memory").queryName("late_drop")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.window_start.replace(tzinfo=None): r.n
           for r in spark.table("late_drop").collect()}

    h = lambda x: datetime.datetime(2024, 1, 1, x)  # noqa: E731
    # (1) finalized exactly once with its on-time rows
    assert got.get(h(10)) == 2
    # (2) windows at/after the final watermark stay open and unemitted
    assert h(12) not in got
    assert datetime.datetime(2024, 1, 1, 12, 30) not in got
    # (3) watermark advanced between batches: 12:00 - 1h after batch 0
    marks = [p["eventTime"].get("watermark") for p in q.recentProgress]
    assert "2024-01-01T11:00:00.000Z" in marks


def test_cdc_merger_kill_and_resume_exactly_once(spark, tmp_path):
    """VERDICT r4 item 8 — a real local[32] failure-recovery drill for
    the streaming CDC upsert sink: the stream DIES in the window
    between manifest publish and streaming-checkpoint commit (the one
    replay window foreachBatch has), is restarted from its checkpoint,
    and the replayed micro-batch must NO-OP at the manifest layer —
    exactly-once versions, last-write-wins content, no doubled
    upserts.  (merge_batch's high-water unit test covers the no-op in
    isolation; this drives it through an actual restarted
    StreamingQuery.)"""
    from pyspark.sql import functions as F

    from healthkit_to_sqlite_spark.sinks.manifest import ManifestTable

    src_dir = str(tmp_path / "cdc_src")
    # 4 CDC files with overlapping keys: key k's final value is the
    # LAST file that writes it (upsert semantics)
    for i in range(4):
        (spark.range(i * 5, i * 5 + 10)          # keys overlap by 5
         .select(F.col("id"), F.lit(i).alias("gen"))
         .coalesce(1).write.mode("append").parquet(src_dir))

    tbl = ManifestTable(str(tmp_path / "cdc_tbl"))
    ckpt = str(tmp_path / "cdc_ckpt")
    schema = spark.read.parquet(src_dir).schema

    def stream():
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(src_dir))

    merged_then_died = {"done": False}
    real_merger = tbl.foreach_batch_merger(spark, "id")

    def dying_merger(batch_df, batch_id):
        real_merger(batch_df, batch_id)      # manifest publish lands
        if batch_id == 1 and not merged_then_died["done"]:
            merged_then_died["done"] = True
            raise RuntimeError("killed after publish, before ckpt commit")

    q = (stream().writeStream.foreachBatch(dying_merger)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert merged_then_died["done"]
    v_crash = tbl.current_version()
    assert v_crash >= 2                      # batches 0 and 1 published

    # restart from the SAME checkpoint with the normal merger: Spark
    # replays batch 1 (its commit never landed) — merge_batch must
    # no-op it, then batches 2..3 apply once each
    q2 = (stream().writeStream.foreachBatch(
              tbl.foreach_batch_merger(spark, "id"))
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)

    # exactly-once versions: the replayed batch added NO version —
    # final = crash-point + one per remaining batch
    assert tbl.current_version() == v_crash + 2
    rows = {r.id: r.gen for r in tbl.read(spark).collect()}
    assert len(rows) == 25                   # keys 0..24, one row each
    # last-write-wins: key k belongs to the last file containing it
    for k, gen in rows.items():
        assert gen == min(3, k // 5), (k, gen)


def test_fold_batch_two_writer_race_loses_no_update(spark, tmp_path):
    """VERDICT r5 item 8 — two interleaved fold_batch writers on ONE
    artifact table: writer B commits BETWEEN writer A's head read and
    A's publish (deterministically interposed inside A's derive
    callback).  A must lose the CAS race, re-read B's head, re-fold,
    and publish BOTH updates — no lost update.  Also pins the
    documented id contract: an uncoordinated LOWER batch id after a
    higher one raises BatchIdRegression instead of dropping data."""
    from healthkit_to_sqlite_spark.sinks.manifest import (
        BatchIdRegression,
        ManifestTable,
    )

    tbl = ManifestTable(str(tmp_path / "tbl"))
    tbl.append(spark.createDataFrame([("a", 1)], "k string, v long"))

    def fold(head_df, partial):
        return (head_df.unionByName(partial)
                .groupBy("k").agg(F.sum("v").cast("long").alias("v")))

    fired = {"b": False}

    def derive_a(head_df, partial):
        if not fired["b"]:
            fired["b"] = True
            # writer B lands between A's head read and A's publish
            tbl.fold_batch(
                spark, spark.createDataFrame([("b", 10)],
                                             "k string, v long"),
                fold, batch_id=1)
        return fold(head_df, partial)

    v = tbl.fold_batch(
        spark, spark.createDataFrame([("a", 5)], "k string, v long"),
        derive_a, batch_id=2)
    assert v == 3  # seed=1, B=2, A retried onto 3
    final = {r.k: r.v for r in tbl.read(spark).collect()}
    assert final == {"a": 6, "b": 10}  # both folds survived

    # uncoordinated id below the high-water mark: loud, not lossy
    with pytest.raises(BatchIdRegression):
        tbl.fold_batch(
            spark, spark.createDataFrame([("c", 1)], "k string, v long"),
            fold, batch_id=1)


def test_streaming_index_append_kill_resume_matches_batch_encode(
        spark, tmp_path):
    """Streaming ANN index maintenance drill: vectors arrive in 4
    micro-batches, each encoded with FROZEN quantizers and appended
    exactly-once; the stream is KILLED between manifest publish and
    checkpoint commit on batch 1 and restarted.  Invariants: the
    replayed batch adds no version (exactly-once), every vector is
    indexed exactly once, and the streamed encodings are
    BIT-IDENTICAL to a one-shot batch encode of the same vectors."""
    from healthkit_to_sqlite_spark.catalog import load_table
    from healthkit_to_sqlite_spark.operators.similarity import (
        RES_SEED_STRIDE,
        _assign_cells,
        kmeans_centroids,
        pq_codes,
    )
    from healthkit_to_sqlite_spark.sinks.manifest import ManifestTable
    from healthkit_to_sqlite_spark.streaming.index_maintenance import (
        encode_vectors,
        index_append_writer,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") < 400)
    cent = kmeans_centroids(base)
    cells = _assign_cells(base, cent)
    res = (base.select("vec_id", "embedding")
           .join(cells, "vec_id")
           .join(F.broadcast(cent), F.col("cell") == F.col("cid"))
           .select("vec_id",
                   F.zip_with("embedding", "cemb",
                              lambda x, c: x.cast("double") - c)
                   .alias("embedding")).localCheckpoint(eager=True))
    _, book = pq_codes(res, seed_stride=RES_SEED_STRIDE)
    cent = cent.localCheckpoint(eager=True)
    book = book.localCheckpoint(eager=True)

    # "arriving" vectors: the base rows re-keyed, 4 files = 4 batches
    src_dir = str(tmp_path / "vec_src")
    for i in range(4):
        (emb.filter((F.col("vec_id") >= i * 100)
                    & (F.col("vec_id") < i * 100 + 100))
         .select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
         .coalesce(1).write.mode("append").parquet(src_dir))

    tbl = ManifestTable(str(tmp_path / "enc_tbl"))
    ckpt = str(tmp_path / "enc_ckpt")
    schema = spark.read.parquet(src_dir).schema

    def stream():
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(src_dir))

    real = index_append_writer(spark, tbl, cent, book)
    died = {"done": False}

    def dying(batch_df, batch_id):
        real(batch_df, batch_id)
        if batch_id == 1 and not died["done"]:
            died["done"] = True
            raise RuntimeError("killed after publish, before ckpt commit")

    q = (stream().writeStream.foreachBatch(dying)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert died["done"]
    v_crash = tbl.current_version()

    q2 = (stream().writeStream.foreachBatch(real)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)

    assert tbl.current_version() == v_crash + 2  # replay added nothing
    streamed = sorted(map(tuple, tbl.read(spark).collect()))
    assert len(streamed) == 400                  # each vector once
    expect = sorted(map(tuple, encode_vectors(
        spark.read.parquet(src_dir), cent, book).collect()))
    assert streamed == expect                    # bit-identical encode


def test_streaming_covariance_kill_resume_equals_batch_bitwise(
        spark, tmp_path):
    """Streaming second-moment maintenance: embeddings arrive in 4
    micro-batches, sufficient statistics fold exactly-once (decimal
    sums are associative and order-independent), the stream is killed
    between publish and checkpoint commit and restarted — and the
    derived covariance must equal the one-shot batch operator
    BIT-FOR-BIT over the same vectors."""
    from healthkit_to_sqlite_spark.catalog import load_table
    from healthkit_to_sqlite_spark.operators.similarity import (
        embedding_covariance,
    )
    from healthkit_to_sqlite_spark.sinks.manifest import ManifestTable
    from healthkit_to_sqlite_spark.streaming.moments import (
        moments_writer,
        read_covariance,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    src_dir = str(tmp_path / "mom_src")
    for i in range(4):
        (emb.filter((F.col("vec_id") >= i * 125)
                    & (F.col("vec_id") < i * 125 + 125))
         .select("vec_id", "embedding")
         .coalesce(1).write.mode("append").parquet(src_dir))

    tbl = ManifestTable(str(tmp_path / "mom_tbl"))
    ckpt = str(tmp_path / "mom_ckpt")
    schema = spark.read.parquet(src_dir).schema

    def stream():
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(src_dir))

    real = moments_writer(spark, tbl)
    died = {"done": False}

    def dying(batch_df, batch_id):
        real(batch_df, batch_id)
        if batch_id == 1 and not died["done"]:
            died["done"] = True
            raise RuntimeError("killed after publish, before ckpt commit")

    q = (stream().writeStream.foreachBatch(dying)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert died["done"]
    v_crash = tbl.current_version()

    q2 = (stream().writeStream.foreachBatch(real)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    assert tbl.current_version() == v_crash + 2  # replay no-opped

    streamed = sorted(map(tuple, read_covariance(spark, tbl).collect()))
    batch = sorted(map(tuple, embedding_covariance(emb).collect()))
    assert streamed == batch                      # bit-identical


def test_streaming_quality_scores_match_batch(spark, tmp_path):
    """The streaming quality filter (r7) must score arriving documents
    EXACTLY as the batch serve does: same committed weights, same
    in-row scorer Column (qc_score_col, shared verbatim), several
    micro-batches through the file source — streamed rows equal the
    batch q_quality_classifier result row-for-row, and every corpus
    doc arrives exactly once."""
    from healthkit_to_sqlite_spark.operators.text import (
        quality_classifier_scores,
    )
    from healthkit_to_sqlite_spark.streaming.quality import (
        run_streaming_quality,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple,
                     run_streaming_quality(spark, sf,
                                           str(tmp_path)).collect()))
    want = sorted(map(tuple,
                      quality_classifier_scores(spark, sf).collect()))
    assert got == want
    assert len(got) == len({r[0] for r in got})  # exactly-once per doc


def test_streaming_quality_picks_up_retrained_v2(spark, tmp_path):
    """Drift-loop rollout (r7 VERDICT item 7): after the retrain pass
    publishes v2 weights, pointing the streaming filter at the retrain
    catalog head must score arriving documents row-identical to the
    v2 BATCH serve — model rollout is just a catalog-head read, with
    exactly-once delivery unchanged.  Also pins that v2 is genuinely
    a different model from the one the v1-pinned streaming test above
    exercised."""
    from pyspark.sql import functions as F

    from healthkit_to_sqlite_spark.catalog import load_table
    from healthkit_to_sqlite_spark.operators.text import (
        HASH_EMBED_DIM,
        qc_score_col,
        read_qc_weights,
        read_qc_weights_at,
        retrain_quality_classifier,
    )
    from healthkit_to_sqlite_spark.streaming.quality import (
        run_streaming_quality,
    )

    sf = "/root/testdata/sf0.001"
    cat = retrain_quality_classifier(spark, sf)
    assert cat.current_version() == 2
    w2 = read_qc_weights(spark, cat)
    assert w2 != read_qc_weights_at(spark, cat, 1)  # a real new model

    got = sorted(map(tuple,
                     run_streaming_quality(spark, sf, str(tmp_path),
                                           cat=cat).collect()))
    score = qc_score_col(w2, HASH_EMBED_DIM)
    want = sorted(map(tuple,
                      load_table(spark, sf, "documents")
                      .select("doc_id",
                              F.round(score, 6).alias("qc_score"),
                              (score > 0.5).alias("pred_keep"))
                      .collect()))
    assert got == want
    assert len(got) == len({r[0] for r in got})  # exactly-once per doc


def test_streaming_cms_kill_resume_equals_batch_sketch(spark, tmp_path):
    """Streaming Count-Min maintenance: documents arrive in 4
    micro-batches, per-batch sketches fold exactly-once (integer cell
    counts are associative and order-independent), the stream is
    killed between publish and checkpoint commit and restarted — the
    maintained d×w matrix must equal the one-shot batch sketch
    BIT-FOR-BIT, and artifact estimates must match the batch probe's
    cms_n for every probe token."""
    from healthkit_to_sqlite_spark.catalog import load_table
    from healthkit_to_sqlite_spark.operators.pipeline import (
        cms_sketch,
        cms_token_counts,
    )
    from healthkit_to_sqlite_spark.sinks.manifest import ManifestTable
    from healthkit_to_sqlite_spark.streaming.sketch import (
        cms_writer,
        read_estimates,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src_dir = str(tmp_path / "cms_src")
    n = docs.count()
    step = (n + 3) // 4
    for i in range(4):
        (docs.filter((F.col("doc_id") >= i * step)
                     & (F.col("doc_id") < (i + 1) * step))
         .select("doc_id", "text")
         .coalesce(1).write.mode("append").parquet(src_dir))

    tbl = ManifestTable(str(tmp_path / "cms_tbl"))
    ckpt = str(tmp_path / "cms_ckpt")
    schema = spark.read.parquet(src_dir).schema

    def stream():
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(src_dir))

    real = cms_writer(spark, tbl)
    died = {"done": False}

    def dying(batch_df, batch_id):
        real(batch_df, batch_id)
        if batch_id == 1 and not died["done"]:
            died["done"] = True
            raise RuntimeError("killed after publish, before ckpt commit")

    q = (stream().writeStream.foreachBatch(dying)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert died["done"]
    v_crash = tbl.current_version()

    q2 = (stream().writeStream.foreachBatch(real)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    assert tbl.current_version() == v_crash + 2  # replay no-opped

    streamed = sorted(map(tuple, tbl.read(spark).collect()))
    batch = sorted(map(tuple, cms_sketch(docs).collect()))
    assert streamed == batch                      # bit-identical matrix

    probe = {r.token: r.cms_n for r in cms_token_counts(docs).collect()}
    est = {r.token: r.cms_n
           for r in read_estimates(spark, tbl, sorted(probe)).collect()}
    assert est == probe


def test_cms_read_estimates_zero_before_first_fold(spark, tmp_path):
    """The never-folded artifact reads as all-zero estimates (CMS's
    one-sided floor), not an unresolved-column error."""
    from healthkit_to_sqlite_spark.sinks.manifest import ManifestTable
    from healthkit_to_sqlite_spark.streaming.sketch import read_estimates

    tbl = ManifestTable(str(tmp_path / "cms_empty"))
    out = {r.token: r.cms_n
           for r in read_estimates(spark, tbl, ["alpha", "beta"]).collect()}
    assert out == {"alpha": 0, "beta": 0}


def test_streaming_pruned_index_kill_resume_equals_batch_prune(
        spark, tmp_path):
    """Streaming lexical index maintenance (r9 — the lexical sibling
    of the ANN index_append drill): documents arrive in 4 micro-
    batches; the writer folds each into the pruned serving artifact
    under the shared `_prune_top_m` order and appends df deltas.  The
    query is killed after batch 1 (post-publish, pre-checkpoint-
    commit) and restarted; the replayed batch must no-op at the
    manifest layer.  Final pins: the maintained artifact equals a
    from-scratch prune of the full corpus row-for-row (streamed ≡
    batch ≡ rebuild), the summed df deltas equal full-corpus df, and
    per-term rows stay ≤ m."""
    from healthkit_to_sqlite_spark.catalog import load_table
    from healthkit_to_sqlite_spark.operators.text import (
        BM25_PRUNE_M, _prune_top_m, ws_tokens)
    from healthkit_to_sqlite_spark.sinks.manifest import ManifestTable
    from healthkit_to_sqlite_spark.streaming.index_maintenance import (
        batch_postings, pruned_index_writer)

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src_dir = str(tmp_path / "doc_src")
    for i in range(4):
        (docs.filter((F.col("doc_id") >= i * 125)
                     & (F.col("doc_id") < (i + 1) * 125))
         .coalesce(1).write.mode("append").parquet(src_dir))

    pruned_tbl = ManifestTable(str(tmp_path / "pruned"))
    termdf_tbl = ManifestTable(str(tmp_path / "termdf"))
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(src_dir).schema

    def stream():
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(src_dir))

    real = pruned_index_writer(spark, pruned_tbl, termdf_tbl)
    died = {"done": False}

    def dying(batch_df, batch_id):
        real(batch_df, batch_id)
        if batch_id == 1 and not died["done"]:
            died["done"] = True
            raise RuntimeError("killed after publish, before ckpt commit")

    q = (stream().writeStream.foreachBatch(dying)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert died["done"]
    v_pruned, v_df = pruned_tbl.current_version(), termdf_tbl.current_version()

    q2 = (stream().writeStream.foreachBatch(real)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)

    # the replayed batch no-oped on both tables: exactly one more
    # version per remaining batch, none for the replay
    assert pruned_tbl.current_version() == v_pruned + 2
    assert termdf_tbl.current_version() == v_df + 2

    # streamed ≡ from-scratch prune of the full corpus
    want = sorted(map(tuple, _prune_top_m(
        batch_postings(docs), BM25_PRUNE_M).collect()))
    got = sorted(map(tuple, pruned_tbl.read(spark).collect()))
    assert got == want

    # df deltas sum to full-corpus df; per-term bound holds
    merged_df = {r.term: r.s for r in
                 termdf_tbl.read(spark).groupBy("term")
                 .agg(F.sum("df").alias("s")).collect()}
    true_df = {r.term: r.c for r in
               docs.select("doc_id", F.explode(ws_tokens("text"))
                           .alias("term"))
               .filter(F.col("term") != "").distinct()
               .groupBy("term").agg(F.count(F.lit(1)).alias("c"))
               .collect()}
    assert merged_df == true_df
    over = (pruned_tbl.read(spark).groupBy("term").count()
            .filter(F.col("count") > BM25_PRUNE_M).count())
    assert over == 0


def test_streaming_erasure_queue_kill_resume_feeds_dv_rewrite(
        spark, tmp_path):
    """Round 11: the erasure queue as a STREAM (streaming/erasure.py).
    Tombstone requests arrive one file per micro-batch; the sink dies
    between manifest publish and checkpoint commit; the restarted
    query's replayed batch no-ops (exactly-once at the queue); the
    sync folds the queue into the serving catalog's DV (version-
    guarded, no-op when the queue hasn't advanced); and the physical
    rewrite pass downstream behaves exactly as with a batch-built DV.
    A late request after the fold advances the queue and re-syncs,
    proving the full-union re-ingestion-guard semantics."""
    from pyspark.sql import functions as F

    from healthkit_to_sqlite_spark.operators.similarity import (
        FORGET_VEC_IDS, _dv_rewrite_pass, build_ann_index)
    from healthkit_to_sqlite_spark.sinks.manifest import (ManifestCatalog,
                                                          ManifestTable)
    from healthkit_to_sqlite_spark.streaming.erasure import (
        erasure_queue_writer, sync_tombstones_pass)

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "dsr_src")
    for vid in FORGET_VEC_IDS:           # one request file per id
        (spark.createDataFrame([(int(vid),)], "vec_id bigint")
         .coalesce(1).write.mode("append").parquet(src))

    queue = ManifestTable(str(tmp_path / "dsr_queue"))
    ckpt = str(tmp_path / "dsr_ckpt")
    schema = spark.read.parquet(src).schema

    def stream():
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    died = {"done": False}
    real = erasure_queue_writer(queue)

    def dying(batch_df, batch_id):
        real(batch_df, batch_id)         # queue publish lands
        if batch_id == 1 and not died["done"]:
            died["done"] = True
            raise RuntimeError("killed after publish, before ckpt commit")

    q = (stream().writeStream.foreachBatch(dying)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert died["done"]
    v_crash = queue.current_version()
    assert v_crash >= 2

    q2 = (stream().writeStream.foreachBatch(erasure_queue_writer(queue))
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    # exactly-once: the replayed batch added NO queue version
    assert queue.current_version() == v_crash + 2
    assert ({r.vec_id for r in queue.read(spark).collect()}
            == set(FORGET_VEC_IDS))

    # serving catalog that owns its artifacts, no DV yet
    base = build_ann_index(spark, sf)
    cat = ManifestCatalog(str(tmp_path / "serve_cat"))
    cat.publish_pass({t: base.read(spark, t)
                      for t in ("centroids", "cells", "codes",
                                "codebook")})

    assert sync_tombstones_pass(spark, queue, cat) == 2
    assert ({r.vec_id for r in cat.read(spark, "deleted").collect()}
            == set(FORGET_VEC_IDS))
    # version guard: unchanged queue → no scan, no publish
    assert sync_tombstones_pass(spark, queue, cat) is None
    assert cat.current_version() == 2

    # downstream indistinguishable from the batch-built DV: due cells
    # applied physically, the rest stays logical
    _dv_rewrite_pass(spark, cat)
    dec = cat.read(spark, "dv_decision").collect()
    assert any(r.rewrite_due for r in dec)
    leftover = {r.vec_id for r in cat.read(spark, "deleted").collect()}
    present = {r.vec_id for r in cat.read(spark, "cells")
               .filter(F.col("vec_id").isin(*FORGET_VEC_IDS)).collect()}
    assert present == leftover and leftover < set(FORGET_VEC_IDS)

    # a late request (new id 333 + a re-request of an applied id):
    # the queue advances, the sync re-folds — full-union semantics
    # keep every id ever requested masked (re-ingestion guard),
    # while applied ids contribute zero DV debt (they have no rows)
    (spark.createDataFrame([(333,), (int(FORGET_VEC_IDS[0]),)],
                           "vec_id bigint")
     .coalesce(1).write.mode("append").parquet(src))
    q3 = (stream().writeStream.foreachBatch(erasure_queue_writer(queue))
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    q3.awaitTermination(120)
    assert sync_tombstones_pass(spark, queue, cat) is not None
    after = {r.vec_id for r in cat.read(spark, "deleted").collect()}
    assert after == set(FORGET_VEC_IDS) | {333}

    # SECOND erasure generation: the head's decision must hold exactly
    # ONE generation (one row per cell, REPLACE-published) — appending
    # would mix the two generations' rollups indistinguishably; the
    # first generation stays time-travelable at its version
    v1_dec = sorted((r.cell, r.rewrite_due) for r in dec)
    _dv_rewrite_pass(spark, cat)
    dec2 = cat.read(spark, "dv_decision").collect()
    assert len(dec2) == len({r.cell for r in dec2}), (
        "decision generations mixed in one read")
    assert sorted((r.cell, r.rewrite_due)
                  for r in cat.read(spark, "dv_decision",
                                    version=3).collect()) == v1_dec
