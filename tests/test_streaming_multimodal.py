"""Streaming + multimodal plumbing tests."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from goodreads_pyspark_spark.multimodal import (
    MEDIA_SCHEMA,
    extract_image_features,
    sample_video_frames,
)
from goodreads_pyspark_spark.queries import REGISTRY
from goodreads_pyspark_spark.streaming import (
    hourly_by_type,
    run_to_memory_sink,
    stream_events_from_dir,
)
from tests.test_oracle_parity import STAGING_QUERIES, _norm, run_query


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_stream"))
    from goodreads_pyspark_spark.queries._helpers import events_tbl

    events_tbl(spark, "/root/testdata/sf0.001").write.mode("overwrite").parquet(out)
    return out


def test_stream_matches_batch(spark, events_dir):
    stream = stream_events_from_dir(spark, events_dir)
    assert stream.isStreaming
    sink = run_to_memory_sink(hourly_by_type(stream), output_mode="complete")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in sink.collect()
    }
    batch = hourly_by_type(spark.read.parquet(events_dir))
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-6


def _blob(w, h, luma):
    return b"FIMG" + struct.pack("<III", w, h, luma)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, "image", _blob(640, 480, 100), "image/fimg", None, None),
        (2, "image", _blob(1920, 1080, 30), "image/fimg", None, None),
        (3, "image", b"garbage-bytes", "image/fimg", None, None),
        (4, "video", None, "video/fake", 5.5, 24.0),
        (5, "video", None, "video/fake", 2.0, 30.0),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_image_feature_extraction(media_df):
    feats = {r["media_id"]: r for r in extract_image_features(media_df).collect()}
    assert feats[1]["width"] == 640 and feats[1]["height"] == 480
    assert feats[2]["mean_luma"] == 30.0
    assert feats[1]["decode_error"] is None
    # poison blob → error row, not a failed stage
    assert feats[3]["width"] is None and feats[3]["decode_error"] is not None


def test_codec_unavailable_stub(media_df):
    def no_codec(_):
        raise NotImplementedError("libjpeg not in image")

    feats = extract_image_features(media_df, decoder=no_codec).collect()
    assert all(r["decode_error"] == "codec_unavailable" for r in feats)


def test_video_frame_sampling(media_df):
    frames = sample_video_frames(media_df, every_s=1.0)
    rows = frames.collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    assert len(by_id[4]) == 5  # floor(5.5 / 1.0)
    assert len(by_id[5]) == 2
    f = sorted(by_id[4], key=lambda r: r["frame_idx"])[2]
    assert f["frame_ts"] == 2.0 and f["frame_number"] == 48  # 2s * 24fps


def test_stateful_running_totals_across_microbatches(spark, tmp_path_factory):
    """applyInPandasWithState: state must accumulate across micro-batches
    (maxFilesPerTrigger=1 forces one batch per staged file)."""
    import pyspark.sql.functions as F

    from goodreads_pyspark_spark.streaming.stateful import running_user_totals
    from goodreads_pyspark_spark.streaming.windows import EVENT_SCHEMA

    stage = str(tmp_path_factory.mktemp("stateful_events"))
    from goodreads_pyspark_spark.queries._helpers import events_tbl

    ev = events_tbl(spark, "/root/testdata/sf0.001").filter(F.col("user_id") < 20)
    # two files -> two micro-batches
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(f"{stage}/b0")
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(f"{stage}/b1")

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{stage}/*")
    )
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_totals")
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    assert n_batches >= 2  # state really crossed micro-batches

    # memory sink in update mode appends one row per touched group per
    # batch; n_events is monotone, so the max-count row per user is the
    # final state (collect order is not guaranteed)
    rows = spark.sql("SELECT * FROM stateful_totals").collect()
    final = {}
    for r in rows:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["total_value"])
    expect = {
        r["user_id"]: (r["n"], r["t"])
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert set(final) == set(expect)
    for u, (n, t) in expect.items():
        fn, ft = final[u]
        assert fn == n
        assert abs(ft - t) < 1e-6


def test_synth_media_blobs_decode_roundtrip(spark):
    """Catalyst-built FIMG blobs parse back to the oracle arithmetic."""
    from goodreads_pyspark_spark.multimodal.binary import fake_image_decoder
    from goodreads_pyspark_spark.queries.multimodal import synth_media

    docs = spark.createDataFrame(
        [(d, "x") for d in (1, 5, 97, 1023, 4096)], ["doc_id", "text"]
    )
    for r in synth_media(docs).collect():
        did = r["media_id"]
        if did % 97 == 0:
            import pytest as _pytest

            with _pytest.raises(ValueError):
                fake_image_decoder(bytes(r["content"]))
        else:
            w, h, luma = fake_image_decoder(bytes(r["content"]))
            assert (w, h, luma) == (16 + did % 1024, 16 + (did * 7) % 768, float(did % 256))


def test_resize_images_halves_dims_and_reencodes(spark):
    from goodreads_pyspark_spark.multimodal.binary import (
        fake_image_decoder,
        resize_images,
    )
    from goodreads_pyspark_spark.queries.multimodal import synth_media

    docs = spark.createDataFrame([(8, "x"), (97, "x")], ["doc_id", "text"])
    rows = {r["media_id"]: r for r in resize_images(synth_media(docs)).collect()}
    good = rows[8]
    w, h, luma = fake_image_decoder(bytes(good["content"]))
    assert (w, h) == (good["width"], good["height"]) == ((16 + 8) // 2, (16 + 56) // 2)
    assert luma == 8.0 and good["decode_error"] is None
    bad = rows[97]
    assert bad["content"] is None and bad["decode_error"] == "not a FIMG blob"


def test_streaming_dedup_exactly_once(spark, tmp_path_factory):
    """Duplicates planted across files are emitted exactly once; the same
    function on a batch frame degrades to plain dropDuplicates."""
    from goodreads_pyspark_spark.queries._helpers import events_tbl
    from goodreads_pyspark_spark.streaming import dedup_events, run_to_memory_sink, stream_events_from_dir

    out = str(tmp_path_factory.mktemp("dedup_stream"))
    events = events_tbl(spark, "/root/testdata/sf0.001").limit(200).cache()
    events.write.mode("overwrite").parquet(out)
    events.write.mode("append").parquet(out)

    got = run_to_memory_sink(
        dedup_events(stream_events_from_dir(spark, out)),
        output_mode="append",
    )
    assert got.count() == 200
    assert got.select("event_id").distinct().count() == 200

    batch = spark.read.parquet(out)
    assert batch.count() == 400
    assert dedup_events(batch).count() == 200


def test_stream_foreachbatch_parquet_sink(spark, events_dir, tmp_path_factory):
    """Production-sink shape: stream -> foreachBatch -> partitioned parquet
    with a checkpoint. Content must equal the batch aggregate, and the
    checkpoint directory must exist (restart safety)."""
    import os
    import uuid

    out = str(tmp_path_factory.mktemp("fb_sink"))
    ckpt = str(tmp_path_factory.mktemp("fb_ckpt"))

    def write_batch(batch_df, batch_id: int) -> None:
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out))

    stream = stream_events_from_dir(spark, events_dir)
    agg = hourly_by_type(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .queryName(f"fb_{uuid.uuid4().hex[:8]}")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(out)
    batch = hourly_by_type(spark.read.parquet(events_dir))
    # last completed batch carries the full complete-mode aggregate
    last = got.agg(F.max("batch_id")).first()[0]
    final = got.filter(F.col("batch_id") == last).drop("batch_id")
    assert final.count() == batch.count()
    diff = final.select("window_start", "event_type", "n_events").exceptAll(
        batch.select("window_start", "event_type", "n_events")
    )
    assert diff.count() == 0
    assert os.listdir(ckpt), "checkpoint directory empty"


def test_session_window_merges_at_exact_gap(spark):
    """Spark merges sessions that TOUCH: events exactly gap apart are one
    session (the t17 oracle's strictly-greater break condition depends on
    this — if Spark ever flips to half-open windows this fails first)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.streaming import sessionized_by_user

    rows = [
        (1, dt.datetime(2020, 1, 1, 0, 0, 0)),
        (1, dt.datetime(2020, 1, 1, 0, 30, 0)),  # exactly gap later -> merge
        (1, dt.datetime(2020, 1, 1, 1, 0, 1)),  # 1s past gap -> new session
        (2, dt.datetime(2020, 1, 1, 0, 0, 0)),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in sessionized_by_user(ev).collect()
    }
    assert got == {
        (1, dt.datetime(2020, 1, 1, 0, 0, 0)): 2,
        (1, dt.datetime(2020, 1, 1, 1, 0, 1)): 1,
        (2, dt.datetime(2020, 1, 1, 0, 0, 0)): 1,
    }


def test_stream_restart_from_checkpoint_is_exactly_once(
    spark, events_dir, tmp_path_factory
):
    """Restart safety: stop a checkpointed stream, land new files, start a
    NEW query on the same checkpoint — already-committed input must not
    be reprocessed (no duplicate event_ids in the sink), new input must
    land exactly once. This is the recovery contract a production
    foreachBatch sink depends on."""
    import uuid

    src = str(tmp_path_factory.mktemp("ckpt_src"))
    out = str(tmp_path_factory.mktemp("ckpt_out"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_ckpt"))

    events = spark.read.parquet(events_dir)
    a = events.filter(F.col("event_id") % 2 == 0)
    b = events.filter(F.col("event_id") % 2 == 1)
    a.write.mode("append").parquet(src)

    def write_batch(batch_df, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    def run_once() -> None:
        q = (
            stream_events_from_dir(spark, src)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .queryName(f"ck_{uuid.uuid4().hex[:8]}")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    n_a = spark.read.parquet(out).count()
    assert n_a == a.count()

    b.write.mode("append").parquet(src)
    run_once()  # new query object, same checkpoint
    sunk = spark.read.parquet(out)
    assert sunk.count() == a.count() + b.count()
    assert sunk.select("event_id").distinct().count() == events.count()


def test_session_timeout_close_paths(spark, tmp_path_factory):
    """session_close_by_timeout (r6): a constructed 4-wave stream pins both
    close paths — user 1's first session MUST close via the event-time
    TIMEOUT in wave 3 (silence: only user 2 flows, watermark passes the
    deadline), every tail session closes via the sentinel-driven final
    timeout, and user 3's exactly-gap-apart pair merges (touching sessions
    are one, the F.session_window rule)."""
    import datetime as dt
    import os

    from goodreads_pyspark_spark.streaming import session_close_by_timeout
    from goodreads_pyspark_spark.streaming.windows import EVENT_SCHEMA

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(user, minutes, eid):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, "view", 1.0, None)

    waves = [
        # w1: u1 opens (0,10); u2 opens (5,25); u3 exactly-touching pair;
        # u4's second event is >gap after the first -> inline 'gap' close
        # (kept at 40m: a far-future event here would advance the global
        # watermark past later waves' events and drop them as late)
        [ev(1, 0, 1), ev(1, 10, 2), ev(2, 5, 3), ev(2, 25, 4),
         ev(3, 0, 5), ev(3, 30, 6), ev(4, 0, 13), ev(4, 40, 14)],
        # w2: u2 only — watermark (25-10=15m) still below u1 deadline (40m)
        [ev(2, 45, 7), ev(2, 65, 8)],
        # w3: u2 only — watermark (65-10=55m) passes u1 deadline -> TIMEOUT
        [ev(2, 85, 9), ev(2, 105, 10)],
        # w4: u1 returns (new session) + far-future sentinel flushes tails
        [ev(1, 180, 11), ev(1, 185, 12),
         (99, t0 + dt.timedelta(days=30), -1, "view", 0.0, None)],
    ]
    stage = str(tmp_path_factory.mktemp("s11_unit"))
    base = 1_700_000_000
    for i, rows in enumerate(waves):
        sub = os.path.join(stage, "_w")
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(sub)
        import glob as g

        (part,) = g.glob(os.path.join(sub, "*.parquet"))
        dst = os.path.join(stage, f"wave-{i}.parquet")
        os.replace(part, dst)
        os.utime(dst, (base + i, base + i))

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .withWatermark("ts", "10 minutes")
    )
    q = (
        session_close_by_timeout(stream, gap_minutes=30)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("s11_unit")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["user_id"], r["session_start"]): (
            r["session_end"],
            r["n_events"],
            r["closed_by"],
        )
        for r in spark.table("s11_unit").filter(F.col("user_id") >= 0).collect()
    }
    m = dt.timedelta(minutes=1)
    assert got == {
        (1, t0): (t0 + 40 * m, 2, "timeout"),          # mid-stream silence
        (1, t0 + 180 * m): (t0 + 215 * m, 2, "timeout"),  # tail flush
        (2, t0 + 5 * m): (t0 + 135 * m, 6, "timeout"),    # tail flush
        (3, t0): (t0 + 60 * m, 2, "timeout"),  # touching pair = ONE session
        (4, t0): (t0 + 30 * m, 1, "gap"),      # inline same-batch close
        (4, t0 + 40 * m): (t0 + 70 * m, 1, "timeout"),  # mid-stream (w4)
    }


@pytest.mark.parametrize("name", sorted(STAGING_QUERIES))
def test_memory_sink_query_leaves_no_view(spark, duck, staging_runs, name):
    """A query that drives a stream (memory sink or foreachBatch) or
    stages managed tables or temp views tears it all down: the catalog's
    tables and temp views are unchanged afterwards, and so is the
    warehouse dir, no streaming query is still active, no staging dir is
    left in the temp dir, and the answer still matches the oracle. Reads
    the query's one run of the test session (``run_query``)."""
    cols, rows, left = run_query(spark, name, staging_runs)
    assert left.tables_after == left.tables_before
    assert left.streams == []
    assert left.tmp_dirs == set()
    assert left.warehouse_dirs == set()
    res = duck.execute(REGISTRY[name].oracle)
    d_cols = [d[0] for d in res.description]
    assert _norm(cols, rows) == _norm(d_cols, res.fetchall())
