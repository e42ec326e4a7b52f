"""Streaming semantics tests (SURVEY.md §5.3) — replay-vs-batch
equivalence, MERGE idempotence under duplicate delivery, watermark
late-data behavior.  File-source micro-batches driven synchronously
with ``processAllAvailable``."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import cdc, enrich, rollups
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.sources import cdc_feed
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import pipeline as sp
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.tables import load_table
from tests.oracle_utils import frame_rows


def _write_feed_files(df, out_dir: str, n_files: int = 3) -> None:
    df.repartition(n_files).write.mode("overwrite").text(out_dir)


def test_require_dim_raises_descriptive_error_when_missing(spark, tmp_path):
    """A missing dimension surfaces as a named FileNotFoundError, not an
    AttributeError on ``None.select`` (ADVICE r3)."""
    missing = str(tmp_path / "no_dim_here")
    with pytest.raises(FileNotFoundError, match="not yet published"):
        sp.require_dim(spark, missing)
    with pytest.raises(FileNotFoundError, match="not yet published"):
        sp.enriched_event_stream(
            spark, sp.read_json_lines_stream(spark, str(tmp_path)), missing
        )


def test_dim_maintenance_stream_equals_batch_compaction(spark, sf_dir, tmp_path):
    """Replaying the content CDC feed through the streaming dim
    maintainer must land in the same state as batch latest-wins
    compaction (J2 / T4)."""
    part = load_table(spark, sf_dir, "part")
    feed = cdc_feed.content_cdc_json(part)
    feed_dir = str(tmp_path / "content_feed")
    _write_feed_files(feed.selectExpr("value"), feed_dir)

    dim_dir = str(tmp_path / "dim")
    stream = sp.read_json_lines_stream(spark, feed_dir)
    q = sp.maintain_dim_table(spark, stream, dim_dir, str(tmp_path / "ckpt_dim"))
    q.processAllAvailable()
    q.stop()

    got = sp.read_dim(spark, dim_dir).select("id", "content_type", "length_seconds")
    want = enrich.compact_dim_latest(cdc.unwrap_content(feed)).select(
        "id", "content_type", "length_seconds"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_warehouse_merge_idempotent_under_duplicate_delivery(spark, sf_dir, tmp_path):
    """A2/T8: replaying the duplicated feed through the foreachBatch
    MERGE sink yields exactly the batch dedup result — the engine's
    exactly-once upgrade over ReplacingMergeTree's eventual dedup."""
    events = load_table(spark, sf_dir, "events").limit(400)
    part = load_table(spark, sf_dir, "part")
    dup_feed = cdc_feed.duplicated_engagement_cdc_json(events)

    feed_dir = str(tmp_path / "ev_feed")
    _write_feed_files(dup_feed, feed_dir, n_files=4)

    # static dim the stream joins against
    dim_dir = str(tmp_path / "dim")
    enrich.compact_dim_latest(cdc.unwrap_content(cdc_feed.content_cdc_json(part))).write.mode(
        "overwrite"
    ).parquet(dim_dir)

    wh_dir = str(tmp_path / "warehouse")
    stream = sp.read_json_lines_stream(spark, feed_dir)
    enriched = sp.enriched_event_stream(spark, stream, dim_dir)
    q = sp.start_warehouse_sink(enriched, wh_dir, str(tmp_path / "ckpt_wh"))
    q.processAllAvailable()
    q.stop()

    got = spark.read.parquet(wh_dir).select("event_id", "event_ts", "duration_ms")
    want = rollups.dedup_latest_event_version(
        enrich.enrich_events(
            cdc.unwrap_engagement(dup_feed),
            enrich.compact_dim_latest(cdc.unwrap_content(cdc_feed.content_cdc_json(part))),
        )
    ).select("event_id", "event_ts", "duration_ms")
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert len(g) == len(w) and g == w
    # keys unique — duplicates collapsed
    assert len({r[0] for r in g}) == len(g)


def test_streaming_hourly_rollup_equals_batch(spark, sf_dir, tmp_path):
    """A1 as a streaming stateful agg must converge to the batch
    rollup (complete mode, memory sink)."""
    events = load_table(spark, sf_dir, "events").limit(500)
    part = load_table(spark, sf_dir, "part")
    feed = cdc_feed.engagement_cdc_json(events)
    feed_dir = str(tmp_path / "feed")
    _write_feed_files(feed, feed_dir)

    dim_dir = str(tmp_path / "dim")
    enrich.compact_dim_latest(cdc.unwrap_content(cdc_feed.content_cdc_json(part))).write.mode(
        "overwrite"
    ).parquet(dim_dir)

    enriched = sp.enriched_event_stream(spark, sp.read_json_lines_stream(spark, feed_dir), dim_dir)
    agg = sp.streaming_hourly_rollup(enriched)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("hourly_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_roll"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = spark.sql(
        "SELECT hour_window.start AS hour_ts, content_type, event_type, cnt, total_score FROM hourly_out"
    )
    want = rollups.hourly_rollup(
        enrich.enrich_events(
            cdc.unwrap_engagement(feed),
            enrich.compact_dim_latest(cdc.unwrap_content(cdc_feed.content_cdc_json(part))),
        )
    ).select(F.col("hour_ts"), "content_type", "event_type", "cnt", "total_score")
    assert frame_rows(got.columns, [tuple(r) for r in got.collect()]) == frame_rows(
        want.columns, [tuple(r) for r in want.collect()]
    )


def test_watermark_drops_very_late_rows(spark, tmp_path):
    """T1/T6: in append mode a row older than the watermark is dropped
    from the windowed agg; fresh rows pass."""
    feed_dir = str(tmp_path / "late_feed")
    os.makedirs(feed_dir)

    def envelope(eid: int, ts: str) -> str:
        return (
            '{"payload": {"op": "c", "after": {"id": "%d", "user_id": "1", '
            '"content_id": "5", "event_type": "view", "device": "web", '
            '"duration_ms": 1000, "event_ts": "%s"}, '
            '"source": {"ts_ms": 1, "db": "d", "table": "t"}}}' % (eid, ts)
        )

    # batch 1: events at 10:00 and 12:00 → watermark advances to 11:59:30
    with open(f"{feed_dir}/b1.txt", "w") as f:
        f.write(envelope(1, "2024-01-01T10:00:00") + "\n")
        f.write(envelope(2, "2024-01-01T12:00:00") + "\n")

    events = cdc.unwrap_engagement(spark.readStream.text(feed_dir)).withWatermark(
        "event_ts", sp.WATERMARK_DELAY
    )
    agg = events.groupBy(F.window("event_ts", "1 hour").alias("w")).agg(F.count("*").alias("cnt"))
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .start()
    )
    q.processAllAvailable()
    # batch 2: one very late event (09:30, far behind watermark) and one fresh (12:05)
    with open(f"{feed_dir}/b2.txt", "w") as f:
        f.write(envelope(3, "2024-01-01T09:30:00") + "\n")
        f.write(envelope(4, "2024-01-01T12:05:00") + "\n")
    q.processAllAvailable()
    # batch 3: push watermark forward so finalized windows flush
    with open(f"{feed_dir}/b3.txt", "w") as f:
        f.write(envelope(5, "2024-01-01T15:00:00") + "\n")
    q.processAllAvailable()
    q.stop()

    out = {
        (r["w"]["start"].hour, r["cnt"])
        for r in spark.sql("SELECT * FROM late_out").collect()
    }
    # 10:00 window has exactly 1 row — the 09:30 straggler was dropped;
    # 12:00 window counts both the on-time and the slightly-late row
    assert (10, 1) in out
    assert (12, 2) in out
    assert not any(h == 9 for h, _ in out)


def test_checkpoint_restart_resumes_without_duplicates(spark, sf_dir, tmp_path):
    """T7/T9: stop the warehouse pipeline, restart from the same
    checkpoint, feed more data — the final table equals a single
    uninterrupted run (offsets resume; MERGE keeps replays idempotent)."""
    events = load_table(spark, sf_dir, "events").limit(300)
    part = load_table(spark, sf_dir, "part")
    feed = cdc_feed.engagement_cdc_json(events).collect()
    half = len(feed) // 2
    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir)
    with open(f"{feed_dir}/b1.txt", "w") as f:
        f.write("\n".join(r["value"] for r in feed[:half]) + "\n")

    dim_dir = str(tmp_path / "dim")
    enrich.compact_dim_latest(cdc.unwrap_content(cdc_feed.content_cdc_json(part))).write.mode(
        "overwrite"
    ).parquet(dim_dir)

    wh_dir = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")

    q1 = sp.start_enriched_warehouse_pipeline(
        spark, sp.read_json_lines_stream(spark, feed_dir), dim_dir, wh_dir, ckpt
    )
    q1.processAllAvailable()
    q1.stop()
    n_after_first = spark.read.parquet(wh_dir).count()
    assert 0 < n_after_first < len(feed)

    # restart from the same checkpoint; deliver the rest
    with open(f"{feed_dir}/b2.txt", "w") as f:
        f.write("\n".join(r["value"] for r in feed[half:]) + "\n")
    q2 = sp.start_enriched_warehouse_pipeline(
        spark, sp.read_json_lines_stream(spark, feed_dir), dim_dir, wh_dir, ckpt
    )
    q2.processAllAvailable()
    q2.stop()

    got = spark.read.parquet(wh_dir)
    want = enrich.enrich_events(
        cdc.unwrap_engagement(spark.createDataFrame(feed)),
        enrich.compact_dim_latest(cdc.unwrap_content(cdc_feed.content_cdc_json(part))),
    )
    assert got.count() == want.count()
    assert got.select("event_id").distinct().count() == got.count()


def test_merge_upsert_rewrites_only_affected_months(spark, tmp_path):
    """The MERGE emulation must be partition-scoped: a batch touching
    only 2024-02 leaves 2024-01's files bit-identical (same names,
    same mtimes) — the property that keeps per-batch cost O(affected
    months) instead of O(table)."""
    import datetime as dt

    schema = "event_id long, event_ts timestamp, v long"
    tgt = str(tmp_path / "merge_tgt")
    b1 = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 10), 5), (2, dt.datetime(2024, 2, 10), 6)], schema
    )
    sp.merge_upsert_parquet(b1, tgt, key="event_id", version="event_ts")

    jan = os.path.join(tgt, "event_month=202401")
    snap = lambda d: {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}  # noqa: E731
    jan_before = snap(jan)

    # batch touching only February: upsert id=2 (newer version) + insert id=3
    b2 = spark.createDataFrame(
        [(2, dt.datetime(2024, 2, 12), 60), (3, dt.datetime(2024, 2, 11), 7)], schema
    )
    sp.merge_upsert_parquet(b2, tgt, key="event_id", version="event_ts")

    assert snap(jan) == jan_before, "untouched month was rewritten"
    got = {
        (r["event_id"], r["v"])
        for r in spark.read.parquet(tgt).select("event_id", "v").collect()
    }
    assert got == {(1, 5), (2, 60), (3, 7)}

    # replaying the same batch is a no-op on content (idempotent)
    sp.merge_upsert_parquet(b2, tgt, key="event_id", version="event_ts")
    n = spark.read.parquet(tgt).count()
    assert n == 3
    assert snap(jan) == jan_before


def test_outbox_sink_writes_null_free_json(spark, sf_dir, tmp_path):
    """K3: outbox JSON omits null fields (ESJ:366-381 semantics)."""
    events = load_table(spark, sf_dir, "events").limit(200)
    part = load_table(spark, sf_dir, "part")
    feed_dir = str(tmp_path / "feed")
    _write_feed_files(cdc_feed.engagement_cdc_json(events), feed_dir)
    dim_dir = str(tmp_path / "dim")
    enrich.compact_dim_latest(cdc.unwrap_content(cdc_feed.content_cdc_json(part))).write.mode(
        "overwrite"
    ).parquet(dim_dir)

    out_dir = str(tmp_path / "outbox")
    enriched = sp.enriched_event_stream(spark, sp.read_json_lines_stream(spark, feed_dir), dim_dir)
    q = sp.start_outbox_sink(enriched, out_dir, str(tmp_path / "ckpt_out"))
    q.processAllAvailable()
    q.stop()

    lines = spark.read.text(out_dir)
    n = lines.count()
    assert n > 0
    # click events carry no duration; their payload must omit the field
    clicks_with_duration = lines.where(
        F.col("value").contains('"event_type":"click"') & F.col("value").contains('"duration_ms"')
    ).count()
    assert clicks_with_duration == 0


def test_dedup_within_watermark_drops_redelivered_events(spark, sf_dir, tmp_path):
    """T8 stream-side dedup: re-delivering the identical CDC feed must
    yield exactly one row per event_id (first-arrival-wins), matching
    the batch-normalized feed bit-for-bit."""
    events = load_table(spark, sf_dir, "events").limit(300)
    feed = cdc_feed.engagement_cdc_json(events).selectExpr("value")
    feed_dir = str(tmp_path / "dup_feed")
    feed.repartition(2).write.mode("overwrite").text(feed_dir)
    # second delivery of the same payloads (new files, same contents)
    feed.repartition(3).write.mode("append").text(feed_dir)

    out_dir = str(tmp_path / "deduped")
    stream = sp.dedup_within_watermark_stream(sp.read_json_lines_stream(spark, feed_dir))
    q = (
        stream.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = spark.read.parquet(out_dir).select("event_id", "event_ts", "duration_ms")
    want = cdc.unwrap_engagement(feed).select("event_id", "event_ts", "duration_ms")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_sliding_windows_equal_batch(spark, sf_dir, tmp_path):
    """Hopping windows (10 min length, 5 min hop): the streaming
    stateful agg must converge to the identical batch hopping-window
    aggregation — every event in exactly length/hop windows."""
    events = load_table(spark, sf_dir, "events").limit(500)
    part = load_table(spark, sf_dir, "part")
    feed = cdc_feed.engagement_cdc_json(events)
    feed_dir = str(tmp_path / "feed_sw")
    _write_feed_files(feed, feed_dir)
    dim_dir = str(tmp_path / "dim_sw")
    dim = enrich.compact_dim_latest(cdc.unwrap_content(cdc_feed.content_cdc_json(part)))
    dim.write.mode("overwrite").parquet(dim_dir)

    enriched = sp.enriched_event_stream(spark, sp.read_json_lines_stream(spark, feed_dir), dim_dir)
    q = (
        sp.streaming_sliding_counts(enriched)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sliding_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_sw"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = spark.sql(
        "SELECT w.start AS w_start, event_type, cnt, total_score FROM sliding_out"
    )
    want = (
        enrich.enrich_events(cdc.unwrap_engagement(feed), dim)
        .groupBy(F.window("event_ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("engagement_score").cast("decimal(18,2)")).cast("double").alias("total_score"),
        )
        .select(F.col("w.start").alias("w_start"), "event_type", "cnt", "total_score")
    )
    # each event appears in exactly 2 windows (10/5)
    n_events = cdc.unwrap_engagement(feed).count()
    assert want.agg(F.sum("cnt")).first()[0] == 2 * n_events
    assert frame_rows(got.columns, [tuple(r) for r in got.collect()]) == frame_rows(
        want.columns, [tuple(r) for r in want.collect()]
    )


def test_stream_metrics_observed_per_batch(spark, sf_dir, tmp_path):
    """observe() metrics must report exactly the processed rows and
    dim misses across micro-batches (summed over progress events) with
    no extra pass over the data."""
    events = load_table(spark, sf_dir, "events").limit(400)
    part = load_table(spark, sf_dir, "part")
    feed = cdc_feed.engagement_cdc_json(events)
    feed_dir = str(tmp_path / "feed_obs")
    _write_feed_files(feed, feed_dir)
    dim_dir = str(tmp_path / "dim_obs")
    dim = enrich.compact_dim_latest(cdc.unwrap_content(cdc_feed.content_cdc_json(part)))
    dim.write.mode("overwrite").parquet(dim_dir)

    enriched = sp.with_stream_metrics(
        sp.enriched_event_stream(spark, sp.read_json_lines_stream(spark, feed_dir), dim_dir)
    )
    q = (
        enriched.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt_obs"))
        .start()
    )
    q.processAllAvailable()
    progress = list(q.recentProgress)
    q.stop()

    got_rows = sum(
        p["observedMetrics"]["cdc_metrics"]["n_rows"]
        for p in progress
        if p.get("observedMetrics", {}).get("cdc_metrics")
    )
    got_miss = sum(
        p["observedMetrics"]["cdc_metrics"]["n_dim_miss"]
        for p in progress
        if p.get("observedMetrics", {}).get("cdc_metrics")
    )
    batch = enrich.enrich_events(cdc.unwrap_engagement(feed), dim)
    assert got_rows == batch.count()
    assert got_miss == batch.where(F.col("content_type").isNull()).count()


def test_available_now_trigger_drains_and_terminates(spark, sf_dir, tmp_path):
    """T9 backfill mode: availableNow processes the existing backlog in
    bounded micro-batches and terminates on its own — the batch-drain
    trigger a scheduled backfill job uses (no manual stop)."""
    events = load_table(spark, sf_dir, "events").limit(300)
    feed = cdc_feed.engagement_cdc_json(events).selectExpr("value")
    feed_dir = str(tmp_path / "feed_an")
    _write_feed_files(feed, feed_dir)

    out_dir = str(tmp_path / "out_an")
    stream = cdc.unwrap_engagement(sp.read_json_lines_stream(spark, feed_dir))
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt_an"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow query did not self-terminate"
    got = spark.read.parquet(out_dir).count()
    assert got == cdc.unwrap_engagement(feed).count()


def test_streaming_session_window_equals_batch(spark, sf_dir, tmp_path):
    """Stateful merging session windows (30 s gap) in the stream must
    converge to the batch session_window aggregation — the native
    analog of the batch sessionize operator's gap logic."""
    events = load_table(spark, sf_dir, "events").limit(400)
    feed = cdc_feed.engagement_cdc_json(events).selectExpr("value")
    feed_dir = str(tmp_path / "feed_sess")
    _write_feed_files(feed, feed_dir)

    stream = cdc.unwrap_engagement(sp.read_json_lines_stream(spark, feed_dir)).withWatermark(
        "event_ts", "30 seconds"
    )
    agg = stream.groupBy(
        F.session_window("event_ts", "30 seconds").alias("w"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = spark.sql("SELECT w.start AS s, w.end AS e, user_id, n_events FROM sess_out")
    want = (
        cdc.unwrap_engagement(feed)
        .groupBy(F.session_window("event_ts", "30 seconds").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("s"), F.col("w.end").alias("e"), "user_id", "n_events")
    )
    assert frame_rows(got.columns, [tuple(r) for r in got.collect()]) == frame_rows(
        want.columns, [tuple(r) for r in want.collect()]
    )


def test_dim_maintenance_versions_are_immutable_and_atomic(spark, sf_dir, tmp_path):
    """The dim maintainer must never mutate a published snapshot: each
    micro-batch writes a NEW version dir and atomically swaps the
    ``_CURRENT`` pointer, so a reader that resolved the pointer just
    before a maintenance batch still scans an intact directory (the
    in-place-overwrite race the round-2 verdict flagged)."""
    import hashlib

    part = load_table(spark, sf_dir, "part").limit(300)
    feed = cdc_feed.content_cdc_json(part).collect()
    half = len(feed) // 2
    feed_dir = str(tmp_path / "cfeed")
    os.makedirs(feed_dir)
    with open(f"{feed_dir}/b1.txt", "w") as f:
        f.write("\n".join(r["value"] for r in feed[:half]) + "\n")

    dim_dir = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt_dim")
    q1 = sp.maintain_dim_table(spark, sp.read_json_lines_stream(spark, feed_dir), dim_dir, ckpt)
    q1.processAllAvailable()
    q1.stop()

    v0 = sp._dim_current_version(dim_dir)
    assert v0 is not None
    v0_dir = os.path.join(dim_dir, v0)

    def snapshot(d):
        out = {}
        for fn in sorted(os.listdir(d)):
            p = os.path.join(d, fn)
            if os.path.isfile(p):
                with open(p, "rb") as fh:
                    out[fn] = hashlib.md5(fh.read()).hexdigest()
        return out

    v0_bytes = snapshot(v0_dir)
    # a concurrent reader resolves the pointer NOW (pre-swap) ...
    reader_df = spark.read.parquet(v0_dir)

    # ... while a second maintenance batch publishes a new version
    with open(f"{feed_dir}/b2.txt", "w") as f:
        f.write("\n".join(r["value"] for r in feed[half:]) + "\n")
    q2 = sp.maintain_dim_table(spark, sp.read_json_lines_stream(spark, feed_dir), dim_dir, ckpt)
    q2.processAllAvailable()
    q2.stop()

    v1 = sp._dim_current_version(dim_dir)
    assert v1 is not None and v1 != v0
    # the old snapshot is retained (keep=2) and byte-identical
    assert snapshot(v0_dir) == v0_bytes
    # the pre-swap reader still completes against the intact old version
    assert reader_df.count() > 0

    # and the new snapshot equals batch latest-wins compaction of the full feed
    got = sp.read_dim(spark, dim_dir).select("id", "content_type", "length_seconds")
    want = enrich.compact_dim_latest(
        cdc.unwrap_content(spark.createDataFrame(feed))
    ).select("id", "content_type", "length_seconds")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_document_dedup_keeps_one_per_digest(spark, sf_dir, tmp_path):
    """LLM-corpus ingest dedup (streaming twin of exact_dedup_groups):
    exactly one survivor per normalized-content digest, digest set
    identical to the batch view, duplicates dropped in-stream."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.functions.text import (
        normalize_text,
    )
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import dedup

    docs = dedup.with_exact_duplicates(load_table(spark, sf_dir, "documents").limit(400))
    src = docs.select(
        "doc_id",
        "text",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") % 60).alias("ingest_ts"),
    )
    feed_dir = str(tmp_path / "docfeed")
    src.write.mode("overwrite").parquet(feed_dir)

    stream = spark.readStream.schema("doc_id long, text string, ingest_ts timestamp").parquet(
        feed_dir
    )
    q = (
        sp.dedup_documents_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("docdedup")
        .option("checkpointLocation", str(tmp_path / "ckpt_docdedup"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    kept = spark.sql("SELECT doc_id, text_md5 FROM docdedup").collect()
    want_digests = {
        r["d"] for r in docs.select(F.md5(normalize_text(F.col("text"))).alias("d")).collect()
    }
    assert {r["text_md5"] for r in kept} == want_digests
    assert len(kept) == len(want_digests)  # exactly one survivor each
    # survivors are real input docs carrying their own digest
    src_digest = {
        r["doc_id"]: r["d"]
        for r in docs.select("doc_id", F.md5(normalize_text(F.col("text"))).alias("d")).collect()
    }
    assert all(src_digest[r["doc_id"]] == r["text_md5"] for r in kept)


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, tmp_path):
    """T+ stream-stream: replaying BOTH feeds through the watermarked
    interval join lands exactly the batch attribution rows, and the
    result is non-trivial (the dim updates cluster at the feed epoch,
    so a day-wide tolerance catches the epoch's engagement)."""
    events = load_table(spark, sf_dir, "events").limit(600)
    part = load_table(spark, sf_dir, "part")
    ev_feed = cdc_feed.engagement_cdc_json(events).selectExpr("value")
    ct_feed = cdc_feed.content_cdc_json(part).selectExpr("value")
    ev_dir, ct_dir = str(tmp_path / "ev_feed"), str(tmp_path / "ct_feed")
    _write_feed_files(ev_feed, ev_dir)
    _write_feed_files(ct_feed, ct_dir)

    joined = sp.stream_stream_update_attribution(
        sp.read_json_lines_stream(spark, ev_dir),
        sp.read_json_lines_stream(spark, ct_dir),
        tolerance="24 hours",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "attr_out"))
        .option("checkpointLocation", str(tmp_path / "ckpt_attr"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = spark.read.parquet(str(tmp_path / "attr_out"))
    want = sp.attribute_events_to_updates(
        cdc.unwrap_engagement(ev_feed),
        sp.content_update_stream(ct_feed),
        tolerance="24 hours",
    )
    assert want.count() > 0, "tolerance window matched nothing — test is vacuous"
    assert sorted(map(tuple, got.select(*want.columns).collect())) == sorted(
        map(tuple, want.collect())
    )


def test_dim_time_travel_reads_retained_versions(spark, tmp_path):
    """T4+: each publish is an immutable snapshot; time travel reaches
    any retained version and names the retained set when asked for a
    pruned one."""
    import pytest

    dim_dir = str(tmp_path / "dim")
    for ver, secs in enumerate([60, 120, 180, 240]):
        df = spark.createDataFrame([(7, secs)], "id long, length_seconds long")
        sp._publish_dim_version(df, dim_dir, keep=3)

    vers = sp.list_dim_versions(dim_dir)
    assert vers == ["v-0000000001", "v-0000000002", "v-0000000003"]  # keep=3 of 4
    assert sp.read_dim_version(spark, dim_dir, 2).first()["length_seconds"] == 180
    assert sp.read_dim_version(spark, dim_dir, "v-0000000003").first()["length_seconds"] == 240
    # current pointer agrees with the newest version
    assert sp.read_dim(spark, dim_dir).first()["length_seconds"] == 240
    with pytest.raises(FileNotFoundError, match="not retained"):
        sp.read_dim_version(spark, dim_dir, 0)


def test_epoch_marker_rejects_foreign_checkpoint(tmp_path):
    """Epoch ids are only comparable within one checkpoint: a sink
    pointed at state written under a different checkpoint must fail
    loudly — silently skipping would drop that query's first N
    batches, silently applying would double-count."""
    import pytest

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
        pipeline as sp,
    )

    base = str(tmp_path / "state")
    ck_a = str(tmp_path / "ck_a")
    ck_b = str(tmp_path / "ck_b")
    sp._record_epoch(base, 41, ck_a)
    assert sp._epoch_already_applied(base, 41, ck_a)
    assert not sp._epoch_already_applied(base, 42, ck_a)
    with pytest.raises(RuntimeError, match="different|checkpoint"):
        sp._epoch_already_applied(base, 0, ck_b)


def test_foreach_batch_sink_guard_apply_marker_maintenance_order(spark, tmp_path):
    """The sink combinator's ordering contract on a real file stream:
    replay guard, apply, epoch marker, then after_commit — so a replayed
    or crashed-in-maintenance epoch is never applied twice, a foreign
    checkpoint fails before apply, and a skipped empty batch leaves no
    marker."""
    feed, meta, ck = tmp_path / "feed", str(tmp_path / "meta"), str(tmp_path / "ck")
    feed.mkdir()
    applied = []

    def start(checkpoint, meta_dir=meta, source=feed, **kw):
        return sp._foreach_batch_sink(
            spark.readStream.text(str(source)),
            checkpoint,
            lambda batch, epoch: applied.append(epoch),
            meta_dir=meta_dir,
            **kw,
        )

    def drain(q):
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def last_epoch(meta_dir=meta):
        with open(os.path.join(meta_dir, "_LAST_EPOCH")) as fh:
            return int(fh.read().splitlines()[0])

    # maintenance that crashes once: the epoch is already recorded, and
    # the restart that re-delivers it applies nothing
    crashes = [RuntimeError("maintenance crashed")]

    def flaky(batch, epoch):
        if crashes:
            raise crashes.pop()

    (feed / "a.txt").write_text("a\n")
    with pytest.raises(Exception, match="maintenance crashed"):
        drain(start(ck, after_commit=flaky))
    assert applied == [0] and last_epoch() == 0
    drain(start(ck, after_commit=flaky))
    assert applied == [0] and last_epoch() == 0

    # a clean restart replay of a recorded epoch: drop the checkpoint's
    # commit so Spark re-runs epoch 1 — the guard skips it
    (feed / "b.txt").write_text("b\n")
    drain(start(ck))
    assert applied == [0, 1] and last_epoch() == 1
    for name in ("1", ".1.crc"):
        path = os.path.join(ck, "commits", name)
        if os.path.exists(path):
            os.remove(path)
    drain(start(ck))
    assert applied == [0, 1] and last_epoch() == 1

    # a foreign checkpoint against the existing marker fails before apply
    with pytest.raises(Exception, match="comparable within one checkpoint"):
        drain(start(str(tmp_path / "ck_other")))
    assert applied == [0, 1]

    # an empty batch on an empty-skipping sink: no apply, no marker
    empty_feed, empty_meta = tmp_path / "empty_feed", str(tmp_path / "empty_meta")
    empty_feed.mkdir()
    (empty_feed / "e.txt").write_text("")
    q = start(
        str(tmp_path / "ck_empty"), meta_dir=empty_meta, source=empty_feed, skip_empty=True
    )
    drain(q)
    assert [p["batchId"] for p in q.recentProgress if p["numInputRows"] == 0][:1] == [0]
    assert applied == [0, 1]
    assert not os.path.exists(os.path.join(empty_meta, "_LAST_EPOCH"))


def test_takedown_refuses_layout_without_checkpoint(spark, tmp_path):
    """A ``_SINK_LAYOUT.json`` that records no checkpoint names no
    writer whose liveness a takedown could check: ``delete_documents``
    and ``delete_assets`` refuse with the restart cure before they
    touch the corpus."""
    import json

    corpus, meta = tmp_path / "corpus", tmp_path / "corpus_meta"
    group = str(corpus / "batch_group=0")
    for key, takedown, dirs in (
        ("doc_id", sp.delete_documents, ("minhash", "text", "embedding")),
        ("asset_id", sp.delete_assets, ("phash", "embedding")),
    ):
        spark.createDataFrame([(1, "a"), (2, "b")], f"{key} long, text string").write.mode(
            "overwrite"
        ).parquet(group)
        before = sorted(os.listdir(group))
        meta.mkdir(exist_ok=True)
        layout = {"corpus_dir": str(corpus), "key": key}
        layout.update({f"{d}_index_dir": str(tmp_path / d) for d in dirs})
        (meta / "_SINK_LAYOUT.json").write_text(json.dumps(layout))
        with pytest.raises(RuntimeError, match="restart the ingest sink once"):
            takedown(spark, str(meta), [1])
        assert sorted(os.listdir(group)) == before
        assert sorted(r[key] for r in spark.read.parquet(group).collect()) == [1, 2]
        assert os.listdir(meta) == ["_SINK_LAYOUT.json"]
