"""Crash windows of the rename commit (``storage.rewrite``): a rewrite
stopped at ANY rename step, then re-run (a direct MERGE retry or a
stream restart from the same checkpoint), must leave every month
present, no staged or parked residue, and the same content as a run
that never crashed."""

from __future__ import annotations

import datetime as dt
import os

import pyspark.sql.functions as F
import pytest

from real_time_cdc_analytics_pipeline_with_clickhouse_spark import storage
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import cdc, enrich
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.sources import cdc_feed
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import pipeline as sp
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.tables import load_table

SCHEMA = "event_id long, event_ts timestamp, v long"
# each stored month also holds a key the batch does not touch: a month
# read as missing while its swap is half done would lose it
BASE = [
    (1, dt.datetime(2024, 1, 10), 5),
    (10, dt.datetime(2024, 1, 20), 8),
    (2, dt.datetime(2024, 2, 10), 6),
    (20, dt.datetime(2024, 2, 20), 9),
]
# touches both stored months (two renames each) and a new one (one)
BATCH = [
    (1, dt.datetime(2024, 1, 12), 50),
    (2, dt.datetime(2024, 2, 12), 60),
    (3, dt.datetime(2024, 3, 1), 7),
]
MERGE_RENAMES = 5


class _Crash(RuntimeError):
    pass


def _crash_at(monkeypatch, k):
    """Make the k-th commit rename (0-based) raise; returns the call log."""
    calls = []

    def rename(src, dst):
        calls.append((src, dst))
        if len(calls) - 1 == k:
            raise _Crash(f"injected crash at rename {k}")
        os.rename(src, dst)

    monkeypatch.setattr(storage, "_rename", rename)
    return calls


def _months(table):
    return sorted(e for e in os.listdir(table) if e.startswith("event_month="))


def _residue(table):
    out = [e for e in os.listdir(table) if e.startswith(storage.STAGE_PREFIX)]
    return out + [p for p in (table + "__old",) if os.path.exists(p)]


def _content(spark, table):
    return sorted(map(tuple, spark.read.parquet(table).collect()))


def _merge(spark, rows, table):
    sp.merge_upsert_parquet(
        spark.createDataFrame(rows, SCHEMA), table, key="event_id", version="event_ts"
    )


def test_merge_rename_count_matches_the_crash_points(spark, tmp_path, monkeypatch):
    table = str(tmp_path / "t")
    _merge(spark, BASE, table)
    calls = _crash_at(monkeypatch, -1)
    _merge(spark, BATCH, table)
    assert len(calls) == MERGE_RENAMES
    assert _months(table) == [f"event_month=20240{m}" for m in (1, 2, 3)]
    assert _residue(table) == []


@pytest.mark.parametrize("k", range(MERGE_RENAMES))
def test_merge_crash_at_every_rename_then_retry(spark, tmp_path, monkeypatch, k):
    want_t = str(tmp_path / "want")
    _merge(spark, BASE, want_t)
    _merge(spark, BATCH, want_t)
    want = _content(spark, want_t)

    table = str(tmp_path / "t")
    _merge(spark, BASE, table)
    _crash_at(monkeypatch, k)
    with pytest.raises(_Crash):
        _merge(spark, BATCH, table)
    monkeypatch.setattr(storage, "_rename", os.rename)
    pending = storage.pending_swaps(table)
    assert len(pending) == 1 and pending[0].complete
    # a month between its two renames is absent until the next writer
    # finishes the swap — exactly the renames that park a live month
    assert bool(pending[0].missing) == (k in (1, 3))

    _merge(spark, BATCH, table)
    assert _months(table) == [f"event_month=20240{m}" for m in (1, 2, 3)]
    assert _residue(table) == []
    assert _content(spark, table) == want


def _two_month_feed(spark, sf_dir, tmp_path):
    """Events from sf0.001 (all January) with every other one moved a
    month on, so each batch touches two stored months."""
    events = load_table(spark, sf_dir, "events").limit(200)
    events = events.withColumn(
        "ts", F.when(F.col("event_id") % 2 == 0, F.col("ts") + F.expr("INTERVAL 1 MONTH")).otherwise(F.col("ts"))
    )
    lines = [r["value"] for r in cdc_feed.engagement_cdc_json(events).collect()]
    part = load_table(spark, sf_dir, "part")
    dim_dir = str(tmp_path / "dim")
    enrich.compact_dim_latest(cdc.unwrap_content(cdc_feed.content_cdc_json(part))).write.parquet(dim_dir)
    return lines, dim_dir


def _feed(path, name, lines):
    with open(os.path.join(path, name), "w") as fh:
        fh.write("\n".join(lines) + "\n")


def test_stream_restart_after_crash_at_every_rename(spark, sf_dir, tmp_path, monkeypatch):
    lines, dim_dir = _two_month_feed(spark, sf_dir, tmp_path)
    half = len(lines) // 2

    def start(feed, table, ck):
        return sp.start_enriched_warehouse_pipeline(
            spark, sp.read_json_lines_stream(spark, feed), dim_dir, table, ck
        )

    # the crash-free run: two batches, one per feed file
    feed = str(tmp_path / "feed_ok")
    os.makedirs(feed)
    q = start(feed, str(tmp_path / "want"), str(tmp_path / "ck_ok"))
    _feed(feed, "b1.txt", lines[:half])
    q.processAllAvailable()
    calls = _crash_at(monkeypatch, -1)
    _feed(feed, "b2.txt", lines[half:])
    q.processAllAvailable()
    q.stop()
    monkeypatch.setattr(storage, "_rename", os.rename)
    n = len(calls)
    assert n == 4  # two stored months, two renames each
    want = _content(spark, str(tmp_path / "want"))

    for k in range(n):
        feed, table, ck = (str(tmp_path / f"{x}{k}") for x in ("feed", "table", "ck"))
        os.makedirs(feed)
        q = start(feed, table, ck)
        _feed(feed, "b1.txt", lines[:half])
        q.processAllAvailable()
        _crash_at(monkeypatch, k)
        _feed(feed, "b2.txt", lines[half:])
        with pytest.raises(Exception, match="injected crash"):
            q.processAllAvailable()
        q.stop()
        monkeypatch.setattr(storage, "_rename", os.rename)
        # restart from the same checkpoint: the uncommitted batch replays
        q = start(feed, table, ck)
        q.processAllAvailable()
        q.stop()
        assert _months(table) == _months(str(tmp_path / "want")), k
        assert _residue(table) == [], k
        assert _content(spark, table) == want, k


def test_serving_epoch_writes_at_most_two_files_per_bucket(spark, sf_dir, tmp_path):
    """A partitioned serving rewrite is clustered by its bucket column,
    so one epoch over more than 1,024 users (every bucket touched)
    leaves one file per bucket, not one per task per bucket."""
    import glob

    import __spark_entry__ as entrymod

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark import serving

    fan = spark.range(3).withColumnRenamed("id", "_r")
    enriched = (
        entrymod._enriched(spark, sf_dir)
        .crossJoin(fan)
        .withColumn("event_id", F.col("event_id") * 3 + F.col("_r"))
        .withColumn("user_id", F.col("event_id"))
        .drop("_r")
    )
    assert enriched.select("user_id").distinct().count() > serving.N_BUCKETS
    feed = str(tmp_path / "feed")
    enriched.repartition(4).write.parquet(f"{feed}/b0.parquet")
    base = str(tmp_path / "serving")
    q = sp.start_serving_sink(
        spark.readStream.schema(enriched.schema).parquet(feed + "/*"), base, str(tmp_path / "ck")
    )
    q.processAllAvailable()
    q.stop()
    for table in ("user_leaderboard", "latest_event"):
        buckets = glob.glob(f"{base}/{table}/user_bucket=*")
        assert len(buckets) == serving.N_BUCKETS
        worst = max(len(glob.glob(f"{b}/*.parquet")) for b in buckets)
        assert worst <= 2, (table, worst)
