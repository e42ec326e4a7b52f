"""Serving lookup API (§3.3): getters must return the operator-computed
values and their predicates must prune/push into the scans."""

from __future__ import annotations

import pyspark.sql.functions as F

from real_time_cdc_analytics_pipeline_with_clickhouse_spark import serving
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import rollups
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.plans.explain import plan_string

import __spark_entry__ as entrymod

import pytest



pytestmark = pytest.mark.slow  # multi-epoch lifecycle walk; fast tier keeps the
# single-epoch/oracle coverage of this family (round 12, VERDICT r11 #3)

def test_serving_lookups_match_operators_and_prune(spark, sf_dir, tmp_path):
    enriched = entrymod._enriched(spark, sf_dir)
    base = str(tmp_path / "serving")
    serving.materialize_serving_tables(enriched, base)

    # pick a real (user, content) pair
    some = rollups.latest_event(enriched).select("user_id", "content_id").first()
    uid, cid = some["user_id"], some["content_id"]

    lb = serving.get_user_leaderboard(spark, base, uid)
    want_lb = (
        rollups.user_leaderboard(enriched)
        .where(F.col("user_id") == uid)
        .where(F.col("rnk") <= 10)
    )
    assert sorted(map(tuple, lb.select(*want_lb.columns).collect())) == sorted(
        map(tuple, want_lb.collect())
    )
    # per-user read prunes to the user's bucket partition
    lb_plan = plan_string(lb)
    assert "user_bucket" in lb_plan and "PartitionFilters" in lb_plan

    le = serving.get_latest_event(spark, base, uid, cid)
    assert le.count() == 1
    le_plan = plan_string(le)
    assert "PushedFilters" in le_plan and f"EqualTo(user_id,{uid})" in le_plan

    ec = serving.get_event_counter(spark, base, "view").collect()
    want_ec = rollups.event_counters(enriched).where(F.col("event_type") == "view").collect()
    assert [tuple(r) for r in ec] == [tuple(r) for r in want_ec]

    tr = serving.get_trending(spark, base)
    assert tr.count() > 0


def test_incremental_leaderboard_equals_full_recompute(spark, sf_dir, tmp_path):
    """Partition-scoped incremental maintenance: materialize from the
    first half of the stream, fold the second half in as an increment —
    the table must be bit-identical to a full recompute, and untouched
    user buckets must keep their original files."""
    import os

    enriched = entrymod._enriched(spark, sf_dir).persist()
    first = enriched.where(F.col("event_id") % 2 == 0)
    second = enriched.where(F.col("event_id") % 2 == 1)

    base_inc = str(tmp_path / "inc")
    serving.materialize_serving_tables(first, base_inc)
    # restrict the increment to a small user set so most buckets are untouched
    small = second.where(F.col("user_id") % 97 == 0)
    lb_dir = f"{base_inc}/user_leaderboard"
    untouched_bucket_files = {
        d: sorted(os.listdir(f"{lb_dir}/{d}"))
        for d in os.listdir(lb_dir)
        if d.startswith("user_bucket=")
    }
    serving.merge_leaderboard_increment(spark, base_inc, small)

    base_full = str(tmp_path / "full")
    serving.materialize_serving_tables(first.unionByName(small), base_full)

    got = spark.read.parquet(f"{base_inc}/user_leaderboard").select(
        "user_id", "content_id", "total_score", "rnk"
    )
    want = spark.read.parquet(f"{base_full}/user_leaderboard").select(
        "user_id", "content_id", "total_score", "rnk"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    touched = {
        f"user_bucket={int(r[0]) % serving.N_BUCKETS}"
        for r in small.select("user_id").distinct().collect()
    }
    for d, files in untouched_bucket_files.items():
        if d not in touched:
            assert sorted(os.listdir(f"{lb_dir}/{d}")) == files, f"{d} was rewritten"
    enriched.unpersist()


def test_streaming_serving_sink_equals_batch_recompute(spark, sf_dir, tmp_path):
    """r3 verdict #3: the streaming serving sink must maintain all four
    tables incrementally, and after a multi-batch replay with
    out-of-(event-time)-order batches the tables must equal a batch
    recompute over the same rows — decimal/latest-wins/additive merges
    are order-independent."""
    import os

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import pipeline as sp

    enriched = entrymod._enriched(spark, sf_dir).persist()
    feed = str(tmp_path / "enriched_feed")
    os.makedirs(feed)
    # three event-id splits written as separate files, NOT in event-time
    # order: the file stream delivers them as separate micro-batches
    for fname, i in (("b.parquet", 1), ("a.parquet", 0), ("c.parquet", 2)):
        enriched.where(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{feed}/{fname}")

    base_stream = str(tmp_path / "serving_stream")
    stream = (
        spark.readStream.schema(enriched.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed + "/*")
    )
    q = sp.start_serving_sink(stream, base_stream, str(tmp_path / "ck_serve"))
    q.processAllAvailable()
    q.stop()

    base_batch = str(tmp_path / "serving_batch")
    serving.materialize_serving_tables(enriched, base_batch)

    def rows(base, table, cols):
        return sorted(
            map(tuple, spark.read.parquet(f"{base}/{table}").select(*cols).collect())
        )

    assert rows(base_stream, "user_leaderboard", ["user_id", "content_id", "total_score", "rnk"]) \
        == rows(base_batch, "user_leaderboard", ["user_id", "content_id", "total_score", "rnk"])
    assert rows(base_stream, "latest_event", ["user_id", "content_id", "event_id"]) \
        == rows(base_batch, "latest_event", ["user_id", "content_id", "event_id"])
    assert rows(base_stream, "event_counters", ["event_type", "cnt"]) \
        == rows(base_batch, "event_counters", ["event_type", "cnt"])
    tcols = ["minute_bucket", "content_id", "total_score"]
    tstream = sorted(map(tuple, serving.get_trending(spark, base_stream).select(*tcols).collect()))
    tbatch = sorted(map(tuple, serving.get_trending(spark, base_batch).select(*tcols).collect()))
    assert tstream == tbatch and len(tstream) > 0
    # and the read-time trending view matches the batch operator
    want_tr = sorted(
        map(tuple, rollups.trending_recent(enriched).select(*tcols).collect())
    )
    assert tstream == want_tr

    # epoch guard: a re-delivered epoch is a no-op (restart idempotence)
    assert sp._epoch_already_applied(base_stream, 0, str(tmp_path / "ck_serve"))
    assert sp._epoch_already_applied(base_stream, 2, str(tmp_path / "ck_serve"))
    assert not sp._epoch_already_applied(base_stream, 3, str(tmp_path / "ck_serve"))
    enriched.unpersist()


def test_expire_serving_state_mirrors_redis_ttls(spark, sf_dir, tmp_path):
    """The Redis EXPIRE analog (reference sets 86400s on leaderboard
    keys, 15min on trending buckets, 3600s on counters): keys whose
    last write is older than their TTL vanish, survivors keep their
    full historical values, trending expires as whole partition
    unlinks, and a full-TTL sweep empties everything."""
    import datetime
    import os

    enriched = entrymod._enriched(spark, sf_dir).persist()
    base = str(tmp_path / "serving_ttl")
    serving.materialize_serving_tables(enriched, base)
    max_ts = enriched.agg(F.max("event_ts").alias("m")).first()["m"]
    now1 = (max_ts + datetime.timedelta(seconds=10)).strftime("%Y-%m-%d %H:%M:%S")
    rep = serving.expire_serving_state(spark, base, now1)

    # trending: only the trailing 15 minutes of buckets survive
    cutoff_min = (max_ts + datetime.timedelta(seconds=10 - 900)).strftime("%Y%m%d%H%M")
    left = {
        d.split("=", 1)[1]
        for d in os.listdir(f"{base}/trending_state")
        if d.startswith("minute_bucket=")
    }
    assert rep["trending_dropped_buckets"] and left
    assert all(b >= cutoff_min for b in left)
    # and the trending read view (which only ever looks 15 min back
    # from the latest bucket) is unchanged by the expiry
    tcols = ["minute_bucket", "content_id", "total_score"]
    want_tr = sorted(map(tuple, rollups.trending_recent(enriched).select(*tcols).collect()))
    got_tr = sorted(map(tuple, serving.get_trending(spark, base).select(*tcols).collect()))
    assert got_tr == want_tr

    # counters: exactly the types whose LAST increment is within the
    # hour of now1 survive (each Redis key expires on its own clock)
    cutoff1h = max_ts + datetime.timedelta(seconds=10 - 3600)
    want_ct = {
        r["event_type"]
        for r in enriched.groupBy("event_type")
        .agg(F.max("event_ts").alias("mx"))
        .where(F.col("mx") >= F.lit(cutoff1h))
        .collect()
    }
    got_ct = {
        r["event_type"] for r in spark.read.parquet(f"{base}/event_counters").collect()
    }
    assert got_ct == want_ct and got_ct
    n_types = enriched.select("event_type").distinct().count()
    assert rep["event_counters_expired"] == n_types - len(want_ct)

    # leaderboard: exactly the keys last touched within 24h survive,
    # and a survivor keeps its FULL historical score (Redis renews the
    # whole key on touch, it does not trim old contributions)
    cutoff24 = max_ts + datetime.timedelta(seconds=10 - 86400)
    want_keys = {
        (r["user_id"], r["content_id"]): r["s"]
        for r in enriched.groupBy("user_id", "content_id")
        .agg(
            F.sum(F.col("engagement_score").cast("decimal(18,2)")).alias("s"),
            F.max("event_ts").alias("mx"),
        )
        .where(F.col("mx") >= F.lit(cutoff24))
        .collect()
    }
    got_keys = {
        (r["user_id"], r["content_id"]): r["score_dec"]
        for r in spark.read.parquet(f"{base}/user_leaderboard").collect()
    }
    assert set(got_keys) == set(want_keys) and got_keys
    assert all(got_keys[k] == want_keys[k] for k in want_keys)
    n_total = enriched.select("user_id", "content_id").distinct().count()
    assert rep["user_leaderboard_expired"] == n_total - len(want_keys)

    # latest_event expires on the same 24h clock
    got_le = spark.read.parquet(f"{base}/latest_event").count()
    want_le = len(want_keys)
    assert got_le == want_le

    # full sweep: everything older than every TTL → every key gone
    # (fully-expired tables end as deleted partitions/dirs — the Redis
    # "key does not exist" state)
    now2 = (max_ts + datetime.timedelta(seconds=86401)).strftime("%Y-%m-%d %H:%M:%S")
    rep2 = serving.expire_serving_state(spark, base, now2)
    assert rep2["user_leaderboard_expired"] == len(want_keys)
    left2 = [d for d in os.listdir(f"{base}/trending_state") if d.startswith("minute_bucket=")]
    assert not left2
    assert not os.path.isdir(f"{base}/event_counters")
    assert not [
        d for d in os.listdir(f"{base}/user_leaderboard") if d.startswith("user_bucket=")
    ]
    enriched.unpersist()


def test_streaming_serving_sink_ttl_sweep_equals_batch_expiry(spark, sf_dir, tmp_path):
    """start_serving_sink(ttl_every=3): the event-time-clocked EXPIRE
    sweep fires on the last epoch, and the resulting serving state is
    identical to a batch materialize + one expire_serving_state call
    at the same "now" (the corpus max event_ts).  TTLs are sized to
    half the corpus' event-time span so the sweep provably removes
    keys."""
    import datetime
    import os

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import pipeline as sp

    enriched = entrymod._enriched(spark, sf_dir).persist()
    span = enriched.agg(
        F.min("event_ts").alias("lo"), F.max("event_ts").alias("hi")
    ).first()
    half = max(1, int((span["hi"] - span["lo"]).total_seconds() // 2))
    ttls = {"user_leaderboard": half, "latest_event": half, "event_counters": half}

    # three event-TIME-ordered batches (TTL only ever expires the past)
    lo_ts, hi_ts = span["lo"], span["hi"]
    t1 = lo_ts + (hi_ts - lo_ts) / 3
    t2 = lo_ts + 2 * (hi_ts - lo_ts) / 3
    feed = str(tmp_path / "ttl_feed")
    os.makedirs(feed)
    splits = [
        enriched.where(F.col("event_ts") <= F.lit(t1)),
        enriched.where((F.col("event_ts") > F.lit(t1)) & (F.col("event_ts") <= F.lit(t2))),
        enriched.where(F.col("event_ts") > F.lit(t2)),
    ]
    for i, part in enumerate(splits):
        part.coalesce(1).write.mode("overwrite").parquet(f"{feed}/b{i}.parquet")

    base_stream = str(tmp_path / "serving_ttl_stream")
    stream = (
        spark.readStream.schema(enriched.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed + "/*")
    )
    q = sp.start_serving_sink(
        stream, base_stream, str(tmp_path / "ck_ttl"), ttl_every=3, ttls=ttls
    )
    q.processAllAvailable()
    q.stop()

    base_batch = str(tmp_path / "serving_ttl_batch")
    serving.materialize_serving_tables(enriched, base_batch)
    now = span["hi"].strftime("%Y-%m-%d %H:%M:%S")
    rep = serving.expire_serving_state(spark, base_batch, now, ttls=ttls)
    # the sweep must have had something to do in every family
    assert rep["user_leaderboard_expired"] > 0
    assert rep["trending_dropped_buckets"]

    def rows(base, table, cols):
        return sorted(
            map(tuple, spark.read.parquet(f"{base}/{table}").select(*cols).collect())
        )

    lb_cols = ["user_id", "content_id", "total_score", "rnk"]
    assert rows(base_stream, "user_leaderboard", lb_cols) == rows(
        base_batch, "user_leaderboard", lb_cols
    )
    assert rows(base_stream, "latest_event", ["user_id", "content_id", "event_id"]) == rows(
        base_batch, "latest_event", ["user_id", "content_id", "event_id"]
    )
    assert rows(base_stream, "event_counters", ["event_type", "cnt"]) == rows(
        base_batch, "event_counters", ["event_type", "cnt"]
    )
    sbuckets = {
        d for d in os.listdir(f"{base_stream}/trending_state") if d.startswith("minute_bucket=")
    }
    bbuckets = {
        d for d in os.listdir(f"{base_batch}/trending_state") if d.startswith("minute_bucket=")
    }
    assert sbuckets == bbuckets and sbuckets
    enriched.unpersist()


def test_incremental_trending_equals_full_recompute_and_prunes(spark, sf_dir, tmp_path):
    """merge_trending_increment over three arbitrary batch splits must
    land bit-identical to minute_topk over the full stream (decimal
    partials are order-independent), and the per-minute lookup must
    prune to a single bucket partition."""
    enriched = entrymod._enriched(spark, sf_dir).cache()
    base = str(tmp_path / "servingt")
    splits = [
        enriched.where(F.col("event_id") % 3 == i) for i in range(3)
    ]
    for b in (splits[1], splits[0], splits[2]):  # out of order on purpose
        serving.merge_trending_increment(spark, base, b)

    full = rollups.minute_topk(enriched, k=5)
    some_bucket = full.select(F.max("minute_bucket")).first()[0]
    want = sorted(
        map(
            tuple,
            full.where(F.col("minute_bucket") == some_bucket)
            .select("minute_bucket", "content_id", "total_score", "rnk")
            .collect(),
        )
    )
    got_df = serving.get_minute_topk(spark, base, some_bucket, k=5)
    got = sorted(
        map(tuple, got_df.select("minute_bucket", "content_id", "total_score", "rnk").collect())
    )
    assert got == want

    plan = plan_string(got_df)
    assert "PartitionFilters" in plan and "minute_bucket" in plan
    enriched.unpersist()
