"""Warehouse rollups, dedup and serving views (SURVEY.md §2.6-§2.7).

ClickHouse-side constructs re-expressed as Spark aggregations:

- A1  hourly rollup MV        (SummingMergeTree MV, clickhouse-init.sql:26-38)
- A2  last-write-wins dedup   (ReplacingMergeTree,  clickhouse-init.sql:21-22)
- A4/A5 leaderboards          (Redis ZINCRBY,       ESJ:417-428)
- A6  per-minute trending     (Redis minute buckets, ESJ:430-436)
- A7  event-type counters     (Redis INCR,          ESJ:438-441)
- A8  latest event per (user,content) (Redis SETEX, ESJ:412-415)

Scale notes: every aggregate here is an additive partial-aggregatable
``groupBy`` — map-side combine keeps the shuffle to one row per
(partition, key).  Scores are summed in DECIMAL(18,2) (exact, and
bit-identical to the DuckDB oracle) then surfaced as double.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _sum_score(alias: str = "total_score"):
    # per-row scores are already 2dp-rounded; decimal sum is exact and
    # engine-order-independent (double sums are not)
    return F.sum(F.col("engagement_score").cast("decimal(18,2)")).cast("double").alias(alias)


def hourly_rollup(enriched: DataFrame) -> DataFrame:
    """A1 — GROUP BY hour × content_type × event_type → count + score sum."""
    return (
        enriched.groupBy(
            F.date_trunc("hour", F.col("event_ts")).alias("hour_ts"),
            "content_type",
            "event_type",
        )
        .agg(F.count("*").alias("cnt"), _sum_score("total_score"))
    )


def fill_hourly_gaps(rollup: DataFrame) -> DataFrame:
    """Dense hourly series per (content_type, event_type): hours with no
    events between each group's first and last hour get explicit zero
    rows — the ClickHouse ``ORDER BY ... WITH FILL STEP`` analog for
    time-series consumers that need gapless axes.

    Spark-native shape: per-group min/max (one combinable agg), then
    ``sequence(h0, h1, interval 1 hour)`` + ``explode`` generates the
    dense spine distributed (no driver loop, no UDF); the real rollup
    left-joins back null-safely (content_type is null for dim misses —
    a plain equi-join would silently zero those groups).  The spine is
    groups × hours — proportional to the *rollup*, not the fact table.
    """
    spine = (
        rollup.groupBy("content_type", "event_type")
        .agg(F.min("hour_ts").alias("h0"), F.max("hour_ts").alias("h1"))
        .select(
            "content_type",
            "event_type",
            F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour_ts"),
        )
    )
    s, r = spine.alias("s"), rollup.alias("r")
    cond = (
        F.col("s.content_type").eqNullSafe(F.col("r.content_type"))
        & F.col("s.event_type").eqNullSafe(F.col("r.event_type"))
        & (F.col("s.hour_ts") == F.col("r.hour_ts"))
    )
    return s.join(r, cond, "left").select(
        F.col("s.hour_ts").alias("hour_ts"),
        F.col("s.content_type").alias("content_type"),
        F.col("s.event_type").alias("event_type"),
        F.coalesce(F.col("r.cnt"), F.lit(0)).alias("cnt"),
        F.coalesce(F.col("r.total_score"), F.lit(0.0)).alias("total_score"),
        F.col("r.cnt").isNull().alias("is_gap"),
    )


def dedup_latest_event_version(df: DataFrame, key: str = "event_id", version: str = "event_ts") -> DataFrame:
    """A2 — ReplacingMergeTree(event_ts) ORDER BY event_id semantics.

    Keep the max-version row per key.  The reference dedups lazily at
    merge time (duplicate-visible until then); applying it as a view /
    write-time compaction is the same end state, made exact.

    ``max_by`` over structs plans as a ``SortAggregate``, not a hash
    aggregate (a struct aggregation buffer is not hash-aggregatable),
    with a ``Sort`` on both sides of the exchange: the partial
    aggregate still collapses duplicates BEFORE the shuffle (a replayed
    stream re-sends the same rows to the same map tasks), but every
    row pays a per-key sort — about what a ``row_number`` window or
    ``max(struct)`` costs here.  Version ties are arbitrary in every
    formulation; re-deliveries carry identical payloads, so any pick
    is the same row.

    The version is wrapped in a struct (like ``latest_event`` /
    ``compact_dim_latest``): ``max_by`` ignores rows whose ordering
    value is NULL, so a key whose every row has a NULL version (the
    lenient timestamp parser emits NULLs by design) would otherwise
    yield an all-NULL payload; a struct-wrapped NULL is itself
    non-NULL, so such groups still pick a concrete row.
    """
    others = [c for c in df.columns if c != key]
    return (
        df.groupBy(key)
        .agg(F.max_by(F.struct(*others), F.struct(version)).alias("_r"))
        .select(key, "_r.*")
    )


def user_leaderboard(enriched: DataFrame) -> DataFrame:
    """A4 + §2.7 — per-user ranked contents by cumulative score."""
    agg = enriched.groupBy("user_id", "content_id").agg(_sum_score())
    w = Window.partitionBy("user_id").orderBy(F.col("total_score").desc(), F.col("content_id"))
    return agg.withColumn("rnk", F.row_number().over(w))


def content_leaderboard(enriched: DataFrame) -> DataFrame:
    """A5 — the same cube ranked on the other axis."""
    agg = enriched.groupBy("content_id", "user_id").agg(_sum_score())
    w = Window.partitionBy("content_id").orderBy(F.col("total_score").desc(), F.col("user_id"))
    return agg.withColumn("rnk", F.row_number().over(w))


def minute_topk(enriched: DataFrame, k: int = 5) -> DataFrame:
    """A6 — tumbling 1-minute buckets, top-k contents per bucket.

    Bucket key formatted yyyyMMddHHmm exactly as ESJ:432.
    """
    agg = enriched.groupBy(
        F.date_format("event_ts", "yyyyMMddHHmm").alias("minute_bucket"),
        "content_id",
    ).agg(_sum_score())
    w = Window.partitionBy("minute_bucket").orderBy(F.col("total_score").desc(), F.col("content_id"))
    return agg.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


def event_counters(enriched: DataFrame) -> DataFrame:
    """A7 — global per-event-type counters."""
    return enriched.groupBy("event_type").agg(F.count("*").alias("cnt"))


def latest_event(enriched: DataFrame) -> DataFrame:
    """A8 — last event per (user, content), the Redis SETEX key.

    ``max_by`` on (event_ts, event_id): combinable hash aggregate, no
    per-key sort (same rationale as ``dedup_latest_event_version``);
    the event_id tiebreak keeps same-second events deterministic.
    """
    keys = ["user_id", "content_id"]
    others = [c for c in enriched.columns if c not in keys]
    return (
        enriched.groupBy(*keys)
        .agg(F.max_by(F.struct(*others), F.struct("event_ts", "event_id")).alias("_r"))
        .select(*keys, "_r.*")
    )


def incremental_rollup_merge(enriched: DataFrame) -> DataFrame:
    """A3 — SummingMergeTree re-merge semantics: two partial rollups
    (split by event_id parity, standing in for two ingest batches)
    re-aggregate to exactly the full rollup.

    Partial sums stay DECIMAL end-to-end; only the final merge casts to
    double — the associativity the additive MV relies on.
    """
    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("hour", F.col("event_ts")).alias("hour_ts"),
            "content_type",
            "event_type",
        ).agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("engagement_score").cast("decimal(18,2)")).alias("score_dec"),
        )

    parts = partial(enriched.where(F.col("event_id") % 2 == 0)).unionByName(
        partial(enriched.where(F.col("event_id") % 2 == 1))
    )
    return parts.groupBy("hour_ts", "content_type", "event_type").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("score_dec").cast("double").alias("total_score"),
    )


def salted_event_type_rollup(enriched: DataFrame, salt_buckets: int = 8) -> DataFrame:
    """Skew-resistant two-stage aggregation (the salting pattern).

    ``event_type`` has ~5 hot values — at 100 TB a direct groupBy puts
    each key on one reducer.  Stage 1 groups on (key, salt) spreading
    each hot key over ``salt_buckets`` reducers; stage 2 merges the
    partials.  Result is bit-identical to the direct groupBy (counts
    and DECIMAL sums are associative), which the oracle asserts.
    """
    salted = enriched.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("event_id")), F.lit(salt_buckets))
    )
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("engagement_score").cast("decimal(18,2)")).alias("score_dec"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("score_dec").cast("double").alias("total_score"),
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Sessionization: per-user session sequence via gap detection —
    lag(ts) + cumulative sum over a session-start flag (one shuffle on
    user_id; per-key state is a single running counter, so the window
    scales to arbitrarily long histories)."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap_us = gap_minutes * 60 * 1_000_000
    prev = F.lag(F.unix_micros(F.col("ts"))).over(w)
    is_new = F.when(
        prev.isNull() | ((F.unix_micros(F.col("ts")) - prev) > gap_us), 1
    ).otherwise(0)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.sum(is_new).over(wrun).cast("long").alias("session_seq"),
    )


def trending_recent(enriched: DataFrame, minutes: int = 15, k: int = 5) -> DataFrame:
    """T5 — the Redis 15-min trending TTL as a retention predicate.

    Serving views replace key expiry with a time filter; anchored to
    the latest *minute bucket* (data time) so the result is
    deterministic — in production the anchor is
    ``current_timestamp()``.  Retention is at bucket granularity (the
    trailing ``minutes`` buckets), which lets both plan branches start
    from the same partial aggregation: the anchor branch reduces to a
    column-pruned map-side max (no second full pass over the raw
    stream — measured ~2× faster than an event-granularity anchor),
    and the filter itself runs distributed, after the one real
    shuffle, on the already-aggregated table.
    """
    agg = enriched.groupBy(
        F.date_format("event_ts", "yyyyMMddHHmm").alias("minute_bucket"), "content_id"
    ).agg(_sum_score())
    # anchor = max bucket, computed as max(struct(bucket, score)) so the
    # anchor branch needs BOTH columns of `agg`: column pruning then
    # cannot slim the shared aggregate, the two branches' shuffles
    # canonicalize identically, and ReusedExchange makes the anchor a
    # near-free read of the main branch's exchange instead of a second
    # full parse of the event feed (measured ~2× on the CDC slice).
    mx = agg.agg(F.max(F.struct("minute_bucket", "total_score")).alias("_m")).select(
        F.col("_m.minute_bucket").alias("_mx")
    )
    recent = (
        agg.join(F.broadcast(mx))
        .where(
            F.to_timestamp("minute_bucket", "yyyyMMddHHmm")
            >= F.to_timestamp("_mx", "yyyyMMddHHmm") - F.expr(f"INTERVAL {minutes} MINUTES")
        )
        .drop("_mx")
    )
    w = Window.partitionBy("minute_bucket").orderBy(F.col("total_score").desc(), F.col("content_id"))
    return recent.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


def outbox_json(enriched: DataFrame) -> DataFrame:
    """K3 — enriched event → JSON payload for the outbox topic.

    ``to_json`` omits null fields, matching the reference's explicit
    null-skipping serializer (ESJ:366-381).
    """
    return enriched.select(
        F.col("event_id"),
        F.to_json(
            F.struct(
                "event_id",
                "user_id",
                "content_id",
                "event_type",
                "device",
                "duration_ms",
                "engagement_score",
                "content_type",
                "length_seconds",
            )
        ).alias("payload"),
    )
