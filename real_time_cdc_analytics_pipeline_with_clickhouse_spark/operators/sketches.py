"""Mergeable aggregate states — the ClickHouse AggregatingMergeTree
analog (SURVEY.md §2.6 note on approximate aggregates).

The reference's warehouse layer keeps *partial aggregate states* in a
materialized view and re-merges them at read time: its hourly MV
literally stores ``sumState(...)`` inside a SummingMergeTree
(clickhouse-init.sql:36), and the standard companion pattern in that
warehouse is ``uniqState``/``quantileState`` re-merged with
``uniqMerge``/``quantileMerge`` — a rollup kept at hour grain can then
answer day/month distinct-count and quantile questions WITHOUT
rescanning facts.  The additive-sum half of that pattern already lives
in ``warehouse.merge_rollup_increment``; this module supplies the
non-additive half with Spark-native mergeable states:

- **distinct counts** — Apache DataSketches HLL sketches via
  ``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``:
  a binary, column-storable state that re-merges at any grain (hour →
  day → total) with no fact rescan.  At 100 TB this is the only way a
  "distinct users per hour, re-groupable to any window" query stays a
  rollup-table read instead of a full shuffle of user_ids.
- **quantiles** — a fixed-bin histogram state in LONG form
  ``(keys…, bin, cnt)``: merge = plain additive sum (commutative,
  associative, bit-exact — the same DECIMAL-style guarantee as the
  additive rollup), estimate = read-time cumulative interpolation for
  ANY q.  Deterministic, so unlike t-digest/KLL it is exactly
  DuckDB-twinnable (tests/test_sketches.py).

Scale shape: states live at rollup-key cardinality (hours ×
event_types, bins), never fact cardinality; every merge is a
combinable hash aggregate; nothing here shuffles the fact table more
than once.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from ..storage import finish_interrupted_swaps
from ..warehouse import _stage_swap

# 2^12 registers ≈ 1.6 % relative standard error — the DataSketches
# default, matching ClickHouse uniq()'s ~1.6 % accuracy class.
DEFAULT_LGK = 12

_UNIQ_KEY = ["hour_ts", "event_type"]


def hourly_uniques_state(enriched: DataFrame, lgk: int = DEFAULT_LGK) -> DataFrame:
    """The uniqState MV: per (hour, event_type), an HLL sketch of the
    distinct user_ids plus the plain event count.  The sketch column is
    BINARY and parquet-storable; ``merge_uniques_to`` re-merges it to
    any coarser grain."""
    return enriched.groupBy(
        F.date_trunc("hour", F.col("event_ts")).alias("hour_ts"),
        "event_type",
    ).agg(
        F.hll_sketch_agg("user_id", F.lit(lgk)).alias("uniq_users_state"),
        F.count("*").alias("cnt"),
    )


def merge_uniques_to(state: DataFrame, keys: list[str]) -> DataFrame:
    """uniqMerge: re-group stored sketches to a coarser grain (e.g.
    ``[date_trunc('day', hour_ts)]`` or ``['event_type']`` or ``[]``
    for a global count).  Sketch union is lossless re-aggregation —
    the estimate equals sketching the raw facts directly (tested)."""
    grouped = state.groupBy(*keys) if keys else state.groupBy()
    return grouped.agg(
        F.hll_union_agg("uniq_users_state").alias("uniq_users_state"),
        F.sum("cnt").alias("cnt"),
    )


def estimate_uniques(state: DataFrame) -> DataFrame:
    """Read-time estimate: replace the binary state with its distinct
    count (the uniqMerge() SELECT surface; the exactly-once
    ``last_epoch`` bookkeeping column never reaches readers)."""
    return state.withColumn(
        "uniq_users", F.hll_sketch_estimate("uniq_users_state")
    ).drop("uniq_users_state", "last_epoch")


def write_uniques_state(enriched: DataFrame, path: str, lgk: int = DEFAULT_LGK) -> None:
    hourly_uniques_state(enriched, lgk).write.mode("overwrite").parquet(path)


def _epoch_stamp(df: DataFrame, epoch: int | None) -> DataFrame:
    """Stamp committed state rows with the applying epoch (-1 for
    batch callers) — the in-data half of the streaming sinks'
    exactly-once contract: because the stamp commits ATOMICALLY with
    the merged data, a crash between this table's commit and the
    sink's global epoch marker cannot double-apply on replay."""
    return df.withColumn(
        "last_epoch", F.lit(-1 if epoch is None else int(epoch)).cast("long")
    )


def _epoch_done(stored: DataFrame, epoch: int | None) -> bool:
    """True when this (unpartitioned, atomically-swapped) state table
    already holds ``epoch`` — the re-delivered half of the crash
    window; the merge must no-op."""
    if epoch is None or "last_epoch" not in stored.columns:
        return False
    return stored.agg(F.max("last_epoch")).first()[0] >= epoch


def merge_uniques_increment(
    spark: SparkSession,
    path: str,
    new_enriched: DataFrame,
    lgk: int = DEFAULT_LGK,
    epoch: int | None = None,
) -> None:
    """Fold a new fact batch into the stored uniqState table — the
    AggregatingMergeTree insert-trigger run at write time.  Sketch
    union is commutative/associative, so any increment order yields
    the same estimates as a full recompute (tested).  Sketch union is
    idempotent for re-delivered VALUES but the companion additive
    ``cnt`` is not, so under ``epoch`` the committed rows carry a
    table-level ``last_epoch`` stamp and a re-delivered epoch no-ops."""
    import os

    finish_interrupted_swaps(path)
    if not os.path.isdir(path):  # bootstrap: first batch creates the table
        # stage-swap so a crash mid-bootstrap can't leave a partial dir
        # the next call treats as committed state
        _stage_swap(_epoch_stamp(hourly_uniques_state(new_enriched, lgk), epoch), path)
        return
    current = spark.read.parquet(path)
    if _epoch_done(current, epoch):
        return
    merged = merge_uniques_to(
        current.drop("last_epoch").unionByName(hourly_uniques_state(new_enriched, lgk)),
        _UNIQ_KEY,
    )
    _stage_swap(_epoch_stamp(merged, epoch), path)


def uniques_overlap(state: DataFrame, group_col: str) -> DataFrame:
    """Pairwise audience overlap between groups, from stored uniqState
    sketches alone — the ClickHouse ``uniqTheta`` intersect/union
    readout, done with HLL inclusion–exclusion:
    ``|A ∩ B| = |A| + |B| − |A ∪ B|`` (clamped at 0 — estimates can
    dip negative for near-disjoint sets).

    Input: a state with one or more rows per ``group_col`` value
    carrying ``uniq_users_state`` sketches (any grain — they re-merge
    here).  Output: one row per unordered group pair (a < b) with
    ``uniq_a, uniq_b, uniq_union, uniq_overlap``.

    Scale shape: groups first collapse to ONE sketch each (combinable
    union agg), and only then do sketches pair up — the join is over
    group-cardinality rows carrying KB-sized states, never raw ids.
    Overlap questions on raw facts need a self-join of fact-cardinality
    id sets; this answers them from the rollup artifact."""
    per = (
        state.groupBy(F.col(group_col).alias("g"))
        .agg(F.hll_union_agg("uniq_users_state").alias("sk"))
    )
    a = per.select(F.col("g").alias("a"), F.col("sk").alias("_ska"))
    b = per.select(F.col("g").alias("b"), F.col("sk").alias("_skb"))
    pairs = a.join(b, F.col("a") < F.col("b"))
    ua = F.hll_sketch_estimate("_ska")
    ub = F.hll_sketch_estimate("_skb")
    uu = F.hll_sketch_estimate(F.hll_union("_ska", "_skb"))
    return pairs.select(
        "a",
        "b",
        ua.alias("uniq_a"),
        ub.alias("uniq_b"),
        uu.alias("uniq_union"),
        F.greatest(F.lit(0).cast("long"), (ua + ub - uu).cast("long")).alias(
            "uniq_overlap"
        ),
    )


# --- bounded heavy-hitter state (the topKState analog) ----------------------
#
# ClickHouse's topK/topKState keeps a space-saving summary per group and
# merges summaries across parts.  The Spark-native mergeable form below
# is the parallel space-saving merge (Cafaro et al.): each state is the
# per-group TOP-M items with per-item count BOUNDS (lb ≤ true ≤ ub) plus
# ``dmax`` — the largest upper bound among the items the state dropped
# (so any item absent from the state has true count ≤ dmax).  Merging
# sums bounds for shared items, charges each side's dmax for items the
# side dropped, and re-truncates.  All plan shapes are state-cardinality
# (keys × m) equi-joins/aggregations — never fact-cardinality after the
# one initial counting shuffle.  Deterministic (ties by item asc), so
# the no-truncation case is exactly DuckDB-twinnable.


def _truncate_topm(counts: DataFrame, keys: list[str], m: int) -> DataFrame:
    """Keep top-m rows per key group by (ub desc, item asc); fold the
    dropped rows' max ub into dmax (added to any incoming dmax)."""
    w = Window.partitionBy(*keys).orderBy(F.col("ub").desc(), F.col("item").asc())
    ranked = counts.withColumn("_rn", F.row_number().over(w))
    dropped = (
        ranked.where(F.col("_rn") > m)
        .groupBy(*keys)
        .agg(F.max("ub").alias("_dropped_ub"))
    )
    kept = ranked.where(F.col("_rn") <= m).drop("_rn")
    return (
        kept.join(dropped, keys, "left")
        .withColumn(
            "dmax", F.col("dmax") + F.coalesce(F.col("_dropped_ub"), F.lit(0))
        )
        .drop("_dropped_ub")
    )


def topk_state(df: DataFrame, item_col: str, keys: list[str], m: int = 64) -> DataFrame:
    """Build a topK partial state from facts: exact per-(keys, item)
    counts (ONE combinable shuffle), truncated to the top ``m`` per
    group.  Output columns: ``keys…, item, lb, ub, dmax`` — within a
    freshly-built state the retained items are exact (lb == ub) and
    dmax is the largest dropped count (0 if nothing was dropped).

    Size ``m`` ≥ several× the k you intend to read (the usual
    space-saving headroom); states stay (keys × m)-sized no matter the
    fact volume."""
    if m <= 0:
        raise ValueError("m must be positive")
    counts = (
        df.groupBy(*keys, F.col(item_col).alias("item"))
        .agg(F.count("*").alias("lb"))
        .withColumn("ub", F.col("lb"))
        .withColumn("dmax", F.lit(0).cast("long"))
    )
    return _truncate_topm(counts, keys, m)


def merge_topk_states(a: DataFrame, b: DataFrame, keys: list[str], m: int = 64) -> DataFrame:
    """topKMerge: combine two states over the same key space.  For an
    item one side dropped, that side contributes [0, dmax] — so merged
    lb = sum of present lbs, merged ub = sum of (ub if present else
    dmax).  Associative and commutative in the bounds it guarantees;
    with no truncation anywhere it is exactly the additive count merge
    (tested ≡ a direct groupBy in any segmentation)."""
    da = a.groupBy(*keys).agg(F.first("dmax").alias("_da"))
    db = b.groupBy(*keys).agg(F.first("dmax").alias("_db"))
    ia = a.select(*keys, "item", F.col("lb").alias("_lba"), F.col("ub").alias("_uba"))
    ib = b.select(*keys, "item", F.col("lb").alias("_lbb"), F.col("ub").alias("_ubb"))
    joined = (
        ia.join(ib, [*keys, "item"], "full_outer")
        .join(da, keys, "left")
        .join(db, keys, "left")
        .select(
            *keys,
            "item",
            (F.coalesce("_lba", F.lit(0)) + F.coalesce("_lbb", F.lit(0))).alias("lb"),
            (
                F.coalesce(F.col("_uba"), F.coalesce(F.col("_da"), F.lit(0)))
                + F.coalesce(F.col("_ubb"), F.coalesce(F.col("_db"), F.lit(0)))
            ).alias("ub"),
            (
                F.coalesce(F.col("_da"), F.lit(0)) + F.coalesce(F.col("_db"), F.lit(0))
            ).alias("dmax"),
        )
    )
    return _truncate_topm(joined, keys, m)


def topk_from_state(state: DataFrame, keys: list[str], k: int) -> DataFrame:
    """Read-time topK(k): the k items with the largest upper bounds per
    group, with their [lb, ub] count bounds and a ``guaranteed`` flag —
    true when the item's lb beats every non-reported item's possible
    count (the (k+1)-th ub and dmax), i.e. the item is CERTAINLY in the
    true top k."""
    w = Window.partitionBy(*keys).orderBy(F.col("ub").desc(), F.col("item").asc())
    ranked = state.withColumn("_rn", F.row_number().over(w))
    nxt = (
        ranked.where(F.col("_rn") == k + 1)
        .select(*keys, F.col("ub").alias("_next_ub"))
    )
    return (
        ranked.where(F.col("_rn") <= k)
        .join(nxt, keys, "left")
        .select(
            *keys,
            F.col("_rn").alias("rank"),
            "item",
            "lb",
            "ub",
            (
                F.col("lb")
                >= F.greatest(F.coalesce(F.col("_next_ub"), F.lit(0)), F.col("dmax"))
            ).alias("guaranteed"),
        )
    )


def merge_topk_increment(
    spark: SparkSession, path: str, new_df: DataFrame, item_col: str,
    keys: list[str], m: int = 64, epoch: int | None = None,
) -> None:
    """Fold a new fact batch into a stored topK state table — the
    AggregatingMergeTree insert-trigger shape shared with the uniq and
    histogram states.  The merge is additive in the bounds, so under
    ``epoch`` the committed rows carry a table-level ``last_epoch``
    stamp and a re-delivered epoch no-ops (crash-window safe)."""
    import os

    finish_interrupted_swaps(path)
    if not os.path.isdir(path):  # atomic bootstrap (see uniques)
        _stage_swap(_epoch_stamp(topk_state(new_df, item_col, keys, m), epoch), path)
        return
    current = spark.read.parquet(path)
    if _epoch_done(current, epoch):
        return
    merged = merge_topk_states(
        current.drop("last_epoch"), topk_state(new_df, item_col, keys, m), keys, m
    )
    _stage_swap(_epoch_stamp(merged, epoch), path)


# --- fixed-bin histogram state (the quantileState analog) ------------------


def histogram_state(
    df: DataFrame,
    value_col: str,
    keys: list[str],
    lo: float,
    hi: float,
    nbins: int = 128,
) -> DataFrame:
    """Histogram partial state ``(keys…, bin, cnt)`` over
    ``value_col``: bin = clamp(floor((v - lo) / w), 0, nbins-1) with
    w = (hi - lo) / nbins; out-of-range values clamp into the edge
    bins, NULLs are excluded (quantile semantics ignore NULLs).

    LONG form makes the merge a plain additive groupBy-sum — exactly
    mergeable in any order, streaming-update friendly, and trivially
    oracle-checkable — at the cost of fixed bounds (the usual
    histogram-state trade; pick lo/hi from the domain, e.g. the score
    expression's known [0, 7.5] range)."""
    if nbins <= 0 or hi <= lo:
        raise ValueError("need nbins > 0 and hi > lo")
    w = (hi - lo) / nbins
    v = F.col(value_col).cast("double")
    bin_ = F.greatest(
        F.lit(0),
        F.least(F.lit(nbins - 1), F.floor((v - F.lit(lo)) / F.lit(w)).cast("int")),
    )
    return (
        df.where(v.isNotNull())
        .groupBy(*keys, bin_.alias("bin"))
        .agg(F.count("*").alias("cnt"))
    )


def merge_histogram_states(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """quantileMerge's storage half: histogram states are additive."""
    return (
        a.unionByName(b).groupBy(*keys, "bin").agg(F.sum("cnt").alias("cnt"))
    )


def histogram_quantiles(
    hist: DataFrame,
    keys: list[str],
    qs: list[float],
    lo: float,
    hi: float,
    nbins: int = 128,
) -> DataFrame:
    """Read-time quantile estimates from a histogram state: for each q,
    the first bin whose cumulative count reaches ceil(q · total), with
    linear interpolation inside the bin.  Deterministic (integer
    cumulative counts, one float expression at the end), so the DuckDB
    twin reproduces it bit-for-bit.

    Output: ``(keys…, q, quantile)`` — one row per key per requested q.

    Plan shape: one window cumsum + one equi-join against the per-key
    totals + a combinable ``min_by`` — all at histogram cardinality
    (keys × nbins), never fact cardinality."""
    if not all(0.0 < x <= 1.0 for x in qs):
        raise ValueError("quantiles must be in (0, 1]")
    w = (hi - lo) / nbins
    cum = F.sum("cnt").over(Window.partitionBy(*keys).orderBy("bin"))
    cdf = hist.withColumn("cum", cum)
    totals = hist.groupBy(*keys).agg(F.sum("cnt").alias("total"))
    qlit = F.explode(F.array(*[F.lit(float(x)) for x in qs])).alias("q")
    hit = (
        cdf.join(totals, keys)
        .select(*keys, "bin", "cnt", "cum", "total", qlit)
        .withColumn("target", F.ceil(F.col("q") * F.col("total")))
        .where(F.col("cum") >= F.col("target"))
        .groupBy(*keys, "q")
        .agg(F.min_by(F.struct("bin", "cnt", "cum", "target"), "bin").alias("_h"))
    )
    below = (F.col("_h.cum") - F.col("_h.cnt")).cast("double")  # count strictly before bin
    est = F.lit(lo) + F.lit(w) * (
        F.col("_h.bin").cast("double")
        + (F.col("_h.target").cast("double") - below) / F.col("_h.cnt").cast("double")
    )
    return hit.select(*keys, "q", F.round(est, 6).alias("quantile"))


# --- log-bucketed histogram state (unbounded-domain quantiles) -------------
#
# The fixed-bin state above needs lo/hi up front — fine for known
# domains (engagement_score ∈ [0, 7.5]), wrong for an unknown-range
# column (latencies, revenues, embedding norms).  The standard
# mergeable answer is RELATIVE-error log bucketing (the DDSketch
# construction, Masson et al., VLDB'19 — see PAPERS.md): bucket
# boundaries are ABSOLUTE powers of gamma = (1+alpha)/(1-alpha), so no
# re-binning ever happens — states from any two corpora merge by plain
# addition, exactly like the fixed-bin form — and every bucket's
# midpoint is within alpha relative error of anything in the bucket.
# State size is logarithmic in the value RANGE (~log_gamma(hi/lo)
# buckets actually touched), not pre-declared.

DEFAULT_ALPHA = 0.01
_LOG_BIN_OFFSET = 100_000  # > max |bucket index| for float64 at alpha>=1e-4


def _gamma(alpha: float) -> float:
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    return (1.0 + alpha) / (1.0 - alpha)


def log_histogram_state(
    df: DataFrame,
    value_col: str,
    keys: list[str],
    alpha: float = DEFAULT_ALPHA,
    min_value: float = 1e-9,
) -> DataFrame:
    """Log-bucketed quantile state ``(keys…, bin, cnt)`` for columns of
    UNKNOWN range (negative values included — the sign gets its own
    mirrored store, ``|v| < min_value`` collapses to the zero bucket).

    Encoding: bucket index i = ceil(ln|v| / ln gamma); stored bin =
    sign(v)·(i + OFFSET), 0 for the zero bucket — a single long that
    sorts in value order, so the fixed-bin readout machinery (cumsum →
    first bin reaching the target rank) transfers unchanged.  The
    merge IS ``merge_histogram_states`` (additive), and binning is a
    pure function of the value — merge-order invariant by
    construction."""
    import math

    lg = math.log(_gamma(alpha))
    v = F.col(value_col).cast("double")
    absv = F.abs(v)
    i = F.ceil(F.log(absv) / F.lit(lg)).cast("long")
    bin_ = (
        F.when(absv < F.lit(float(min_value)), F.lit(0).cast("long"))
        .when(v > 0, i + F.lit(_LOG_BIN_OFFSET))
        .otherwise(-(i + F.lit(_LOG_BIN_OFFSET)))
    )
    return (
        df.where(v.isNotNull())
        .groupBy(*keys, bin_.alias("bin"))
        .agg(F.count("*").alias("cnt"))
    )


def log_histogram_quantiles(
    hist: DataFrame,
    keys: list[str],
    qs: list[float],
    alpha: float = DEFAULT_ALPHA,
) -> DataFrame:
    """Read-time quantiles from a log-bucketed state: the first bucket
    whose cumulative count reaches ceil(q·total), reported as the
    bucket midpoint ``2·gamma^i/(gamma+1)`` — within ``alpha``
    relative error of the exact quantile value (the DDSketch
    guarantee), for ANY value range, at state cardinality cost.

    Output: ``(keys…, q, quantile)`` — same shape as
    ``histogram_quantiles`` so the two states are drop-in peers."""
    if not all(0.0 < x <= 1.0 for x in qs):
        raise ValueError("quantiles must be in (0, 1]")
    g = _gamma(alpha)
    cum = F.sum("cnt").over(Window.partitionBy(*keys).orderBy("bin"))
    cdf = hist.withColumn("cum", cum)
    totals = hist.groupBy(*keys).agg(F.sum("cnt").alias("total"))
    qlit = F.explode(F.array(*[F.lit(float(x)) for x in qs])).alias("q")
    hit = (
        cdf.join(totals, keys)
        .select(*keys, "bin", "cum", "total", qlit)
        .withColumn("target", F.ceil(F.col("q") * F.col("total")))
        .where(F.col("cum") >= F.col("target"))
        .groupBy(*keys, "q")
        .agg(F.min("bin").alias("bin"))
    )
    i = (F.abs(F.col("bin")) - F.lit(_LOG_BIN_OFFSET)).cast("double")
    rep = F.lit(2.0 / (g + 1.0)) * F.pow(F.lit(g), i)
    est = (
        F.when(F.col("bin") == 0, F.lit(0.0))
        .when(F.col("bin") > 0, rep)
        .otherwise(-rep)
    )
    return hit.select(*keys, "q", F.round(est, 9).alias("quantile"))


def merge_log_histogram_increment(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    value_col: str,
    keys: list[str],
    alpha: float = DEFAULT_ALPHA,
    epoch: int | None = None,
) -> None:
    """Fold a new fact batch into a stored log-bucketed quantile state
    — the AggregatingMergeTree insert-trigger shape shared with the
    uniq/topk states, for the UNBOUNDED-domain quantile family (the
    natural streaming fit: a stream's value range is never known up
    front, and absolute gamma-power buckets mean a batch can never
    force a re-bin of history).  Additive merge ⇒ the usual in-data
    ``last_epoch`` stamp makes re-delivered epochs no-op."""
    import os

    finish_interrupted_swaps(path)
    if not os.path.isdir(path):  # atomic bootstrap (see uniques)
        _stage_swap(
            _epoch_stamp(log_histogram_state(new_df, value_col, keys, alpha), epoch), path
        )
        return
    current = spark.read.parquet(path)
    if _epoch_done(current, epoch):
        return
    merged = merge_histogram_states(
        current.drop("last_epoch"),
        log_histogram_state(new_df, value_col, keys, alpha),
        keys,
    )
    _stage_swap(_epoch_stamp(merged, epoch), path)


def uniq_up_to(col, n: int):
    """ClickHouse ``uniqUpTo(N)(x)`` analog: the EXACT distinct count
    while it is <= N, pinned to N+1 beyond — the cheap "are there more
    than N distinct values?" probe (reference deploys ClickHouse, whose
    SQL surface includes it).  Use inside ``groupBy(...).agg(...)``.

    Scale note: ClickHouse's state caps at N+1 stored values; Spark's
    partial distinct aggregation dedups map-side but does not cap, so
    for high-cardinality groups where only the capped answer matters
    prefer the HLL ``uniqState`` family above (bounded state, ~1.6 %
    error) — this helper is for small-N exact probes."""
    if int(n) < 1:
        raise ValueError(f"uniqUpTo requires N >= 1, got {n}")
    return F.least(F.count_distinct(col), F.lit(int(n) + 1)).cast("long")
