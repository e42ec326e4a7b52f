"""Warehouse physical layout (SURVEY.md §2.3 P14, §4).

The reference's ClickHouse table is laid out as
``PARTITION BY toYYYYMM(event_ts) ORDER BY (event_id)`` with a sparse
primary index (clickhouse-init.sql:21-28).  The Spark-native analog:

- monthly ``partitionBy`` directories → static + dynamic partition
  pruning on time predicates;
- ``sortWithinPartitions(event_id)`` → parquet row-group min/max stats
  become a sparse index over event_id, so point/range lookups skip
  row groups (Delta would add ZORDER + data-skipping files on top).

At 100 TB the partition column bounds every time-scoped query to the
months it touches and the sort bounds key lookups to a few row groups —
the same two pruning levers ClickHouse gets from its MergeTree layout.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .storage import finish_interrupted_swaps, rewrite

MONTH_COL = "event_month"  # clickhouse-init.sql:27 PARTITION BY toYYYYMM


SAMPLE_COL = "_skey"
SAMPLE_DENOM = 10_000
_SAMPLE_SEED = "smp:"


def write_warehouse(
    enriched: DataFrame,
    path: str,
    mode: str = "overwrite",
    bloom_cols: list[str] | None = None,
    sample_by: str | None = None,
) -> None:
    """Write the enriched-events table monthly-partitioned, key-sorted.

    ``bloom_cols``: write parquet BLOOM FILTERS — the ClickHouse
    ``bloom_filter`` skip-index analog.  Row-group min/max stats (the
    sparse index) only skip when the column is clustered; blooms skip
    row groups on ANY point predicate over a high-cardinality
    unclustered column (user_id, content_id lookups on an
    event_id-sorted table), at a few KB per column chunk.  The parquet
    reader consults them during predicate pushdown with no query-side
    change.  Both the per-column ``…#col`` key and the global enable
    are set: this parquet build ignores the per-column form (verified
    by byte-identical output), so requesting ANY bloom column enables
    blooms for the whole file — the per-column keys are kept for
    parquet versions that honor the finer grain.

    ``sample_by``: store a SAMPLING KEY — the ClickHouse ``SAMPLE BY``
    analog: ``_skey = portable_hash64(sample_by) mod 10000`` written
    with the data, so ``sample_scan(fraction)`` later reads a
    deterministic hash-range slice with the predicate PUSHED into the
    parquet scan.  Key properties inherited from the hash-range
    construction (both tested): the same fraction always selects the
    same rows, and samples NEST (``SAMPLE 0.1 ⊂ SAMPLE 0.2``) —
    ClickHouse's consistency guarantees.  Sample by a user-ish key for
    per-entity all-or-nothing semantics (cohort math stays valid), by
    event_id for row-level sampling."""
    from .functions.scalar import portable_hash64

    base = enriched
    if sample_by:
        # NULL keys hash a sentinel instead of propagating NULL — a
        # NULL _skey would silently fall out of every sample,
        # including SAMPLE 1.0
        key = F.coalesce(F.col(sample_by).cast("string"), F.lit("\u0000"))
        base = base.withColumn(
            SAMPLE_COL,
            F.pmod(
                portable_hash64(key, seed=_SAMPLE_SEED), F.lit(SAMPLE_DENOM)
            ).cast("int"),
        )
    w = (
        base.withColumn(MONTH_COL, F.date_format("event_ts", "yyyyMM"))
        .repartition(F.col(MONTH_COL))
        .sortWithinPartitions("event_id")
        .write.mode(mode)
    )
    if bloom_cols:
        w = w.option("parquet.bloom.filter.enabled", "true")
        for c in bloom_cols:
            w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
    w.partitionBy(MONTH_COL).parquet(path)


def read_warehouse(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def sample_scan(spark: SparkSession, path: str, fraction: float) -> DataFrame:
    """``SELECT ... SAMPLE <fraction>`` — read the deterministic
    hash-range slice of a warehouse written with ``sample_by``: rows
    whose stored sampling key falls under ``fraction`` of the key
    space.  The ``_skey < N`` predicate reaches the parquet scan
    (PushedFilters — row groups whose min exceeds the cut are never
    decoded), so a 1% sample of a 100 TB table reads ~1% of it.
    Deterministic and NESTED across fractions: every query over the
    same fraction sees the same rows, and smaller samples are subsets
    of larger ones — the two guarantees ClickHouse's SAMPLE BY gives
    analysts.  Fails loudly on a table stored without a sampling
    key."""
    cut = _sample_cut(fraction)
    df = read_warehouse(spark, path)
    if SAMPLE_COL not in df.columns:
        raise ValueError(
            f"warehouse at {path} stores no sampling key — write with "
            "write_warehouse(..., sample_by=...) to enable SAMPLE reads"
        )
    return df.where(F.col(SAMPLE_COL) < cut)


def _sample_cut(fraction: float) -> int:
    """Key-space cut for a requested fraction; refuses fractions the
    key resolution cannot represent (a silent cut of 0 would return
    an empty sample that reads as 'no data')."""
    if not (0.0 < fraction <= 1.0):
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    cut = int(round(fraction * SAMPLE_DENOM))
    if cut == 0:
        raise ValueError(
            f"fraction {fraction} is below the sampling resolution "
            f"1/{SAMPLE_DENOM} — re-write with a finer key space or sample more"
        )
    return cut


def sampled_counts(
    spark: SparkSession, path: str, fraction: float, keys: list[str]
) -> DataFrame:
    """Estimate per-key event counts from a SAMPLE read, scaled by the
    EFFECTIVE fraction ``cut/SAMPLE_DENOM`` (the ClickHouse
    ``count() * any(_sample_factor)`` idiom) — scaling by the raw
    request would bias every estimate whenever rounding moved the
    cut.  Grouped count over the pruned slice, one combinable
    aggregation; unbiased when the sampling key is uniform over the
    grouped domain, all-or-nothing per sampling entity."""
    effective = _sample_cut(fraction) / SAMPLE_DENOM
    sample = sample_scan(spark, path, fraction)
    return sample.groupBy(*keys).agg(
        F.round(F.count("*") / effective).cast("long").alias("est_count")
    )


def month_slice(spark: SparkSession, path: str, yyyymm: str) -> DataFrame:
    """Time-scoped read — the predicate is on the partition column, so
    the scan touches exactly one month directory (assert via
    ``PartitionFilters`` in the plan)."""
    return read_warehouse(spark, path).where(F.col(MONTH_COL) == yyyymm)


def _stage_swap(
    df: DataFrame,
    path: str,
    partition_by: str | None = None,
    sort_within: list[str] | None = None,
    final_drop: list[str] | None = None,
) -> None:
    """Rewrite ``path`` from ``df`` safely while ``df`` may be reading
    it: ``storage.rewrite`` writes ``df`` once into a stage inside the
    table and commits it by directory rename — the whole tree for an
    unpartitioned target, each ``partition_by`` directory present in
    ``df`` for a partitioned one (the others keep their bytes).  A
    crash leaves each partition old, new, or parked beside its staged
    copy; the writer's next ``storage.finish_interrupted_swaps`` (which
    callers run before reading the target) completes it.

    A partitioned rewrite is clustered by the partition column, so each
    partition value is written by one task — one file per partition,
    not one per task per partition.  ``sort_within``: physical row
    order to impose within that clustering (must LEAD with the
    partition column — the partitioned writer requires a sort on the
    partition key and would otherwise insert its own, NON-stable, sort
    that scrambles any order the caller arranged); ``final_drop``
    removes helper columns (e.g. a clustering key) after the sort,
    which preserves row order."""
    if partition_by:
        df = df.repartition(F.col(partition_by))
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
    if final_drop:
        df = df.drop(*final_drop)
    rewrite(df, path, partition_by)


def zorder_key(*cols, bits: int = 16):
    """Z-order (Morton) clustering key: interleaves the low ``bits``
    bits of each column — bit b of column i lands at position
    b*ncols + i.  Rows close in EVERY dimension get close keys, so
    sorting by the key co-locates them in the same parquet row groups
    and each file's min/max stats become tight in all dimensions at
    once — multi-column data skipping from a single sort, the Spark
    expression analog of Delta/ClickHouse ZORDER/ORDER BY tuples.

    Inputs must already be non-negative ints < 2**bits (use
    ``minmax_scale``); pure bit arithmetic, codegen-friendly, no UDF.
    ncols*bits must fit a signed long (≤ 62).
    """
    if len(cols) * bits > 62:
        raise ValueError(f"{len(cols)} cols x {bits} bits exceeds a signed long")
    out = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(F.col(c) if isinstance(c, str) else c, b).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit.cast("long"), b * len(cols) + i))
    return out


def minmax_scale(df: DataFrame, cols: list[str], bits: int = 16) -> DataFrame:
    """Append ``_z_<col>`` columns scaled to [0, 2**bits) by the
    column's global min/max — one tiny agg broadcast-joined back
    (the stats row is 1 row; the fact side never shuffles)."""
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"_mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_mx_{c}") for c in cols],
    )
    out = df.join(F.broadcast(stats))
    top = (1 << bits) - 1
    for c in cols:
        span = F.col(f"_mx_{c}") - F.col(f"_mn_{c}")
        scaled = F.when(
            span > 0,
            F.floor((F.col(c).cast("double") - F.col(f"_mn_{c}")) / span * top),
        ).otherwise(F.lit(0))
        out = out.withColumn(f"_z_{c}", F.least(scaled, F.lit(top)).cast("long"))
    return out.drop(*[f"_mn_{c}" for c in cols], *[f"_mx_{c}" for c in cols])


def compact_warehouse(
    spark: SparkSession, path: str, zorder_by: list[str] | None = None
) -> None:
    """Small-file compaction — the MergeTree background-merge analog.

    Streaming micro-batch appends leave many small files per month;
    rewriting each month partition as few key-sorted files restores
    scan efficiency and row-group stats (run periodically, like
    ClickHouse merges — the table's logical content is unchanged).

    ``zorder_by``: cluster each month by the Morton interleave of the
    given columns instead of the flat event_id sort — multi-column
    data skipping (e.g. ``["user_id", "content_id"]`` serves both
    per-user and per-content point reads from the same layout).
    """
    finish_interrupted_swaps(path)
    df = read_warehouse(spark, path)
    if zorder_by:
        helpers = [f"_z_{c}" for c in zorder_by]
        df = minmax_scale(df, zorder_by).withColumn("_zkey", zorder_key(*helpers))
        _stage_swap(
            df,
            path,
            partition_by=MONTH_COL,
            sort_within=[MONTH_COL, "_zkey"],
            final_drop=["_zkey", *helpers],
        )
    else:
        _stage_swap(df, path, partition_by=MONTH_COL, sort_within=[MONTH_COL, "event_id"])


# --- data lifecycle: the MergeTree TTL analog -------------------------------


def list_month_partitions(path: str) -> list[str]:
    """Sorted ``yyyyMM`` values present under ``path`` (directory
    listing of the partition column — the metadata ClickHouse keeps in
    ``system.parts``)."""
    import os

    pre = MONTH_COL + "="
    if not os.path.isdir(path):
        return []
    return sorted(
        d[len(pre):]
        for d in os.listdir(path)
        if d.startswith(pre) and os.path.isdir(os.path.join(path, d))
    )


def apply_ttl(
    spark: SparkSession,
    path: str,
    cutoff_ts: str,
    ts_col: str = "event_ts",
    rollup_path: str | None = None,
) -> dict:
    """``TTL event_ts + INTERVAL n DELETE`` analog: expire all rows with
    ``ts_col < cutoff_ts`` from the monthly-partitioned warehouse.

    Scale shape (the reason ClickHouse ties TTL to the partition key,
    clickhouse-init.sql:21-28 layout): months entirely behind the
    cutoff are dropped as WHOLE PARTITIONS — a directory unlink, no
    data read or rewritten — and only the single month containing the
    cutoff is rewritten (filtered, partition-scoped).  Surviving
    months are untouched bytes (tested).  On a lakehouse this is the
    metadata-only ``DELETE WHERE partition < x`` fast path.

    ``rollup_path``: the ``TTL … GROUP BY`` analog — before deletion,
    expired facts are preserved as hourly-rollup partials so aggregates
    survive fact expiry.  EXACTLY-ONCE BY CONSTRUCTION: each TTL run
    owns a write-once ``run=<cutoff-id>`` partition of the
    expired-rollup table — written (from the still-intact facts) and
    committed BEFORE any drop starts, never rewritten once committed,
    and never merged into mutable state — so a crash at any point
    followed by a re-run of the same cutoff either re-creates the
    identical partition (crash before commit: facts untouched) or
    skips straight to the idempotent drops (crash after commit);
    double-counting has no code path.  Successive cutoffs expire
    disjoint fact sets, so run partitions are additive; read with
    ``read_ttl_rollup`` (re-merges across runs at rollup cardinality).

    Returns ``{"dropped_months", "rewritten_month", "rows_expired"}``.
    """
    import os
    import shutil

    finish_interrupted_swaps(path)
    cutoff = F.lit(cutoff_ts).cast("timestamp")
    cutoff_month = spark.range(1).select(
        F.date_format(cutoff, "yyyyMM")
    ).first()[0]
    months = list_month_partitions(path)
    whole = [m for m in months if m < cutoff_month]
    boundary = cutoff_month if cutoff_month in months else None

    expired = None
    if whole:
        expired = read_warehouse(spark, path).where(F.col(MONTH_COL).isin(whole))
    if boundary is not None:
        bexp = month_slice(spark, path, boundary).where(F.col(ts_col) < cutoff)
        expired = bexp if expired is None else expired.unionByName(bexp)

    rows_expired = 0
    if expired is not None:
        # the expired set is read twice (rollup fold + count) — persist
        # so the boundary-month scan and filter run once
        expired = expired.persist()
        try:
            if rollup_path is not None:
                run_id = spark.range(1).select(
                    F.date_format(cutoff, "yyyyMMddHHmmss")
                ).first()[0]
                run_dir = os.path.join(rollup_path, f"run={run_id}")
                # write-once: drops only start after this commit
                # (_SUCCESS), so a committed run partition always
                # reflects the COMPLETE expired set for its cutoff; a
                # replay after partial drops must not rewrite it from
                # the mutated facts
                if not os.path.isfile(os.path.join(run_dir, "_SUCCESS")):
                    _partial_rollup(expired).write.mode("overwrite").parquet(run_dir)
            rows_expired = expired.count()
        finally:
            expired.unpersist()

    rewritten = None
    if boundary is not None:
        keep = month_slice(spark, path, boundary).where(F.col(ts_col) >= cutoff)
        part_dir = os.path.join(path, f"{MONTH_COL}={boundary}")
        if keep.isEmpty():
            shutil.rmtree(part_dir)
            whole.append(boundary)
        else:
            # partition-scoped rewrite of this month alone (the stage
            # commit leaves every other month untouched); range-partition
            # on the sort key so one month's rewrite stays parallel (one
            # file per key range) — within each task MONTH_COL is constant,
            # so the partitioned writer's required partition-key sort holds
            rewrite(
                keep.withColumn(MONTH_COL, F.lit(boundary))
                .repartitionByRange("event_id")
                .sortWithinPartitions(MONTH_COL, "event_id"),
                path,
                MONTH_COL,
            )
            rewritten = boundary

    for m in whole:
        d = os.path.join(path, f"{MONTH_COL}={m}")
        if os.path.isdir(d):
            shutil.rmtree(d)
    return {
        "dropped_months": sorted(whole),
        "rewritten_month": rewritten,
        "rows_expired": rows_expired,
    }


def read_ttl_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """Read the TTL expired-rollup table: re-merge the per-run
    partitions (additive DECIMAL partials) to one rollup — the same
    output shape as ``read_rollup``.  Union it with a rollup of the
    surviving facts to reconstruct full-history aggregates."""
    return (
        spark.read.parquet(rollup_path)
        .groupBy(*_ROLLUP_KEY)
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("score_dec").cast("decimal(28,2)").alias("score_dec"),
        )
        .select(
            "hour_ts", "content_type", "event_type", "cnt",
            F.col("score_dec").cast("double").alias("total_score"),
        )
    )


# --- incremental hourly-rollup maintenance (the MV insert-trigger analog) ---

_ROLLUP_KEY = ["hour_ts", "content_type", "event_type"]


def _partial_rollup(enriched: DataFrame) -> DataFrame:
    return enriched.groupBy(
        F.date_trunc("hour", F.col("event_ts")).alias("hour_ts"),
        "content_type",
        "event_type",
    ).agg(
        F.count("*").alias("cnt"),
        # DECIMAL in storage: increments merge exactly, in any order
        F.sum(F.col("engagement_score").cast("decimal(18,2)")).cast("decimal(28,2)").alias("score_dec"),
    )


def write_rollup(enriched: DataFrame, path: str) -> None:
    """Materialize the hourly rollup (clickhouse-init.sql:26-38 analog)."""
    _partial_rollup(enriched).write.mode("overwrite").parquet(path)


def merge_rollup_increment(spark: SparkSession, path: str, new_enriched: DataFrame) -> None:
    """Fold a new batch into the stored rollup additively — the
    SummingMergeTree partial-merge, run at write time.  Because partials
    are DECIMAL, increment order cannot change the stored values; the
    result is bit-identical to a full recompute (tested)."""
    finish_interrupted_swaps(path)
    current = spark.read.parquet(path)
    merged = (
        current.unionByName(_partial_rollup(new_enriched))
        .groupBy(*_ROLLUP_KEY)
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("score_dec").cast("decimal(28,2)").alias("score_dec"),
        )
    )
    _stage_swap(merged, path)


def read_rollup(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).select(
        "hour_ts", "content_type", "event_type", "cnt",
        F.col("score_dec").cast("double").alias("total_score"),
    )


# --- projections: alternate pre-aggregated copies + automatic routing -------
#
# ClickHouse PROJECTIONs are per-table alternate layouts (pre-aggregated
# or re-sorted copies) maintained alongside the base parts; the query
# planner silently answers a matching query from the smallest qualifying
# projection instead of scanning the base table.  The Spark-native
# analog below keeps each projection as an additive-DECIMAL partial
# aggregate (the same exactly-mergeable state as the hourly rollup MV),
# a JSON manifest as the catalog, and a router that rewrites a
# grouped-aggregate read to the cheapest projection whose grouping keys
# COVER the request (requested keys ⊆ projection keys ⇒ the finer
# partials re-aggregate exactly).  At 100 TB this turns a fact scan
# into a KB-to-MB pre-aggregate read — the same reason ClickHouse ships
# the feature.  Derived time keys supported: ``hour_ts`` (hour
# truncation of event_ts), matching the reference MV grain.

_MANIFEST = "_projections.json"

_DERIVED_KEYS = {"hour_ts": lambda: F.date_trunc("hour", F.col("event_ts")).alias("hour_ts")}


# Aggregate-spec registry: each projection declares WHICH partial
# states it stores (the ClickHouse projection-SELECT surface beyond
# count/sum — incl. the uniqState sketch family).  Three expressions
# per spec: build a partial from facts, re-merge partials (additive
# sum / decimal sum / HLL union — all combinable), and the read-time
# finalizer.
_DEFAULT_AGGS = ("cnt", "sum_score")
_PROJ_AGGS = {
    "cnt": {
        "build": lambda: F.count("*").alias("cnt"),
        "merge": lambda: F.sum("cnt").alias("cnt"),
        "read": lambda: F.col("cnt"),
        "out": "cnt",
    },
    "sum_score": {
        "build": lambda: F.sum(F.col("engagement_score").cast("decimal(18,2)"))
        .cast("decimal(28,2)")
        .alias("score_dec"),
        "merge": lambda: F.sum("score_dec").cast("decimal(28,2)").alias("score_dec"),
        "read": lambda: F.col("score_dec").cast("double"),
        "out": "total_score",
    },
    # uniqState: the HLL sketch partial (sketches.py family) — union
    # is lossless re-aggregation, so a distinct-users question answered
    # from the projection equals sketching the facts directly (tested)
    "uniq_users": {
        "build": lambda: F.hll_sketch_agg("user_id", F.lit(12)).alias("uniq_users_state"),
        "merge": lambda: F.hll_union_agg("uniq_users_state").alias("uniq_users_state"),
        "read": lambda: F.hll_sketch_estimate("uniq_users_state"),
        "out": "uniq_users",
    },
}


def _check_aggs(aggs) -> list[str]:
    bad = [a for a in aggs if a not in _PROJ_AGGS]
    if bad:
        raise ValueError(f"unknown projection aggregates {bad}; known: {sorted(_PROJ_AGGS)}")
    return list(aggs)


def _keyed_partial(facts: DataFrame, keys: list[str], aggs=_DEFAULT_AGGS) -> DataFrame:
    cols = [
        _DERIVED_KEYS[k]() if k in _DERIVED_KEYS and k not in facts.columns else F.col(k)
        for k in keys
    ]
    return facts.groupBy(*cols).agg(*[_PROJ_AGGS[a]["build"]() for a in _check_aggs(aggs)])


def _merge_partials(partials: DataFrame, keys: list[str], aggs) -> DataFrame:
    return partials.groupBy(*keys).agg(*[_PROJ_AGGS[a]["merge"]() for a in aggs])


def stamped(stored: DataFrame) -> DataFrame:
    """Stored rows with a guaranteed ``last_epoch`` column (pre-stamp
    tables read as -1: every epoch applies).  Shared by every
    incrementally-maintained table that stamps its exactly-once epoch
    inside the committed data (serving tables, projections)."""
    if "last_epoch" not in stored.columns:
        stored = stored.withColumn("last_epoch", F.lit(-1).cast("long"))
    return stored


def buckets_already_stamped(stored: DataFrame, bucket_col: str, epoch: int) -> set:
    """Buckets whose committed rows already carry ``epoch`` (the
    re-delivered half of a crash between per-partition rename
    commits and a sink's global epoch marker) — those skip,
    the rest apply.  A bounded collect: ≤ touched-bucket cardinality
    rows."""
    return {
        r[0]
        for r in stored.groupBy(bucket_col)
        .agg(F.max("last_epoch").alias("e"))
        .where(F.col("e") >= epoch)
        .select(bucket_col)
        .collect()
    }


# key-hash bucket count for partition-scoped projection maintenance —
# high-cardinality projections (e.g. per-user partials over years of
# facts) must not be rewritten whole per micro-batch
_PBUCKETS = 64


def _pbucket(keys: list[str]):
    return F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(_PBUCKETS))


def _load_manifest(proj_root: str) -> dict:
    import json
    import os

    mf = os.path.join(proj_root, _MANIFEST)
    if not os.path.isfile(mf):
        return {"projections": {}}
    with open(mf) as f:
        return json.load(f)


def _store_manifest(proj_root: str, manifest: dict) -> None:
    import json
    import os

    os.makedirs(proj_root, exist_ok=True)
    tmp = os.path.join(proj_root, _MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(proj_root, _MANIFEST))


def define_projection(
    spark: SparkSession,
    wh_path: str,
    proj_root: str,
    name: str,
    keys: list[str],
    aggs=_DEFAULT_AGGS,
) -> None:
    """``ALTER TABLE … ADD PROJECTION (SELECT keys…, <agg states>
    GROUP BY keys…) + MATERIALIZE`` analog: build the partial-aggregate
    copy from the current facts and register it in the catalog with its
    stored row count (the router's cost signal).  ``aggs`` picks the
    stored states from ``_PROJ_AGGS`` — count/sum partials by default,
    ``"uniq_users"`` adds the uniqState HLL sketch so distinct-count
    questions route to the projection too.

    Layout: partitioned by a hash bucket of the key tuple
    (``pbucket``), so insert-time maintenance reads and rewrites ONLY
    the buckets a batch's partials hash into — a per-user projection
    over years of facts never rewrites whole per micro-batch (the
    leaderboard's partition-scoped MERGE pattern applied to the
    projection catalog)."""
    import os

    facts = read_warehouse(spark, wh_path)
    path = os.path.join(proj_root, name)
    part = _keyed_partial(facts, keys, aggs).withColumn("pbucket", _pbucket(keys))
    part.write.mode("overwrite").partitionBy("pbucket").parquet(path)
    manifest = _load_manifest(proj_root)
    manifest["projections"][name] = {
        "keys": list(keys),
        "aggs": _check_aggs(aggs),
        "pbuckets": _PBUCKETS,
        "path": path,
        "rows": spark.read.parquet(path).count(),
    }
    _store_manifest(proj_root, manifest)


def refresh_projections(
    spark: SparkSession, proj_root: str, new_facts: DataFrame, epoch: int | None = None
) -> None:
    """Insert-time maintenance: fold a new fact batch into EVERY
    registered projection additively (DECIMAL partials ⇒ bit-identical
    to a full rebuild, any batch order — same guarantee as
    merge_rollup_increment).

    Partition-scoped: only the ``pbucket`` partitions the batch's
    partials hash into are read or rewritten (a bounded collect of
    ≤ ``_PBUCKETS`` bucket ids prunes the stored read) — per-batch
    cost is O(batch keys ∪ their buckets), never O(projection).

    ``epoch`` (streaming callers): every committed row carries a
    per-BUCKET ``last_epoch`` stamp — a crash anywhere between the
    per-partition commits, between two projections, or before the
    sink's global marker replays with the already-stamped buckets
    no-oping and exactly the missing ones applying."""
    manifest = _load_manifest(proj_root)
    stamp = -1 if epoch is None else int(epoch)
    for name, meta in manifest["projections"].items():
        aggs = meta.get("aggs", list(_DEFAULT_AGGS))
        keys = meta["keys"]
        delta = _keyed_partial(new_facts, keys, aggs).withColumn("pbucket", _pbucket(keys))
        delta.persist()
        try:
            touched = [r[0] for r in delta.select("pbucket").distinct().collect()]
            if not touched:
                continue
            finish_interrupted_swaps(meta["path"])
            stored = stamped(
                spark.read.parquet(meta["path"]).where(F.col("pbucket").isin(touched))
            )
            if epoch is not None:
                done = buckets_already_stamped(stored, "pbucket", epoch)
                if done:
                    touched = [b for b in touched if b not in done]
                    if not touched:
                        continue
                    stored = stored.where(F.col("pbucket").isin(touched))
            merged = _merge_partials(
                stored.drop("last_epoch").unionByName(
                    delta.where(F.col("pbucket").isin(touched))
                ),
                [*keys, "pbucket"],
                aggs,
            ).withColumn("last_epoch", F.lit(stamp).cast("long"))
            _stage_swap(merged, meta["path"], partition_by="pbucket")
            meta["rows"] = spark.read.parquet(meta["path"]).count()
        finally:
            delta.unpersist()
    _store_manifest(proj_root, manifest)


def routed_aggregate(
    spark: SparkSession,
    wh_path: str,
    proj_root: str,
    keys: list[str],
    aggs=_DEFAULT_AGGS,
) -> tuple[DataFrame, str]:
    """Answer ``SELECT keys…, <aggs> GROUP BY keys…`` from the
    cheapest qualifying projection, else the base facts.  A projection
    qualifies when its keys cover the requested keys AND its stored
    states cover the requested aggregates (asking for
    ``"uniq_users"`` routes past count/sum-only projections straight
    to one carrying the sketch — or to facts).  Returns ``(df,
    source)`` where source is the projection name or ``"facts"``; the
    df shape depends only on ``aggs`` (``keys…`` + one finalized
    column per agg), never on the route — exactly ClickHouse's
    silent-rewrite contract (equality facts vs projection is
    tested)."""
    aggs = _check_aggs(aggs)
    manifest = _load_manifest(proj_root)
    want_k, want_a = set(keys), set(aggs)
    candidates = [
        (meta["rows"], name, meta)
        for name, meta in manifest["projections"].items()
        if want_k <= set(meta["keys"]) and want_a <= set(meta.get("aggs", _DEFAULT_AGGS))
    ]
    if candidates:
        _, name, meta = min(candidates)
        part = spark.read.parquet(meta["path"])
        grouped = _merge_partials(part, keys, aggs)
        src = name
    else:
        grouped = _keyed_partial(read_warehouse(spark, wh_path), keys, aggs)
        src = "facts"
    return (
        grouped.select(
            *keys, *[_PROJ_AGGS[a]["read"]().alias(_PROJ_AGGS[a]["out"]) for a in aggs]
        ),
        src,
    )
