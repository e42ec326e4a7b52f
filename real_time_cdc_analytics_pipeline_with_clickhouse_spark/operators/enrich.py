"""Dimension compaction + broadcast enrichment join (SURVEY.md §2.5).

J2 — latest-wins compaction of the content CDC feed (the Flink
broadcast-state upsert/delete map, ESJ:310-318) as a ranking window.

J1 — the stream-dimension left equi-join (ESJ:279-307).  The dimension
is tiny relative to the fact stream, so we force ``broadcast()``: at
100 TB of events the join must stay shuffle-free on the fact side —
the exact property the reference gets from Flink broadcast state.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .cdc import enriched_columns


def compact_dim_latest(changes: DataFrame) -> DataFrame:
    """J2 — last-write-wins by (source_ts_ms, is_delete) per key;
    deleted keys drop out entirely.

    ``is_delete`` participates in the tiebreak so a same-millisecond
    delete beats its predecessor, matching arrival-order overwrite in
    the reference's map state.

    ``max_by`` on (source_ts_ms, is_delete): a partial-then-final
    aggregate, so version history collapses map-side before the
    shuffle (a long CDC backlog compacts in one pass).  With struct
    buffers it plans as a ``SortAggregate`` — a per-key ``Sort`` on
    both sides of the exchange, not a hash aggregate.
    """
    others = [c for c in changes.columns if c != "id"]
    latest = (
        changes.groupBy("id")
        .agg(F.max_by(F.struct(*others), F.struct("source_ts_ms", "is_delete")).alias("_r"))
        .select("id", "_r.*")
    )
    return latest.where(~F.col("is_delete")).drop("is_delete")


def enrich_events(events: DataFrame, dim: DataFrame) -> DataFrame:
    """J1 + P6-P8 — broadcast left join, then derived metrics.

    Events with no (or deleted) dimension row are still emitted with
    null content fields (ESJ:283-290: miss → nulls, event not dropped).
    """
    d = dim.select(
        F.col("id").alias("content_id"),
        "content_type",
        "length_seconds",
    )
    joined = events.join(F.broadcast(d), "content_id", "left")
    return enriched_columns(joined)
