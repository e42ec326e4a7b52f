"""Physical-plan assertions — the 100 TB stance, enforced (SURVEY.md §4)."""

from __future__ import annotations

import re

import pyspark.sql.functions as F

import __spark_entry__ as entrymod
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import cdc, enrich
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import rollups as RU
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.plans.explain import (
    assert_broadcast_join,
    plan_string,
)
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.sources import cdc_feed
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.tables import load_table

QUERIES = entrymod.queries()


def test_enrich_join_is_broadcast(spark, sf_dir):
    """The dim join must never shuffle the fact side (J1)."""
    assert_broadcast_join(QUERIES["enrich_join"](spark, sf_dir))


def test_star_join_broadcasts_true_dims_only(spark, sf_dir):
    """supplier/nation/region are forced broadcasts; orders/customer are
    fact-proportional and must NOT carry a broadcast hint (left to AQE,
    which picks broadcast at small SF and shuffle join at 100 TB)."""
    plan = plan_string(QUERIES["star_join_revenue"](spark, sf_dir))
    assert plan.count("BroadcastExchange") >= 3, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    import inspect

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import relational

    src = inspect.getsource(relational.star_join_revenue)
    assert "broadcast(orders" not in src and "broadcast(customer" not in src


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_string(QUERIES["pricing_summary"](spark, sf_dir))
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark, sf_dir):
    """A 2-column projection must not read all 11 lineitem columns."""
    li = load_table(spark, sf_dir, "lineitem")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = plan_string(df)
    schema_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" not in schema_line
    assert "l_quantity" in schema_line


def test_no_cartesian_in_range_join(spark, sf_dir):
    plan = plan_string(QUERIES["range_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partial_aggregation_in_rollup(spark, sf_dir):
    """Hourly rollup must map-side combine (partial_count/sum before
    the exchange) — the property that bounds shuffle volume at scale."""
    plan = plan_string(QUERIES["hourly_rollup"](spark, sf_dir))
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_rollup_feed_serializes_only_consumed_fields(spark, sf_dir):
    """Guard the slim-feed optimization (round-3): the rollup-path CDC
    queries must not serialize user_id/device/raw_payload into their
    synthetic envelope — to_json of those fields was most of the
    parse cost.  The full-fidelity feed (cdc_unwrap etc.) still
    carries them."""
    import re

    def scan_cols(plan):
        cols = set()
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
            cols |= {f.split(":")[0] for f in m.group(1).split(",") if f}
        return cols

    # the feed never serializes props→raw_payload, so column pruning
    # must drop props from the events scan entirely (unwrap's full
    # from_json SCHEMA still names raw_payload — it parses to NULL)
    slim = scan_cols(plan_string(QUERIES["hourly_rollup"](spark, sf_dir)))
    assert "props" not in slim and "ts" in slim, slim
    full = scan_cols(plan_string(QUERIES["cdc_unwrap"](spark, sf_dir)))
    assert "props" in full, full


def test_interval_attribution_join_is_equi_keyed(spark, sf_dir):
    """The stream-stream attribution join's batch plan must be an
    equality join on content_id with the time range as a join-level
    filter — never a cartesian/BNLJ (the range predicate alone would
    degrade to one; the content_id key prevents it)."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import cdc
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.sources import cdc_feed
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import pipeline as sp

    ev = cdc.unwrap_engagement(
        cdc_feed.engagement_cdc_json(load_table(spark, sf_dir, "events"))
    )
    up = sp.content_update_stream(cdc_feed.content_cdc_json(load_table(spark, sf_dir, "part")))
    plan = plan_string(sp.attribute_events_to_updates(ev, up, "24 hours"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "content_id" in plan and ("HashJoin" in plan or "SortMergeJoin" in plan)


def test_hll_state_aggregates_partially(spark, sf_dir):
    """The uniqState rollup must combine map-side (partial_hll_sketch_agg
    below the exchange) — at 100 TB the shuffle carries one sketch per
    (hour, event_type) per map task, never raw user_ids."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
        cdc, enrich, sketches,
    )
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.sources import cdc_feed

    ev = cdc.unwrap_engagement(cdc_feed.engagement_cdc_json(load_table(spark, sf_dir, "events")))
    dim = enrich.compact_dim_latest(
        cdc.unwrap_content(cdc_feed.content_cdc_json(load_table(spark, sf_dir, "part")))
    )
    plan = plan_string(sketches.hourly_uniques_state(enrich.enrich_events(ev, dim)))
    assert "partial_hll_sketch_agg" in plan


def test_repeated_passages_shuffles_on_digest_only(spark, sf_dir):
    """Passage detection must stay an equi-join keyed on the chunk
    digest: no cartesian/BNLJ anywhere in the plan."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import corpus

    plan = plan_string(corpus.repeated_passages(load_table(spark, sf_dir, "documents")))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "passage_md5" in plan


# Single-evaluation CDC parse pins.  The CDC parse speedup rests on
# ``cdc._pin`` — Catalyst treating ``shuffle()`` of a one-element array
# as nondeterministic and never constant-folding it.  A Spark upgrade
# that folds it would silently reintroduce the up-to-8× duplicated
# envelope parse.  These tests make that regression LOUD: the physical
# plan of each unwrap must evaluate ``from_json`` exactly once, and the
# null-id filter must sit above the feed's exchange (never substituted
# down onto the scan).


def _from_json_count(plan: str) -> int:
    return len(re.findall(r"from_json", plan))


def test_unwrap_engagement_single_parse(spark, sf_dir):
    feed = cdc_feed.engagement_cdc_json(load_table(spark, sf_dir, "events"))
    plan = plan_string(cdc.unwrap_engagement(feed))
    assert _from_json_count(plan) == 1, (
        "from_json must appear exactly once — the _pin stopped working "
        "(optimizer substituted the parse chain into a consumer):\n" + plan
    )


def test_unwrap_content_single_parse(spark, sf_dir):
    feed = cdc_feed.content_cdc_json(load_table(spark, sf_dir, "part"))
    plan = plan_string(cdc.unwrap_content(feed))
    assert _from_json_count(plan) == 1, plan


def test_null_id_filter_stays_above_exchange(spark, sf_dir):
    """The unwrap's null-id filter may not be pushed below the feed's
    repartition exchange: in the formatted plan (printed root-first)
    the Filter node must precede the Exchange, and the scan node must
    carry no parse chain in its data filters."""
    feed = cdc_feed.engagement_cdc_json(load_table(spark, sf_dir, "events"))
    plan = plan_string(cdc.unwrap_engagement(feed))
    lines = plan.splitlines()
    filter_idx = next(
        i for i, l in enumerate(lines) if re.match(r"\s*[+:*\-| ]*\(?\d*\)?\s*.*Filter", l)
    )
    exchange_idx = next(i for i, l in enumerate(lines) if "Exchange" in l)
    assert filter_idx < exchange_idx, (
        "null-id Filter was pushed below the feed's Exchange:\n" + plan
    )
    # the scan's pushed/data filters must not contain the parse chain
    for m in re.finditer(r"(DataFilters|PushedFilters): \[(.*?)\]", plan):
        assert "from_json" not in m.group(2), plan


def test_full_rollup_slice_single_parse_per_feed(spark, sf_dir):
    """End-to-end slice (parse → enrich → rollup): one from_json per
    feed (engagement + content = 2 total) — the hourly_rollup shape
    ``bench.py`` times."""
    ev = load_table(spark, sf_dir, "events")
    part = load_table(spark, sf_dir, "part")
    dim = enrich.compact_dim_latest(cdc.unwrap_content(cdc_feed.content_cdc_json(part)))
    df = RU.hourly_rollup(
        enrich.enrich_events(
            cdc.unwrap_engagement(cdc_feed.engagement_cdc_json(ev)), dim
        )
    )
    plan = plan_string(df)
    assert _from_json_count(plan) <= 2, (
        f"expected ≤2 from_json (one per feed), got {_from_json_count(plan)}:\n" + plan
    )
