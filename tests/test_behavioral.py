"""Behavioral analytics (ClickHouse windowFunnel / retention /
sequenceMatch / sequenceCount analogs) — DuckDB-differential plus
pinned-semantics micro-cases.

The DuckDB twins deliberately use a DIFFERENT algorithm (k-way EXISTS
joins) than the Spark fold, so a shared-bug false pass would require
two independent implementations of the chain semantics to agree by
accident.
"""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F

import __spark_entry__ as entrymod
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import behavioral
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.oracle import (
    FUNNEL_WINDOW_S,
    funnel_exists_cte,
    q,
)
from tests.oracle_utils import compare

STEPS = ("view", "click", "purchase")
WINDOW_S = FUNNEL_WINDOW_S
_W_US = WINDOW_S * 1_000_000

# the join-based EXISTS restatement of "non-decreasing-ts chain within
# the window" — built from the SAME template the driver gate uses
# (oracle.funnel_exists_cte), so gate and tests can't drift apart.
_FUNNEL_CTES = funnel_exists_cte(_W_US)


def _check(sdf, sql, ducks):
    srows = [tuple(r) for r in sdf.collect()]
    res = ducks.sql(sql)
    problems = compare(sdf.columns, srows, [d[0] for d in res.description], res.fetchall())
    assert not problems, " | ".join(problems)
    assert srows, "empty result"


def test_funnel_levels_matches_exists_oracle(spark, sf_dir, ducks):
    sdf = behavioral.funnel_levels(
        entrymod._engagement(spark, sf_dir), STEPS, window_s=WINDOW_S
    )
    _check(sdf, q(_FUNNEL_CTES + "SELECT user_id, funnel_level FROM funnel_oracle"), ducks)


def test_funnel_conversion_matches_oracle(spark, sf_dir, ducks):
    sdf = behavioral.funnel_conversion(
        entrymod._engagement(spark, sf_dir), STEPS, window_s=WINDOW_S
    )
    _check(
        sdf,
        q(_FUNNEL_CTES + """
SELECT lv.level,
       sum(CASE WHEN f.funnel_level >= lv.level THEN 1 ELSE 0 END) AS users_reached
FROM funnel_oracle f
CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS level) lv
GROUP BY lv.level
"""),
        ducks,
    )


def test_sequence_match_matches_unbounded_exists(spark, sf_dir, ducks):
    sdf = behavioral.sequence_match_chain(entrymod._engagement(spark, sf_dir), STEPS)
    _check(
        sdf,
        q("""
, fe AS (
  SELECT user_id, event_type, epoch_us(event_ts) AS ts
  FROM engagement
  WHERE event_type IN ('view', 'click', 'purchase') AND event_ts IS NOT NULL
)
SELECT u.user_id,
       EXISTS (
         SELECT 1 FROM fe a JOIN fe b ON a.user_id = b.user_id
                            JOIN fe c ON a.user_id = c.user_id
         WHERE a.user_id = u.user_id
           AND a.event_type = 'view' AND b.event_type = 'click'
           AND c.event_type = 'purchase'
           AND b.ts >= a.ts AND c.ts >= b.ts
       ) AS matched
FROM (SELECT DISTINCT user_id FROM fe) u
"""),
        ducks,
    )


def test_funnel_level_monotone_in_window(spark, sf_dir):
    eng = entrymod._engagement(spark, sf_dir)
    narrow = behavioral.funnel_levels(eng, STEPS, window_s=3600)
    wide = behavioral.funnel_levels(eng, STEPS, window_s=WINDOW_S)
    unbounded = behavioral.funnel_levels(eng, STEPS, window_s=None)
    j = (
        narrow.withColumnRenamed("funnel_level", "l1")
        .join(wide.withColumnRenamed("funnel_level", "l24"), "user_id")
        .join(unbounded.withColumnRenamed("funnel_level", "linf"), "user_id")
    )
    assert j.where((F.col("l1") > F.col("l24")) | (F.col("l24") > F.col("linf"))).count() == 0
    # and the windows genuinely bind on this fixture
    tot = j.agg(
        F.sum("l1").alias("a"), F.sum("l24").alias("b"), F.sum("linf").alias("c")
    ).first()
    assert tot["a"] < tot["c"]


def test_retention_matches_oracle(spark, sf_dir, ducks):
    eng = entrymod._engagement(spark, sf_dir)
    w1 = datetime.datetime(2024, 1, 8)
    w2 = datetime.datetime(2024, 1, 15)
    w3 = datetime.datetime(2024, 1, 22)
    conds = [
        F.col("event_ts") < F.lit(w1),
        (F.col("event_ts") >= F.lit(w1)) & (F.col("event_ts") < F.lit(w2)),
        (F.col("event_ts") >= F.lit(w2))
        & (F.col("event_ts") < F.lit(w3))
        & (F.col("event_type") == "purchase"),
    ]
    flags = behavioral.retention_flags(eng, conds)
    _check(
        flags,
        q("""
, rh AS (
  SELECT user_id,
         max(CASE WHEN event_ts < TIMESTAMP '2024-01-08' THEN 1 ELSE 0 END) AS h1,
         max(CASE WHEN event_ts >= TIMESTAMP '2024-01-08'
                   AND event_ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END) AS h2,
         max(CASE WHEN event_ts >= TIMESTAMP '2024-01-15'
                   AND event_ts < TIMESTAMP '2024-01-22'
                   AND event_type = 'purchase' THEN 1 ELSE 0 END) AS h3
  FROM engagement GROUP BY user_id
)
SELECT user_id, h1 = 1 AS r1, h1 = 1 AND h2 = 1 AS r2, h1 = 1 AND h3 = 1 AS r3
FROM rh
"""),
        ducks,
    )
    counts = behavioral.retention_counts(flags).first()
    # cohort monotonicity: r1 is a superset of every later flag
    assert counts["r1_users"] >= counts["r2_users"]
    assert counts["r1_users"] >= counts["r3_users"]
    assert counts["r1_users"] > 0


def test_sequence_count_matches_python_model(spark, sf_dir, ducks):
    """Greedy disjoint-occurrence count vs an independent Python scan
    over DuckDB-fetched per-user sequences."""
    sdf = behavioral.sequence_count_chain(entrymod._engagement(spark, sf_dir), STEPS)
    got = {r["user_id"]: r["occurrences"] for r in sdf.collect()}

    rows = ducks.sql(q("""
SELECT user_id, epoch_us(event_ts) AS ts,
       CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 ELSE 3 END AS s
FROM engagement
WHERE event_type IN ('view', 'click', 'purchase') AND event_ts IS NOT NULL
""")).fetchall()
    per_user: dict[str, list[tuple[int, int]]] = {}
    for user_id, ts, s in rows:
        per_user.setdefault(user_id, []).append((ts, s))
    want = {}
    for user_id, seq in per_user.items():
        prog = cnt = 0
        for _, s in sorted(seq):
            if s == prog + 1:
                prog += 1
                if prog == len(STEPS):
                    cnt += 1
                    prog = 0
        want[user_id] = cnt
    assert got == want
    assert sum(want.values()) > 0


def test_funnel_pinned_micro_semantics(spark):
    """Hand-checked corner cases: tie timestamps count (non-decreasing
    chain), the window binds on last-minus-first, and a later restart
    can out-reach an earlier stalled chain."""
    def ev(user, etype, second):
        return (user, etype, datetime.datetime(2024, 1, 1, 0, 0, second))

    rows = [
        # u1: tie between view and click at s=5; purchase at s=6 -> level 3
        ev("u1", "view", 5), ev("u1", "click", 5), ev("u1", "purchase", 6),
        # u2: chain spans 20 s but window is 10 s -> level 2 (view@0,click@4)
        ev("u2", "view", 0), ev("u2", "click", 4), ev("u2", "purchase", 20),
        # u3: first view stalls; later view@30 restarts and completes
        ev("u3", "view", 0), ev("u3", "click", 31), ev("u3", "view", 30),
        ev("u3", "purchase", 33),
        # u4: steps out of order only -> level 1 (view exists, no click after)
        ev("u4", "click", 1), ev("u4", "purchase", 2), ev("u4", "view", 3),
        # u5: never enters the funnel (no view) -> level 0
        ev("u5", "purchase", 1),
    ]
    df = spark.createDataFrame(rows, "user_id string, event_type string, event_ts timestamp")
    got = {
        r["user_id"]: r["funnel_level"]
        for r in behavioral.funnel_levels(df, STEPS, window_s=10).collect()
    }
    assert got == {"u1": 3, "u2": 2, "u3": 3, "u4": 1, "u5": 0}

    cnt = {
        r["user_id"]: r["occurrences"]
        for r in behavioral.sequence_count_chain(df, STEPS).collect()
    }
    assert cnt == {"u1": 1, "u2": 1, "u3": 1, "u4": 0, "u5": 0}


def test_funnel_plan_is_single_shuffle(spark, sf_dir):
    """The fold ships one groupBy(user_id) exchange and no join — the
    naive k-way self-join shape would be quadratic per user."""
    sdf = behavioral.funnel_levels(entrymod._engagement(spark, sf_dir), STEPS, WINDOW_S)
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # partial+final agg pair, no extra
    assert "Join" not in plan


def _levels_via_segments(eng, segment, window_s=WINDOW_S):
    st = behavioral.funnel_segment_states(eng, STEPS, window_s=window_s, segment=segment)
    merged = behavioral.merge_funnel_states(st, STEPS, window_s=window_s)
    return behavioral.funnel_levels_from_states(merged, STEPS)


def _assert_same_levels(a, b):
    ga = {r["user_id"]: r["funnel_level"] for r in a.collect()}
    gb = {r["user_id"]: r["funnel_level"] for r in b.collect()}
    assert ga == gb
    assert ga


def test_segmented_funnel_equals_direct(spark, sf_dir):
    """Mergeable per-segment summaries folded in order must equal the
    single-pass funnel — for daily, weekly and 6-hourly segmentation
    (the 24 h window forces chains ACROSS segment boundaries)."""
    eng = entrymod._engagement(spark, sf_dir)
    direct = behavioral.funnel_levels(eng, STEPS, WINDOW_S)
    for seg in (
        F.date_trunc("day", F.col("event_ts")),
        F.date_trunc("week", F.col("event_ts")),
        F.floor(F.unix_micros("event_ts") / (6 * 3600 * 1_000_000)).cast("long"),
    ):
        _assert_same_levels(_levels_via_segments(eng, seg), direct)


def test_segmented_funnel_unbounded_window(spark, sf_dir):
    eng = entrymod._engagement(spark, sf_dir)
    direct = behavioral.funnel_levels(eng, STEPS, window_s=None)
    _assert_same_levels(
        _levels_via_segments(eng, F.date_trunc("day", F.col("event_ts")), window_s=None),
        direct,
    )


def test_segmented_funnel_boundary_micro(spark):
    """Chains crossing the segment boundary: valid within window,
    rejected outside it, and a cross-boundary tie is honored."""
    def ev(user, etype, day, h, m, s):
        return (user, etype, datetime.datetime(2024, 1, day, h, m, s))

    rows = [
        # u1 crosses midnight inside a 120 s window -> 3
        ev("u1", "view", 1, 23, 59, 30), ev("u1", "click", 1, 23, 59, 50),
        ev("u1", "purchase", 2, 0, 0, 40),
        # u2 same shape but the purchase lands past the window -> 2
        ev("u2", "view", 1, 23, 59, 30), ev("u2", "click", 1, 23, 59, 50),
        ev("u2", "purchase", 2, 0, 5, 0),
        # u3: the purchase chain must use the LATER view to fit -> 3
        ev("u3", "view", 1, 10, 0, 0), ev("u3", "click", 1, 23, 59, 59),
        ev("u3", "view", 1, 23, 59, 0), ev("u3", "click", 2, 0, 0, 30),
        ev("u3", "purchase", 2, 0, 1, 0),
    ]
    df = spark.createDataFrame(rows, "user_id string, event_type string, event_ts timestamp")
    direct = behavioral.funnel_levels(df, STEPS, window_s=120)
    seg = _levels_via_segments(df, F.date_trunc("day", F.col("event_ts")), window_s=120)
    _assert_same_levels(seg, direct)
    got = {r["user_id"]: r["funnel_level"] for r in seg.collect()}
    assert got == {"u1": 3, "u2": 2, "u3": 3}


def test_incremental_state_fold_equals_direct(spark, sf_dir):
    """The streaming-maintenance shape: keep one merged state per user,
    fold each new day's segment summaries into it (merged state gets
    segment_us = 0 — it summarizes strictly earlier time), and the
    readout equals the full recompute at every step's end."""
    eng = entrymod._engagement(spark, sf_dir).where(F.col("event_ts") < F.lit("2024-01-10"))
    daily = behavioral.funnel_segment_states(
        eng, STEPS, WINDOW_S, segment=F.date_trunc("day", F.col("event_ts"))
    ).cache()
    days = sorted(r["segment_us"] for r in daily.select("segment_us").distinct().collect())
    assert len(days) >= 5
    merged = None
    for d in days:
        batch = daily.where(F.col("segment_us") == d)
        if merged is None:
            inc = batch
        else:
            inc = merged.select(
                "user_id", F.lit(0).cast("long").alias("segment_us"), "state"
            ).unionByName(batch)
        merged = behavioral.merge_funnel_states(inc, STEPS, WINDOW_S)
    got = behavioral.funnel_levels_from_states(merged, STEPS)
    _assert_same_levels(got, behavioral.funnel_levels(eng, STEPS, WINDOW_S))
    daily.unpersist()


def test_streaming_funnel_sink_equals_batch(spark, sf_dir, tmp_path):
    """Event-time-ordered replay through start_funnel_sink: the
    maintained per-user states must read out the same levels as the
    one-shot funnel, and a re-delivered epoch is a no-op."""
    import os
    import time

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark import serving
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
        pipeline as sp,
    )

    eng = entrymod._engagement(spark, sf_dir).persist()
    feed = str(tmp_path / "eng_feed")
    os.makedirs(feed)
    # 10-day range files written oldest-first (file source triggers by
    # mtime ascending -> event-time-ordered micro-batches)
    for n, (lo, hi) in enumerate(((1, 11), (11, 21), (21, 32))):
        eng.where(
            (F.dayofmonth("event_ts") >= lo) & (F.dayofmonth("event_ts") < hi)
        ).coalesce(1).write.mode("overwrite").parquet(f"{feed}/part{n}.parquet")
        time.sleep(1.1)

    state_dir = str(tmp_path / "funnel_state")
    stream = (
        spark.readStream.schema(eng.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed + "/*")
    )
    q = sp.start_funnel_sink(stream, state_dir, str(tmp_path / "ck_funnel"), STEPS, WINDOW_S)
    q.processAllAvailable()
    q.stop()

    got = serving.get_funnel_levels(spark, state_dir, STEPS)
    _assert_same_levels(got, behavioral.funnel_levels(eng, STEPS, WINDOW_S))
    assert sp._epoch_already_applied(state_dir + "_meta", 0, str(tmp_path / "ck_funnel"))
    eng.unpersist()


# ---------------------------------------------------------------------------
# Property tests of the funnel ALGEBRA (pure Python mirrors of the dp
# fold and the A∘B composition) against brute-force chain search —
# random ties, k up to 5, random segment splits.  The Spark code paths
# are separately EXISTS-oracled and segmented≡direct-tested above;
# this pins the math itself on corners the fixture can't produce.
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st


def _brute_level(events, k, w):
    """Max level via explicit chain enumeration (exponential, n<=10)."""
    evs = sorted(events)
    best = 0
    import itertools

    for r in range(1, k + 1):
        for combo in itertools.combinations(range(len(evs)), r):
            ok = all(evs[combo[i]][1] == i + 1 for i in range(r))
            ok = ok and all(evs[combo[i]][0] <= evs[combo[i + 1]][0] for i in range(r - 1))
            if ok and (w is None or evs[combo[-1]][0] - evs[combo[0]][0] <= w):
                best = max(best, r)
    return best


def _py_segment_state(events, k, w):
    dp = [None] * k
    pairs = {(j, i): None for j in range(1, k) for i in range(j + 1, k + 1)}
    for ts, s in sorted(events):
        if s == 1:
            dp[0] = ts if dp[0] is None else max(dp[0], ts)
        elif dp[s - 2] is not None and (w is None or ts - dp[s - 2] <= w):
            cand = dp[s - 2]
            dp[s - 1] = cand if dp[s - 1] is None else max(dp[s - 1], cand)
        for j in range(1, s):
            if s == j + 1 or pairs[(j, s - 1)] is not None:
                cur = pairs[(j, s)]
                pairs[(j, s)] = ts if cur is None else min(cur, ts)
    return dp, pairs


def _py_compose(a, b, k, w):
    dpa, ma = a
    dpb, mb = b
    dp = []
    for i in range(1, k + 1):
        cands = [x for x in (dpb[i - 1], dpa[i - 1]) if x is not None]
        for j in range(1, i):
            mB = mb[(j, i)]
            if mB is not None and dpa[j - 1] is not None and (w is None or mB <= dpa[j - 1] + w):
                cands.append(dpa[j - 1])
        dp.append(max(cands) if cands else None)
    m = {}
    for (j, i), va in ma.items():
        cands = [x for x in (va, mb[(j, i)]) if x is not None]
        for l in range(j + 1, i):
            if ma[(j, l)] is not None and mb[(l, i)] is not None:
                cands.append(mb[(l, i)])
        m[(j, i)] = min(cands) if cands else None
    return dp, m


def _dp_level(dp):
    lvl = 0
    for v in dp:
        if v is None:
            break
        lvl += 1
    return lvl


@st.composite
def _event_sets(draw):
    k = draw(st.integers(2, 5))
    n = draw(st.integers(0, 10))
    evs = [
        (draw(st.integers(0, 20)), draw(st.integers(1, k)))
        for _ in range(n)
    ]
    w = draw(st.one_of(st.none(), st.integers(0, 25)))
    return k, evs, w


@given(_event_sets())
@settings(max_examples=500, deadline=None)
def test_prop_dp_fold_equals_bruteforce(case):
    k, evs, w = case
    dp, _ = _py_segment_state(evs, k, w)
    assert _dp_level(dp) == _brute_level(evs, k, w)


@given(_event_sets(), st.integers(0, 20), st.integers(0, 20))
@settings(max_examples=500, deadline=None)
def test_prop_composition_equals_direct(case, cut1, cut2):
    """Split the timeline at two random cuts into three segments and
    compose — must equal the single-pass dp, for any cut placement
    (incl. empty segments and cuts at tie timestamps... segments
    partition by ts, so ties never straddle a boundary)."""
    k, evs, w = case
    lo, hi = min(cut1, cut2), max(cut1, cut2)
    segs = [
        [e for e in evs if e[0] < lo],
        [e for e in evs if lo <= e[0] < hi],
        [e for e in evs if e[0] >= hi],
    ]
    state = _py_segment_state(segs[0], k, w)
    for s in segs[1:]:
        state = _py_compose(state, _py_segment_state(s, k, w), k, w)
    direct, _ = _py_segment_state(evs, k, w)
    assert state[0] == direct  # full dp vector, not just the level
    # associativity: right-fold must agree too
    state_r = _py_compose(
        _py_segment_state(segs[0], k, w),
        _py_compose(_py_segment_state(segs[1], k, w), _py_segment_state(segs[2], k, w), k, w),
        k,
        w,
    )
    assert state_r[0] == direct


def test_funnel_conversion_reports_zero_levels(spark):
    """Levels nobody reached must surface as explicit zero rows."""
    rows = [
        ("u1", "view", datetime.datetime(2024, 1, 1, 0, 0, 1)),
        ("u2", "view", datetime.datetime(2024, 1, 1, 0, 0, 2)),
        ("u2", "click", datetime.datetime(2024, 1, 1, 0, 0, 3)),
    ]
    df = spark.createDataFrame(rows, "user_id string, event_type string, event_ts timestamp")
    got = {
        r["level"]: r["users_reached"]
        for r in behavioral.funnel_conversion(df, STEPS, WINDOW_S).collect()
    }
    assert got == {1: 2, 2: 1, 3: 0}


def test_funnel_increment_epoch_replay_is_noop(spark, sf_dir, tmp_path):
    """Composition is NOT idempotent, so the bucket-level last_epoch
    stamps must make a re-delivered epoch a no-op (the crash window
    between partition commits and the sink's global marker)."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark import serving

    eng = entrymod._engagement(spark, sf_dir).persist()
    b1 = eng.where(F.dayofmonth("event_ts") <= 15)
    b2 = eng.where(F.dayofmonth("event_ts") > 15)
    state_dir = str(tmp_path / "fstate")
    serving.merge_funnel_increment(spark, state_dir, b1, STEPS, WINDOW_S, epoch=0)
    serving.merge_funnel_increment(spark, state_dir, b2, STEPS, WINDOW_S, epoch=1)
    want = sorted(map(tuple, serving.get_funnel_levels(spark, state_dir, STEPS).collect()))
    # replay epoch 1 (all its buckets are stamped -> every bucket skips)
    serving.merge_funnel_increment(spark, state_dir, b2, STEPS, WINDOW_S, epoch=1)
    got = sorted(map(tuple, serving.get_funnel_levels(spark, state_dir, STEPS).collect()))
    assert got == want
    # and the maintained state equals the one-shot funnel
    assert want == sorted(
        map(tuple, behavioral.funnel_levels(eng, STEPS, WINDOW_S).collect())
    )
    eng.unpersist()


def test_funnel_increment_rejects_out_of_order_batch(spark, sf_dir, tmp_path):
    """A batch older than the applied watermark must fail loudly —
    composing it as strictly-later would fabricate conversions."""
    import pytest

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark import serving

    eng = entrymod._engagement(spark, sf_dir)
    late = eng.where(F.dayofmonth("event_ts") > 15)
    early = eng.where(F.dayofmonth("event_ts") <= 15)
    state_dir = str(tmp_path / "fstate_ooo")
    serving.merge_funnel_increment(spark, state_dir, late, STEPS, WINDOW_S, epoch=0)
    with pytest.raises(ValueError, match="out-of-order"):
        serving.merge_funnel_increment(spark, state_dir, early, STEPS, WINDOW_S, epoch=1)


def test_segmented_sequence_count_equals_direct(spark, sf_dir):
    """Per-segment transfer functions folded in order must equal the
    single-pass greedy count — occurrences straddling segment
    boundaries hand progress across via the composition."""
    eng = entrymod._engagement(spark, sf_dir)
    direct = {
        r["user_id"]: r["occurrences"]
        for r in behavioral.sequence_count_chain(eng, STEPS).collect()
    }
    for seg in (
        F.date_trunc("day", F.col("event_ts")),
        F.floor(F.unix_micros("event_ts") / (6 * 3600 * 1_000_000)).cast("long"),
    ):
        st = behavioral.sequence_count_segment_states(eng, STEPS, segment=seg)
        merged = behavioral.merge_sequence_count_states(st, STEPS)
        got = {
            r["user_id"]: r["occurrences"]
            for r in behavioral.occurrences_from_states(merged).collect()
        }
        assert got == direct
    assert sum(direct.values()) > 0


def test_segmented_sequence_count_boundary_micro(spark):
    """An occurrence split across the segment boundary must count:
    view on day 1, click+purchase on day 2."""
    rows = [
        ("u1", "view", datetime.datetime(2024, 1, 1, 23, 59, 0)),
        ("u1", "click", datetime.datetime(2024, 1, 2, 0, 1, 0)),
        ("u1", "purchase", datetime.datetime(2024, 1, 2, 0, 2, 0)),
        # second occurrence fully inside day 2
        ("u1", "view", datetime.datetime(2024, 1, 2, 10, 0, 0)),
        ("u1", "click", datetime.datetime(2024, 1, 2, 10, 1, 0)),
        ("u1", "purchase", datetime.datetime(2024, 1, 2, 10, 2, 0)),
    ]
    df = spark.createDataFrame(rows, "user_id string, event_type string, event_ts timestamp")
    st = behavioral.sequence_count_segment_states(
        df, STEPS, segment=F.date_trunc("day", F.col("event_ts"))
    )
    merged = behavioral.merge_sequence_count_states(st, STEPS)
    got = behavioral.occurrences_from_states(merged).collect()
    assert {r["user_id"]: r["occurrences"] for r in got} == {"u1": 2}


# --- sequence_match_pattern: the full ClickHouse mini-language --------------


def _bf_match(events, steps, atoms, edges):
    """Brute-force reference: DFS over strictly-increasing index tuples
    of the (pre-filtered) step-event sequence."""
    k = len(atoms)

    def ok(i, j_prev):
        if i == k:
            return True
        start = 0 if i == 0 else j_prev + 1
        for j in range(start, len(events)):
            if events[j][1] != steps[atoms[i] - 1]:
                continue
            if i > 0:
                e = edges[i - 1]
                if e.get("adjacent") and j != j_prev + 1:
                    continue
                if e.get("op"):
                    gap = events[j][0] - events[j_prev][0]
                    b = e["sec"] * 1_000_000
                    if not {
                        "<": gap < b, "<=": gap <= b, ">": gap > b,
                        ">=": gap >= b, "==": gap == b,
                    }[e["op"]]:
                        continue
            if ok(i + 1, j):
                return True
        return False

    return ok(0, -1)


def _pattern_frame(spark, users):
    """users: {user_id: [(unix_seconds, type), ...]} → engagement frame."""
    rows = [
        (uid, t, datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s))
        for uid, evs in users.items()
        for s, t in evs
    ]
    return spark.createDataFrame(rows, "user_id long, event_type string, event_ts timestamp")


def test_sequence_pattern_micro_cases(spark):
    """Pinned semantics: adjacency sees only condition-matching events,
    time bounds are inclusive/exclusive as written, repeated atoms need
    distinct events."""
    users = {
        1: [(0, "view"), (5, "click")],            # loose + t<=5 ok, t<5 no, adjacency ok
        2: [(0, "view"), (3, "view"), (5, "click")],  # adjacency view->click ok (view ignored? NO: view matches cond1 so it IS visible)
        3: [(0, "view"), (2, "buy"), (5, "click")],   # 'buy' not a condition -> invisible to adjacency
        4: [(0, "view")],                          # (?1)(?1) needs two views
        5: [(0, "view"), (9, "view")],             # (?1)(?t>5)(?1) ok; (?t<5) no
    }
    df = _pattern_frame(spark, users)
    steps = ("view", "click")

    def got(pattern):
        return {
            r["user_id"]: r["matched"]
            for r in behavioral.sequence_match_pattern(df, steps, pattern).collect()
        }

    g = got("(?1)(?t<=5)(?2)")
    assert g[1] is True and g[2] is True and g[3] is True
    g = got("(?1)(?t<5)(?2)")
    assert g[1] is False
    g = got("(?1)(?2)")
    assert g[1] is True          # directly adjacent
    assert g[2] is True          # view,view,click: second view is adjacent to click
    assert g[3] is True          # 'buy' matches no condition -> invisible
    g = got("(?1)(?1)")
    assert g[4] is False and g[5] is True
    g = got("(?1)(?t>5)(?1)")
    assert g[5] is True
    g = got("(?1)(?t>=10)(?1)")
    assert g[5] is False
    # equality bounds: exact 9 s gap matches ==9 only
    g = got("(?1)(?t==9)(?1)")
    assert g[5] is True and g[4] is False
    g = got("(?1)(?t==8)(?1)")
    assert g[5] is False
    g = got("(?1)(?t==5)(?2)")
    assert g[1] is True and g[3] is True and g[2] is True  # 0->5s click


def test_sequence_pattern_matches_bruteforce_randomized(spark):
    """200 random users × 6 patterns vs the DFS reference — exercises
    loose gaps, adjacency, upper/lower time bounds and repeated atoms
    together."""
    import random

    rnd = random.Random(20240814)
    steps = ("view", "click", "purchase")
    users = {}
    for uid in range(200):
        n = rnd.randint(0, 9)
        ts = sorted(rnd.sample(range(0, 120), n))
        users[uid] = [(t, rnd.choice(steps)) for t in ts]
    users = {u: evs for u, evs in users.items() if evs}
    df = _pattern_frame(spark, users)
    patterns = [
        "(?1).*(?2)",
        "(?1)(?2)",
        "(?1)(?t<=15)(?2)",
        "(?1)(?t>10)(?2)(?t<30)(?3)",
        "(?1)(?1)",
        "(?2).*(?1)(?t>=20)(?3)",
        "(?3)(?2)(?1)",
        # equality edges route to the candidate-list DP — the exact
        # case the single-candidate dominance argument cannot cover
        "(?1)(?t==10)(?2)",
        "(?1)(?t==10)(?2)(?t==20)(?3)",
        "(?1)(?t==5)(?1)",
    ]
    for pattern in patterns:
        atoms, edges = behavioral.parse_sequence_pattern(pattern, len(steps))
        got = {
            r["user_id"]: r["matched"]
            for r in behavioral.sequence_match_pattern(df, steps, pattern).collect()
        }
        for uid, evs in users.items():
            filtered = [(s * 1_000_000, t) for s, t in evs if t in steps]
            want = _bf_match(filtered, steps, atoms, edges)
            assert got[uid] == want, (pattern, uid, evs, got[uid], want)


def test_sequence_pattern_parser_rejects_bad_input(spark):
    import pytest

    for bad in ["", "(?t<5)(?1)", "(?1)(?t<5)", "(?4)", "(?1)x(?2)"]:
        with pytest.raises(ValueError):
            behavioral.parse_sequence_pattern(bad, 3)
    # == is valid syntax since r6 (candidate-list evaluator)
    atoms, edges = behavioral.parse_sequence_pattern("(?1)(?t==5)(?2)", 3)
    assert atoms == [1, 2] and edges == [{"op": "==", "sec": 5}]


def test_sequence_pattern_equality_overflow_is_loud(spark):
    """A capped candidate list that overflows while the user stays
    unmatched must raise, never return a silent false negative; a user
    who MATCHES despite overflow stays a sound True."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    # 10 views at even seconds, no click at view+5s -> unmatched, and
    # more prefix candidates than cap=4 holds
    users = {1: [(2 * i, "view") for i in range(10)]}
    df = _pattern_frame(spark, users)
    with pytest.raises(SparkRuntimeException, match="candidate list overflowed"):
        behavioral.sequence_match_pattern(
            df, ("view", "click"), "(?1)(?t==5)(?2)", cap=4
        ).collect()

    # same overflow, but a real match exists (view@0 -> click@5): True
    users2 = {1: [(2 * i, "view") for i in range(10)] + [(5, "click")]}
    got = behavioral.sequence_match_pattern(
        _pattern_frame(spark, users2), ("view", "click"), "(?1)(?t==5)(?2)", cap=4
    ).collect()
    assert got[0]["matched"] is True


# ---------------------------------------------------------------------------
# windowFunnel strict modes — the Spark fold vs an INDEPENDENT
# exhaustive chain-set reference (no dp, no dominance: it materializes
# every valid chain, so a dominance or stop-ordering bug in the fold
# cannot be mirrored here).
# ---------------------------------------------------------------------------

_MODE_SETS = [
    (),
    ("strict_increase",),
    ("strict_dedup",),
    ("strict_order",),
    ("strict_increase", "strict_dedup"),
    ("strict_increase", "strict_order"),
    ("strict_dedup", "strict_order"),
    ("strict_increase", "strict_dedup", "strict_order"),
]


def _strict_ref_level(events, k, w, modes):
    """Pinned strict-mode semantics by exhaustive chain tracking.
    events: (ts, s) with s in 0..k (0 = matches no condition); w in
    the same time unit as ts (None = unbounded)."""
    si = "strict_increase" in modes
    sd = "strict_dedup" in modes
    so = "strict_order" in modes
    if not so:
        events = [e for e in events if e[1] >= 1]
    evs = sorted(events)
    committed: set = {()}
    live: set = {()}
    best = 0
    cur_ts = None
    for ts, s in evs:
        if si and ts != cur_ts:
            committed = set(live)
            cur_ts = ts
        read = committed if si else live
        if sd and s >= 1 and any(len(c) == s for c in live):
            return best
        if so:
            first_seen = any(len(c) == 1 for c in live)
            extendable = s == 1 or (s >= 2 and any(len(c) == s - 1 for c in read))
            if first_seen and not extendable:
                return best
        new = set()
        if s == 1:
            new.add(((ts, 1),))
        elif s >= 2:
            for c in read:
                if len(c) != s - 1:
                    continue
                if w is not None and ts - c[0][0] > w:
                    continue
                if si and ts <= c[-1][0]:
                    continue
                new.add(c + ((ts, s),))
        if new:
            best = max(best, max(len(c) for c in new))
        live |= new
    return best


def test_strict_funnel_modes_match_chain_reference(spark):
    """120 seeded-random users (heavy ties, interleaved non-step
    events) x 8 mode subsets x 2 windows, Spark vs the chain-set
    reference."""
    import random

    rng = random.Random(20260814)
    types = ["view", "click", "purchase", "other1", "other2"]
    step_of = {"view": 1, "click": 2, "purchase": 3}
    cases = {}
    rows = []
    for u in range(120):
        uid = f"u{u:03d}"
        n = rng.randint(0, 10)
        evs = [(rng.randint(0, 12), rng.choice(types)) for _ in range(n)]
        cases[uid] = [(ts, step_of.get(t, 0)) for ts, t in evs]
        rows += [
            (uid, t, datetime.datetime(2024, 1, 1, 0, 0, ts)) for ts, t in evs
        ]
    df = spark.createDataFrame(
        rows, "user_id string, event_type string, event_ts timestamp"
    ).cache()
    try:
        for modes in _MODE_SETS:
            for w in (None, 5):
                got = {
                    r["user_id"]: r["funnel_level"]
                    for r in behavioral.funnel_levels(
                        df, STEPS, window_s=w, modes=modes
                    ).collect()
                }
                for uid, evs in cases.items():
                    want = _strict_ref_level(evs, 3, w, modes)
                    assert got.get(uid, 0) == want, (
                        f"user {uid} modes={modes} w={w}: spark="
                        f"{got.get(uid, 0)} ref={want} events={sorted(evs)}"
                    )
    finally:
        df.unpersist()


def test_strict_funnel_pinned_micro_semantics(spark):
    def ev(user, etype, second):
        return (user, etype, datetime.datetime(2024, 1, 1, 0, 0, second))

    rows = [
        # o1: view,click,OTHER,purchase -> strict_order stops at the
        # non-step event (level 2); base reaches 3
        ev("o1", "view", 0), ev("o1", "click", 1), ev("o1", "other", 2),
        ev("o1", "purchase", 3),
        # o2: leading non-extending events BEFORE the first view never
        # interrupt (first_seen gate) -> level 1
        ev("o2", "click", 1), ev("o2", "purchase", 2), ev("o2", "view", 3),
        # o3: a step-1 restart is invisible to strict_order -> level 3
        ev("o3", "view", 0), ev("o3", "click", 1), ev("o3", "view", 2),
        ev("o3", "purchase", 3),
        # d1: repeated view at an already-reached level stops the
        # search under strict_dedup (level 2); base reaches 3
        ev("d1", "view", 0), ev("d1", "click", 1), ev("d1", "view", 2),
        ev("d1", "purchase", 3),
        # i1: click ties the view timestamp -> cannot chain under
        # strict_increase (level 1); base counts the tie (level 3)
        ev("i1", "view", 5), ev("i1", "click", 5), ev("i1", "purchase", 6),
    ]
    df = spark.createDataFrame(rows, "user_id string, event_type string, event_ts timestamp")

    def levels(modes):
        return {
            r["user_id"]: r["funnel_level"]
            for r in behavioral.funnel_levels(df, STEPS, window_s=10, modes=modes).collect()
        }

    base = levels(())
    assert base["o1"] == 3 and base["d1"] == 3 and base["i1"] == 3
    so = levels(("strict_order",))
    assert so["o1"] == 2 and so["o2"] == 1 and so["o3"] == 3
    sd = levels(("strict_dedup",))
    assert sd["d1"] == 2 and sd["o1"] == 3
    si = levels(("strict_increase",))
    assert si["i1"] == 1 and si["o1"] == 3


def test_strict_funnel_rejects_unknown_mode(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [("u", "view", datetime.datetime(2024, 1, 1))],
        "user_id string, event_type string, event_ts timestamp",
    )
    with _pytest.raises(ValueError, match="unknown funnel modes"):
        behavioral.funnel_levels(df, STEPS, modes=("strict_bogus",)).collect()
