"""Self-tests of the benchmark: seeded inputs, the independent expected
values, and that every output check rejects a corrupted output.

    python3 -m pytest perfbench -q

Spark is not needed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import expect  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _feed(seed: int, n: int = 3000) -> gen.EventFeed:
    return gen.engagement_feed(
        seed, n, start_us=workloads.CLOCK_START_US, rate_per_s=5.0, n_users=100, n_content=20
    )


# --- inputs ------------------------------------------------------------------


def test_same_seed_same_bytes_other_seed_other_bytes():
    a, b, c = _feed(7), _feed(7), _feed(8)
    assert a.lines == b.lines
    assert a.lines != c.lines
    s1, s2, s3 = (_stream(s) for s in (7, 7, 8))
    assert s1["events"] == s2["events"] and s1["content"] == s2["content"]
    assert s1["events"] != s3["events"]


def _stream(seed: int) -> dict:
    base = _stream.base
    return workloads.stream_inputs(seed, base, batches=3, batch_events=10_000)


@pytest.fixture(autouse=True, scope="module")
def _small_history(tmp_path_factory):
    _stream.base = workloads.stream_base(str(tmp_path_factory.mktemp("base")), events=40_000)


def test_stream_window_delivers_the_history_s_redeliveries():
    base, inp = _stream.base, _stream(7)
    n_hist = int(base["hist"].sum())
    assert (inp["batch"][:n_hist] == 0).all()
    window = {k: v[n_hist:] for k, v in inp["cols"].items()}
    assert len(window["event_id"]) == sum(len(e) for e in inp["events"])
    assert sorted(set(inp["batch"][n_hist:].tolist())) == [0, 1, 2]
    assert (np.diff(window["arrival_us"]) >= 0).all()
    # re-deliveries of history rows arrive in the window, as updates of
    # rows the base table already holds
    old = window["redelivery"] & (window["event_id"] <= base["events"])
    assert old.any()
    assert set(window["event_id"][old].tolist()) <= set(base["cols"]["event_id"][base["hist"]].tolist())


def test_wire_lines_encode_the_records():
    f = _feed(3, 5000)
    cols = f.cols
    kinds = {"full": 0, "bare": 0}
    formats = set()
    for i, line in enumerate(f.lines):
        if not cols["ok"][i]:
            with pytest.raises(json.JSONDecodeError):
                json.loads(line)
            continue
        doc = json.loads(line)
        rec = doc["payload"]["after"] if "payload" in doc else doc
        kinds["full" if "payload" in doc else "bare"] += 1
        assert int(rec["id"]) == cols["event_id"][i]
        want_dur = None if cols["duration_ms"][i] < 0 else cols["duration_ms"][i]
        assert rec["duration_ms"] == want_dur
        ts = dt.datetime.fromisoformat(rec["event_ts"])
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=dt.timezone.utc)
        formats.add(len(rec["event_ts"]))
        assert (ts - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)) // dt.timedelta(
            microseconds=1
        ) == cols["ts_us"][i]
    assert formats == {19, 23, 25, 26}
    assert kinds["bare"] > 0 and kinds["full"] > kinds["bare"]
    assert 0 < f.n_malformed < 0.03 * len(f.lines)
    # re-deliveries carry a strictly later version of an earlier id
    ok = cols["ok"] & cols["redelivery"]
    assert ok.sum() > 0
    first = {}
    for eid, ts, rd in zip(cols["event_id"], cols["ts_us"], cols["redelivery"]):
        if not rd:
            first[eid] = ts
    for eid, ts in zip(cols["event_id"][ok], cols["ts_us"][ok]):
        assert eid not in first or ts > first[eid]


def test_event_time_lags_arrival_by_at_most_300s():
    c = _feed(5).cols
    orig = ~c["redelivery"]
    lag = c["arrival_us"][orig] - c["ts_us"][orig]
    # formats without sub-second digits truncate up to one more second
    assert lag.min() >= 0 and lag.max() < 301_000_000


def test_content_churn_covers_insert_update_delete():
    rng = random.Random(1)
    snap = gen.content_snapshot(rng, 50, 1000)
    churn = gen.content_churn(rng, 50, 200, 10_000, set())
    ops = {c.op for c in snap + churn}
    assert ops == {"c", "r", "u", "d"}
    ts = [c.ts_ms for c in snap + churn]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)


# --- expected values, worked by hand -----------------------------------------


def _et(name: str) -> int:
    return gen.EVENT_TYPES.index(name)


def test_score_matches_hand_worked_values():
    types = np.array([_et("view"), _et("click"), _et("signup"), _et("purchase"), _et("play")])
    durations = np.array([30_000, -1, 1_000, 0, 500])
    # view: min(2.5, ln 31) = 2.5; click: null duration -> 0.2 x 1;
    # signup: 0.5 x ln 2 = 0.3466 -> 0.35; purchase: 0 ms -> 3.0 x 1;
    # play: ln 1.5 = 0.4055 -> 0.41
    assert expect.score_cents(types, durations).tolist() == [250, 20, 35, 300, 41]


def test_rollup_latest_and_dimension_by_hand():
    h = expect.HOUR_US
    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 2, 3],
            "content_id": [5, 5, 5, 9],
            "event_type": [_et("view"), _et("click"), _et("click"), _et("view")],
            "duration_ms": [30_000, -1, -1, 30_000],
            "ts_us": [10, h + 5, h + 7, h + 1],
        }
    )
    rows["cents"] = expect.score_cents(rows["event_type"].to_numpy(), rows["duration_ms"].to_numpy())
    changes = [
        gen.Change(5, "c", "video", 60, 1),
        gen.Change(9, "c", "podcast", 60, 2),
        gen.Change(9, "d", None, None, 3),
    ]
    dim = expect.dim_state(changes)
    assert dim == {5: "video"}
    got = expect.hourly_rollup(rows, rows["content_id"].map(dim))
    assert got == {
        (0, "video", "view"): (1, 250),
        (h, "video", "click"): (2, 40),
        (h, None, "view"): (1, 250),
    }
    latest = expect.latest_versions(rows)
    assert latest["event_id"].tolist() == [1, 2, 3]
    assert latest["ts_us"].tolist() == [10, h + 7, h + 1]


def test_fingerprint_matches_plain_integer_arithmetic():
    df = pd.DataFrame({"event_id": [1, 7], "ts_us": [10**15 + 3, 5], "duration_ms": [-1, 9], "cents": [20, 300]})
    ctype = pd.Series(["podcast", None], dtype=object)
    m, (a, b, c, d) = expect.FP_MOD, expect.FP_MUL
    hs = []
    for (eid, ts, dur, cents), code in zip(df.itertuples(index=False), (2, 0)):
        x = (eid * a + ts % m) % m
        x = (x * b + dur + 1) % m
        x = (x * c + cents) % m
        hs.append((x * d + code) % m)
    assert expect.fingerprint(df, ctype) == (2, sum(hs), sum(x * x % m for x in hs))


def test_stream_expectation_uses_the_dimension_of_the_winning_batch():
    cols = {
        "event_id": np.array([1, 1, 2]),
        "content_id": np.array([5, 5, 5]),
        "event_type": np.array([_et("view")] * 3),
        "duration_ms": np.array([1_000, 2_000, 1_000]),
        "ts_us": np.array([10, 20, 30]),
        "ok": np.array([True, True, True]),
    }
    inp = {
        "cols": cols,
        "batch": np.array([0, 1, 0]),
        "changes": [[gen.Change(5, "c", "video", 60, 1)], [gen.Change(5, "u", "podcast", 60, 2)]],
        "events": [["a", "b"], ["c"]],
    }
    want = workloads.stream_expected(inp)
    latest = expect.delivered({k: v[[1, 2]] for k, v in cols.items()})
    assert latest["duration_ms"].tolist() == [2_000, 1_000]
    ctype = pd.Series(["podcast", "video"], dtype=object)
    assert want["latest_fp"] == expect.fingerprint(latest, ctype)
    assert want["rollup"] == {(0, "podcast", "view"): (1, 110), (0, "video", "view"): (1, 69)}


# --- every check rejects a corrupted output ----------------------------------


def _good():
    f = _feed(11, 2000)
    rows = expect.delivered(f.cols)
    latest = expect.latest_versions(rows)
    ctype = pd.Series(np.where(latest["content_id"] % 3 == 0, None, "video"), dtype=object)
    return rows, latest, ctype


def _rollup_rows(want: dict) -> list[tuple]:
    return [(h, c, e, n, cents / 100) for (h, c, e), (n, cents) in want.items()]


def test_rollup_check_rejects_corruption():
    rows, latest, ctype = _good()
    want = expect.hourly_rollup(latest, ctype)
    good = _rollup_rows(want)
    assert expect.check_rollup(good, want) == []
    dropped = good[1:]
    rescored = [good[0][:4] + (good[0][4] + 0.01,)] + good[1:]
    duplicated = good + [good[0]]
    recounted = [good[0][:3] + (good[0][3] + 1, good[0][4])] + good[1:]
    for bad in (dropped, rescored, duplicated, recounted):
        assert expect.check_rollup(bad, want)


def test_fingerprint_check_rejects_corruption():
    _, latest, ctype = _good()
    want = expect.fingerprint(latest, ctype)
    assert expect.check_fingerprint("v", want, want) == []
    dropped = latest.iloc[1:]
    rescored = latest.copy()
    rescored.loc[0, "cents"] += 1
    duplicated = pd.concat([latest, latest.iloc[:1]])
    swapped = pd.concat([latest.iloc[1:], latest.iloc[:1].assign(event_id=10**9)])
    older = latest.copy()
    older.loc[0, "ts_us"] -= 1_000_000
    for bad in (dropped, rescored, duplicated, swapped, older):
        bad_ctype = ctype.reindex(bad.index)
        assert expect.check_fingerprint("v", expect.fingerprint(bad, bad_ctype), want)
    retyped = ctype.copy()
    retyped[0] = "podcast" if retyped[0] != "podcast" else "video"
    assert expect.check_fingerprint("v", expect.fingerprint(latest, retyped), want)


def test_count_check_rejects_a_wrong_count():
    assert expect.check_equal("rows_dropped", 3, 3) == []
    assert expect.check_equal("rows_dropped", 2, 3)


# --- the benchmark's declaration ----------------------------------------------


def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
