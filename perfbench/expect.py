"""Expected results, computed from the generator's records alone, and
the checks that compare the program's outputs against them.

Nothing here imports the package under test.  The scoring rule is the
reference's (``EnhancedEngagementStreamingJob`` lines 320-337): a base
score per event type times ``min(2.5, ln(duration_s + 1))`` when the
duration is positive, else 1, rounded half-up to two decimals.  Sums
are kept in integer cents, the exact form of a DECIMAL(18,2) sum.

Every ``check_*`` function returns a list of error strings; empty means
the output passed.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

from gen import CONTENT_TYPES, EVENT_TYPES, Change

BASE_SCORE = {"view": 1.0, "signup": 0.5, "purchase": 3.0, "click": 0.2}
HOUR_US = 3_600_000_000
_NONE = "<no content row>"  # stands for a null content type inside frames


def score_cents(event_type: np.ndarray, duration_ms: np.ndarray) -> np.ndarray:
    """Engagement score in cents for ``EVENT_TYPES`` indexes and
    durations (-1 = null)."""
    base = np.array([BASE_SCORE.get(t, 1.0) for t in EVENT_TYPES])[event_type]
    dur = np.asarray(duration_ms, dtype=np.int64)
    mult = np.where(
        dur > 0, np.minimum(2.5, np.log(np.maximum(dur, 0) / 1000.0 + 1.0)), 1.0
    )
    x = base * mult
    y = x * 100.0
    cents = np.floor(y + 0.5).astype(np.int64)
    # half-up on the shortest decimal form differs from the float rule
    # only right at a half-cent; settle those few exactly
    for i in np.nonzero(np.abs(y - np.floor(y) - 0.5) < 1e-6)[0]:
        d = Decimal(repr(float(x[i]))).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
        cents[i] = int(d * 100)
    return cents


def dim_state(changes: list[Change], state: dict[int, str] | None = None) -> dict[int, str]:
    """content id -> content type after applying ``changes`` in order
    (the generator's ``ts_ms`` only grows, so order is version order)."""
    out = dict(state or {})
    for ch in changes:
        if ch.op == "d":
            out.pop(ch.content_id, None)
        else:
            out[ch.content_id] = ch.content_type
    return out


def delivered(cols: dict[str, np.ndarray], batch: np.ndarray | None = None) -> pd.DataFrame:
    """Well-formed records as a frame, with score cents and (optionally)
    the batch each line was delivered in."""
    ok = cols["ok"]
    df = pd.DataFrame(
        {
            k: cols[k][ok]
            for k in ("event_id", "content_id", "event_type", "duration_ms", "ts_us")
        }
    )
    df["cents"] = score_cents(df["event_type"].to_numpy(), df["duration_ms"].to_numpy())
    if batch is not None:
        df["batch"] = batch[ok]
    return df


def latest_versions(df: pd.DataFrame) -> pd.DataFrame:
    """One row per event id: the delivery with the latest event time
    (last-write-wins, ReplacingMergeTree(event_ts))."""
    return (
        df.sort_values(["event_id", "ts_us"], kind="stable")
        .drop_duplicates("event_id", keep="last")
        .reset_index(drop=True)
    )


def hourly_rollup(df: pd.DataFrame, ctype: pd.Series) -> dict[tuple, tuple[int, int]]:
    """(hour start micros, content type or None, event type) ->
    (count, score cents); ``ctype`` is the content type per row."""
    g = pd.DataFrame(
        {
            "hour": df["ts_us"].to_numpy() // HOUR_US * HOUR_US,
            "ctype": ctype.fillna(_NONE).to_numpy(),
            "etype": np.array(EVENT_TYPES)[df["event_type"].to_numpy()],
            "cents": df["cents"].to_numpy(),
        }
    ).groupby(["hour", "ctype", "etype"], sort=False)["cents"].agg(["count", "sum"])
    return {
        (int(h), None if c == _NONE else c, e): (int(n), int(s))
        for (h, c, e), (n, s) in zip(g.index, g.to_numpy())
    }


# Row fingerprint of a last-write-wins view: a modular hash of (event
# id, event time, duration, score cents, content type) per row, summed
# with its square.  Every product stays below 2**63, so Spark's long
# arithmetic and numpy's agree exactly.
FP_MOD = 2_147_483_647
FP_MUL = (1_000_003, 48_271, 69_621, 16_807)
# content type code in the hash: 1 + index in CONTENT_TYPES, 0 for none
CTYPE_CODE = {c: i + 1 for i, c in enumerate(CONTENT_TYPES)}


def fingerprint(df: pd.DataFrame, ctype: pd.Series) -> tuple[int, int, int]:
    """(rows, sum of row hashes, sum of squared row hashes mod FP_MOD)
    over a frame with event_id, ts_us, duration_ms (-1 = null), cents;
    ``ctype`` is the content type per row (None for no content row)."""
    ids = df["event_id"].to_numpy(np.int64)
    code = np.array([CTYPE_CODE.get(c, 0) for c in ctype.tolist()], dtype=np.int64)
    h = (ids * FP_MUL[0] + df["ts_us"].to_numpy(np.int64) % FP_MOD) % FP_MOD
    h = (h * FP_MUL[1] + df["duration_ms"].to_numpy(np.int64) + 1) % FP_MOD
    h = (h * FP_MUL[2] + df["cents"].to_numpy(np.int64)) % FP_MOD
    h = (h * FP_MUL[3] + code) % FP_MOD
    return len(df), int(h.sum()), int((h * h % FP_MOD).sum())


def check_fingerprint(name: str, got: tuple, want: tuple[int, int, int]) -> list[str]:
    got = tuple(int(x) for x in got)
    if got[0] != want[0]:
        return [f"{name}: {got[0]} rows, want one per event id: {want[0]}"]
    if got != want:
        return [f"{name}: row fingerprint {got[1:]} differs from {want[1:]} (a row lost, duplicated or changed)"]
    return []


def check_rollup(got: list[tuple], want: dict[tuple, tuple[int, int]]) -> list[str]:
    """``got`` rows are (hour micros, content type, event type, count,
    total score as double)."""
    errs = []
    seen = {}
    for h, c, e, n, score in got:
        key = (int(h), c, e)
        if key in seen:
            errs.append(f"rollup: group {key} appears twice")
        seen[key] = (int(n), int(round(score * 100)))
    for key in want.keys() - seen.keys():
        errs.append(f"rollup: group {key} missing")
    for key in seen.keys() - want.keys():
        errs.append(f"rollup: unexpected group {key}")
    for key in want.keys() & seen.keys():
        if want[key] != seen[key]:
            errs.append(f"rollup: group {key} is (count, cents) {seen[key]}, want {want[key]}")
    return errs[:20]


def check_equal(name: str, got, want) -> list[str]:
    return [] if got == want else [f"{name}: got {got}, want {want}"]
