"""Seeded input generator for the benchmark, independent of the program.

Nothing here imports the package under test: the wire shape follows the
reference's Debezium JSON (full ``{"schema", "payload": {before, after,
source, op, ts_ms}}`` envelopes plus bare records at the root), and the
same seed always yields the same bytes.

Each generator returns the wire lines together with the structured
records they encode, so ``expect.py`` can compute the expected results
from the records without parsing the lines back.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np

EVENT_TYPES = ("view", "click", "play", "pause", "signup", "purchase")
EVENT_WEIGHTS = (40, 25, 15, 8, 7, 5)
DEVICES = ("ios", "android", "web", "tv")
CONTENT_TYPES = ("video", "podcast", "newsletter", "article")
RAW_PAYLOADS = (
    '{\\"ref\\":\\"home\\"}',
    '{\\"ref\\":\\"search\\",\\"q\\":\\"cdc\\"}',
    '{\\"ref\\":\\"push\\",\\"campaign\\":7}',
    '{}',
)
# UTC offsets used by the ISO-offset timestamp format (minutes)
OFFSETS_MIN = (0, 120, -300, 330)

TS_OFFSET, TS_MICROS, TS_MILLIS, TS_SECONDS = range(4)
# an at-least-once sink re-delivers what arrived since its last
# checkpoint; the reference checkpoints every 60 s (BASELINE.md)
REDELIVERY_MAX_S = 60


class Change(NamedTuple):
    """One content-dimension change; ``op`` in c/r/u/d."""

    content_id: int
    op: str
    content_type: str | None
    length_seconds: int | None
    ts_ms: int


_FULL = (
    '{"schema":null,"payload":{"before":null,"after":{"id":%d,"user_id":%d,'
    '"content_id":%d,"event_type":"%s","device":"%s","duration_ms":%s,'
    '"event_ts":"%s","raw_payload":"%s"},"source":{"version":"2.5.0.Final",'
    '"connector":"postgresql","name":"engagement","ts_ms":%d,"snapshot":"false",'
    '"db":"engagement_db","schema":"public","table":"engagement_events","txId":%d,'
    '"lsn":%d},"op":"%s","ts_ms":%d}}'
)
_BARE = (
    '{"id":"%d","user_id":"%d","content_id":"%d","event_type":"%s",'
    '"device":"%s","duration_ms":%s,"event_ts":"%s","raw_payload":"%s"}'
)
# every prefix of this string stops before an id value could be read
_MALFORMED_PREFIX = '{"schema":null,"payload":{"before":null,"after":{"id":'
_GARBAGE = ("<binary 0x00ff>", "null payload", "{{{", "]")


@dataclass
class EventFeed:
    """Wire lines plus, column-wise, what each line encodes.

    ``cols`` holds one entry per line, in wire order; ``ok`` is False
    for malformed lines, whose other fields mean nothing.  ``ts_us`` is
    the event time a correct reader recovers from the wire string
    (formats without micros truncate it), ``duration_ms`` is -1 for
    null, ``event_type`` indexes ``EVENT_TYPES``."""

    lines: list[str]
    cols: dict[str, np.ndarray]

    @property
    def n_malformed(self) -> int:
        return int((~self.cols["ok"]).sum())


def _ts_strings(ts_us: np.ndarray, fmt: np.ndarray, off_min: np.ndarray) -> tuple[list[str], np.ndarray]:
    """Wire strings in the four formats and the UTC micros each parses to."""
    sec = ts_us // 1_000_000
    parsed = sec * 1_000_000
    out = np.empty(len(ts_us), dtype=object)
    m = fmt == TS_MICROS
    out[m] = np.datetime_as_string(ts_us[m].astype("datetime64[us]"), unit="us")
    parsed[m] = ts_us[m]
    m = fmt == TS_MILLIS
    ms = ts_us[m] // 1000
    out[m] = np.datetime_as_string(ms.astype("datetime64[ms]"), unit="ms")
    parsed[m] = ms * 1000
    m = fmt == TS_SECONDS
    out[m] = np.datetime_as_string(sec[m].astype("datetime64[s]"), unit="s")
    m = fmt == TS_OFFSET
    local = np.datetime_as_string((sec[m] + off_min[m] * 60).astype("datetime64[s]"), unit="s")
    sfx = {o: f"{'+' if o >= 0 else '-'}{abs(o) // 60:02d}:{abs(o) % 60:02d}" for o in OFFSETS_MIN}
    out[m] = [t + sfx[o] for t, o in zip(local.tolist(), off_min[m].tolist())]
    return out.tolist(), parsed


def engagement_feed(
    seed: int,
    n: int,
    *,
    start_us: int,
    rate_per_s: float,
    n_users: int,
    n_content: int,
    first_id: int = 1,
) -> EventFeed:
    """``n`` original events on a simulated arrival clock (mean rate
    ``rate_per_s``), with event time lagging arrival by 0-300 s of
    jitter.  About 4% of the events are re-delivered 1-60 s later
    (at-least-once) carrying a later version: event time 2-61 s later
    and a new duration.  About 1% of lines are malformed and 10%
    are bare records.  Content ids run 5% past the dimension, so some
    events find no dimension row."""
    rng = np.random.Generator(np.random.PCG64(seed))
    arrival = start_us + np.cumsum(1e6 / rate_per_s * (0.5 + rng.random(n))).astype(np.int64)
    w = np.array(EVENT_WEIGHTS, dtype=float)
    etype = rng.choice(len(EVENT_TYPES), n, p=w / w.sum())
    click = EVENT_TYPES.index("click")
    max_cid = n_content + max(1, n_content // 20)
    cols = {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "user_id": rng.integers(1, n_users + 1, n),
        "content_id": rng.integers(1, max_cid + 1, n),
        "event_type": etype,
        "device": rng.integers(0, len(DEVICES), n),
        "duration_ms": np.where(etype == click, -1, rng.integers(0, 1_800_000, n)),
        "ts_us": arrival - rng.integers(0, 300_000_001, n),
        "arrival_us": arrival,
    }
    again = rng.random(n) < 0.04
    later = rng.integers(1, REDELIVERY_MAX_S + 1, int(again.sum())) * 1_000_000
    redo = {k: v[again] for k, v in cols.items()}
    # a whole-second later version survives every format's truncation,
    # so the newer copy always parses as the later one
    redo["ts_us"] = redo["ts_us"] + later + 1_000_000
    redo["arrival_us"] = redo["arrival_us"] + later
    redo["duration_ms"] = np.where(
        redo["event_type"] == click, -1, rng.integers(0, 1_800_000, len(later))
    )
    order = np.argsort(np.concatenate([cols["arrival_us"], redo["arrival_us"]]), kind="stable")
    cols = {k: np.concatenate([cols[k], redo[k]])[order] for k in cols}
    cols["redelivery"] = np.concatenate([np.zeros(n, bool), np.ones(len(later), bool)])[order]
    total = len(order)
    fmt = rng.integers(0, 4, total)
    off = np.array(OFFSETS_MIN)[rng.integers(0, len(OFFSETS_MIN), total)]
    kind = rng.random(total)
    cut = rng.integers(1, len(_MALFORMED_PREFIX) + 1, total)
    garbage = rng.integers(0, len(_GARBAGE) * 4, total)  # >= len: truncated prefix
    ts_str, cols["ts_us"] = _ts_strings(cols["ts_us"], fmt, off)
    cols["ok"] = kind >= 0.01

    lines = []
    append = lines.append
    ets = [EVENT_TYPES[i] for i in range(len(EVENT_TYPES))]
    devs = DEVICES
    n_raw = len(RAW_PAYLOADS)
    for i, eid, uid, cid, et, dev, dur, ts, arr, rd, k, c, g in zip(
        range(total),
        cols["event_id"].tolist(), cols["user_id"].tolist(), cols["content_id"].tolist(),
        cols["event_type"].tolist(), cols["device"].tolist(), cols["duration_ms"].tolist(),
        ts_str, cols["arrival_us"].tolist(), cols["redelivery"].tolist(),
        kind.tolist(), cut.tolist(), garbage.tolist(),
    ):
        d = "null" if dur < 0 else str(dur)
        if k < 0.01:
            append(_GARBAGE[g] if g < len(_GARBAGE) else _MALFORMED_PREFIX[:c])
        elif k < 0.11:
            append(_BARE % (eid, uid, cid, ets[et], devs[dev], d, ts, RAW_PAYLOADS[eid % n_raw]))
        else:
            src = arr // 1000
            append(
                _FULL % (
                    eid, uid, cid, ets[et], devs[dev], d, ts, RAW_PAYLOADS[eid % n_raw],
                    src, eid, eid * 64, "u" if rd else "c", src,
                )
            )
    return EventFeed(lines, cols)


def _content_line(ch: Change) -> str:
    src = (
        f'"source":{{"version":"2.5.0.Final","connector":"postgresql","name":"engagement",'
        f'"ts_ms":{ch.ts_ms},"db":"engagement_db","schema":"public","table":"content"}}'
    )
    if ch.op == "d":
        return (
            f'{{"schema":null,"payload":{{"before":{{"id":{ch.content_id}}},"after":null,'
            f'{src},"op":"d","ts_ms":{ch.ts_ms}}}}}'
        )
    after = (
        f'{{"id":{ch.content_id},"slug":"content-{ch.content_id}","title":"Content {ch.content_id}",'
        f'"content_type":"{ch.content_type}","length_seconds":{ch.length_seconds},'
        f'"publish_ts":"2024-01-01T00:00:00"}}'
    )
    before = "null" if ch.op in ("c", "r") else f'{{"id":{ch.content_id}}}'
    return (
        f'{{"schema":null,"payload":{{"before":{before},"after":{after},{src},'
        f'"op":"{ch.op}","ts_ms":{ch.ts_ms}}}}}'
    )


def content_snapshot(rng: random.Random, n_content: int, ts_ms: int) -> list[Change]:
    """Initial load: one insert (or snapshot read) per content id."""
    return [
        Change(
            cid,
            "r" if rng.random() < 0.5 else "c",
            rng.choice(CONTENT_TYPES),
            rng.randrange(30, 3600),
            ts_ms + cid,
        )
        for cid in range(1, n_content + 1)
    ]


def content_churn(
    rng: random.Random, n_content: int, n_changes: int, ts_ms: int, deleted: set[int]
) -> list[Change]:
    """Updates, deletes and re-inserts with strictly increasing
    ``ts_ms``; ``deleted`` tracks which ids are currently deleted."""
    out = []
    for j in range(n_changes):
        cid = rng.randrange(1, n_content + 1)
        ts = ts_ms + j + 1
        if cid in deleted:
            deleted.discard(cid)
            out.append(Change(cid, "c", rng.choice(CONTENT_TYPES), rng.randrange(30, 3600), ts))
        elif rng.random() < 0.2:
            deleted.add(cid)
            out.append(Change(cid, "d", None, None, ts))
        else:
            out.append(Change(cid, "u", rng.choice(CONTENT_TYPES), rng.randrange(30, 3600), ts))
    return out


def content_lines(changes: list[Change]) -> list[str]:
    return [_content_line(ch) for ch in changes]
