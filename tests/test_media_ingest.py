"""Unified media ingest sink (round-8 verdict item #5): ONE sink that
decodes each micro-batch exactly once (``asset_embed.asset_features``),
gates it through perceptual dedup, merges survivors into the asset
corpus, folds every fingerprint into the phash index AND the
survivors' embeddings into the IVF index, and stamps one epoch.
Streamed composite state ≡ the hand-wired batch pipeline on the same
batches; the one-decode contract is feature-parity- and plan-asserted.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import Window

from real_time_cdc_analytics_pipeline_with_clickhouse_spark.functions.vector import (
    norm,
)
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
    asset_embed,
    ivf_index,
    phash_index,
    similarity,
)
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.plans.explain import (
    plan_string,
)
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
    pipeline as sp,
)

from tests.test_phash_index import _assets, _copies, _fps, _global_greedy_survivors

ASSET_SCHEMA = (
    "asset_id long, modality string, payload binary, mime string, "
    "width long, height long, sample_rate long, n_frames long"
)


def test_asset_features_equals_separate_operators(spark, sf_dir):
    """The combined one-decode operator is column-for-column the
    (already numpy-verified) separate operators."""
    assets = _assets(spark, sf_dir, 0, 60)
    feats = {
        r.asset_id: (r.modality, r.phash, list(r.embedding))
        for r in asset_embed.asset_features(assets).collect()
    }
    fp = {
        r.asset_id: (r.modality, r.phash)
        for r in asset_embed.perceptual_hashes(assets).collect()
    }
    emb = {
        r.vec_id: list(r.embedding)
        for r in asset_embed.embed_assets(assets).collect()
    }
    assert set(feats) == set(fp) == set(emb)
    for a, (mod, ph, vec) in feats.items():
        assert (mod, ph) == fp[a]
        assert vec == emb[a]


def test_decode_once_consumers_read_the_cache(spark, sf_dir):
    """The sink persists the features frame; every downstream consumer
    (dedup gate, index folds) must then scan the CACHE, not re-run the
    decode — the plan shows InMemoryTableScan and no second
    MapInPandas above it."""
    assets = _assets(spark, sf_dir, 0, 40)
    feats = asset_embed.asset_features(assets).persist()
    try:
        feats.count()  # materialize
        gate = phash_index.within_batch_drops(
            feats.select("asset_id", "modality", "phash")
        )
        plan = plan_string(gate, mode="simple")
        # both self-join branches scan the cache …
        assert plan.count("InMemoryTableScan") == 2
        # … and every decode node in the plan text is merely the
        # cached relation's nested dump (strictly deeper-indented than
        # the InMemoryRelation that owns it), never a live operator —
        # i.e. the gate cannot re-run the decode
        last_rel_depth = None
        for ln in plan.splitlines():
            if "InMemoryRelation" in ln:
                last_rel_depth = ln.index("InMemoryRelation")
            if "MapInPandas" in ln:
                # depth = column where the node NAME starts (leading
                # whitespace alone misses the ':'/'+-' branch glyphs)
                assert (
                    last_rel_depth is not None
                    and ln.index("MapInPandas") > last_rel_depth
                ), ln
    finally:
        feats.unpersist()


def test_unified_media_sink_matches_batch_pipeline(spark, sf_dir, tmp_path):
    b1 = _assets(spark, sf_dir, 0, 40)
    b2 = _assets(spark, sf_dir, 40, 70, id_shift=200_000).unionByName(
        _copies(spark, b1, 100_000, n=8)
    )
    b3 = _assets(spark, sf_dir, 70, 100, id_shift=600_000).unionByName(
        _copies(spark, b2, 700_000, n=6)
    )
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    for i, b in enumerate((b1, b2, b3)):
        b.coalesce(1).write.mode("overwrite").parquet(f"{feed}/f{i}.parquet")
    corpus = str(tmp_path / "corpus")
    pidx_dir = str(tmp_path / "pidx")
    ivf_dir = str(tmp_path / "ivf")
    stream = (
        spark.readStream.schema(ASSET_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed + "/*.parquet")
    )
    q = sp.start_media_ingest_sink(
        stream, corpus, pidx_dir, ivf_dir, str(tmp_path / "ck"),
        compact_every=2, n_centroids=4, seed=7,
    )
    q.processAllAvailable()
    q.stop()

    every = b1.unionByName(b2).unionByName(b3)

    # 1) corpus = the global greedy survivor set (the asset sink's
    # established equivalence oracle)
    got_corpus = {r.asset_id for r in spark.read.parquet(corpus).collect()}
    want_corpus = _global_greedy_survivors(_fps(every))
    assert got_corpus == want_corpus

    # 2) phash index: every streamed asset's fingerprint is precedent
    live_fp = {
        (r.asset_id, r.modality, r.phash)
        for r in phash_index._live_fingerprints(spark, pidx_dir)
        .select("asset_id", "modality", "phash")
        .collect()
    }
    want_fp = {
        (r.asset_id, r.modality, r.phash)
        for r in asset_embed.perceptual_hashes(every).collect()
    }
    assert live_fp == want_fp

    # 3) IVF index: live vectors = SURVIVORS' nonzero embeddings, and
    # top-k answers equal the frozen-centroid assignment oracle
    surv = every.join(
        spark.createDataFrame(
            [(i,) for i in sorted(got_corpus)], "asset_id long"
        ),
        "asset_id",
        "left_semi",
    )
    want_vecs = (
        asset_embed.embed_assets(surv)
        .where(
            F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + F.abs(x)) > 0
        )
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    live_ids = {
        r.vec_id
        for r in ivf_index._live_assignments(spark, ivf_dir).select("vec_id").collect()
    }
    assert live_ids == {r.vec_id for r in want_vecs.select("vec_id").collect()}

    queries = spark.createDataFrame(
        [
            (r.vec_id, r.embedding)
            for r in want_vecs.collect()
            if r.vec_id % 7 == 0
        ],
        "query_id long, query_vec array<double>",
    )
    got = sorted(
        (r.query_id, r.rnk, r.neighbor_id)
        for r in ivf_index.ivf_index_topk(
            spark, queries, ivf_dir, k=3, n_probe=2
        ).collect()
    )
    centroids = spark.read.parquet(
        f"{ivf_index._data_root(ivf_dir)}/centroids"
    )
    assigned = ivf_index._assign(want_vecs, centroids)
    w = Window.partitionBy("query_id").orderBy(F.col("_d2").asc(), F.col("centroid_id"))
    probes = F.broadcast(
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("_d2", ivf_index._d2("query_vec"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 2)
        .select(
            "query_id", "query_vec", "centroid_id",
            norm(F.col("query_vec")).alias("qnrm"),
        )
    )
    want = sorted(
        (r.query_id, r.rnk, r.neighbor_id)
        for r in similarity._rank_topk(assigned.join(probes, "centroid_id"), k=3)
        .collect()
    )
    assert got == want and got

    # 4) one epoch marker per batch; a replayed epoch is a no-op
    assert sp._epoch_already_applied(corpus + "_meta", 2, str(tmp_path / "ck"))
    assert not sp._epoch_already_applied(corpus + "_meta", 3, str(tmp_path / "ck"))
    # planted cross-batch copies died everywhere
    copies = {r.asset_id for r in _copies(spark, b1, 100_000, n=8).collect()}
    assert not (copies & got_corpus) and not (copies & live_ids)


def test_media_sink_refit_hook_swaps_versions_consistently(
    spark, sf_dir, tmp_path
):
    """The unified sink's refit_threshold plumbing: with a floor-level
    threshold every post-bootstrap fold crosses, so the asset IVF leg
    refits — the composite must stay consistent through the atomic
    pointer swap (live vectors unchanged, top-k ≡ the frozen-assign
    oracle against the CURRENT version's centroids).  The real drift
    dynamics (metric crossing under engineered drift, recall
    restoration) are covered by tests/test_ivf_refit.py — this test
    pins the hook, the swap and the post-swap answers."""
    b1 = _assets(spark, sf_dir, 0, 40)
    b2 = _assets(spark, sf_dir, 40, 70, id_shift=200_000)
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    for i, b in enumerate((b1, b2)):
        b.coalesce(1).write.mode("overwrite").parquet(f"{feed}/f{i}.parquet")
    corpus = str(tmp_path / "corpus")
    pidx_dir, ivf_dir = str(tmp_path / "pidx"), str(tmp_path / "ivf")
    stream = (
        spark.readStream.schema(ASSET_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed + "/*.parquet")
    )
    q = sp.start_media_ingest_sink(
        stream, corpus, pidx_dir, ivf_dir, str(tmp_path / "ck"),
        compact_every=None, n_centroids=4, seed=7, refit_threshold=0.01,
    )
    q.processAllAvailable()
    q.stop()

    meta = ivf_index.read_manifest(ivf_dir)
    assert meta.get("refit_count", 0) >= 1 and meta.get("data_version", 0) >= 1
    assert meta["drift_ratio"] is None  # the refit reset the baseline

    # post-swap consistency: live vectors = all survivors' nonzero
    # embeddings, and top-k ≡ the frozen-assign oracle on the CURRENT
    # version's centroids
    surv = spark.read.parquet(corpus)
    want_vecs = (
        asset_embed.embed_assets(surv.select(
            "asset_id", "modality", "payload", "mime",
            "width", "height", "sample_rate", "n_frames",
        ))
        .where(
            F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + F.abs(x)) > 0
        )
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    live_ids = {
        r.vec_id
        for r in ivf_index._live_assignments(spark, ivf_dir).select("vec_id").collect()
    }
    assert live_ids == {r.vec_id for r in want_vecs.select("vec_id").collect()}
    queries = spark.createDataFrame(
        [(r.vec_id, r.embedding) for r in want_vecs.collect() if r.vec_id % 9 == 0],
        "query_id long, query_vec array<double>",
    )
    got = sorted(
        (r.query_id, r.rnk, r.neighbor_id)
        for r in ivf_index.ivf_index_topk(
            spark, queries, ivf_dir, k=3, n_probe=2
        ).collect()
    )
    centroids = spark.read.parquet(f"{ivf_index._data_root(ivf_dir)}/centroids")
    assigned = ivf_index._assign(want_vecs, centroids)
    w = Window.partitionBy("query_id").orderBy(F.col("_d2").asc(), F.col("centroid_id"))
    probes = F.broadcast(
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("_d2", ivf_index._d2("query_vec"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 2)
        .select(
            "query_id", "query_vec", "centroid_id",
            norm(F.col("query_vec")).alias("qnrm"),
        )
    )
    want = sorted(
        (r.query_id, r.rnk, r.neighbor_id)
        for r in similarity._rank_topk(assigned.join(probes, "centroid_id"), k=3)
        .collect()
    )
    assert got == want and got
