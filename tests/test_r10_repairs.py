"""Round-10 ADVICE repairs.

1. The staged group-dir commit's DELETED-live-dir crash window: the
   commit overwrites the live dir (delete-then-write), so a crash in
   that window can leave NO live dir — both callers must re-commit a
   completed this-epoch staging copy regardless of the live dir's
   state, and the removal pass must discover groups whose live dir
   vanished from the staging dirs themselves.
2. Adoption markers are kind-scoped: a composite sink guards several
   indexes under one meta dir, and adopting one must not waive the
   adoption check for another.
3. `train_ngram_lm` rebuilds are staged: a crash mid-rebuild leaves
   the committed model fully readable, and `last_epoch` carries across
   the rebuild so a replayed streaming epoch stays a no-op.
4. KMeans fit-sampling guards on fitted GEOMETRY, not sample row
   count: a sample with >= k rows but < k distinct vectors falls back
   to the full-corpus fit.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
    lm_filter,
    similarity,
)
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
    pipeline as sp,
)

from tests.test_lm_filter import _structured_corpus


def test_merge_into_group_dir_recovers_deleted_live_dir(spark, tmp_path):
    """Round-9 ADVICE (medium): staging committed, live-dir overwrite
    crashed AFTER the delete — the replay sees no batch_group dir, and
    the old fresh-write else-branch would write only the new batch,
    silently losing every prior group row."""
    import shutil

    corpus = str(tmp_path / "corpus")
    meta = str(tmp_path / "meta")
    os.makedirs(meta, exist_ok=True)
    gdir = f"{corpus}/batch_group=0"
    prior = spark.range(0, 100).select(
        F.col("id").alias("doc_id"), F.lit("old").alias("text")
    )
    prior.write.mode("overwrite").parquet(gdir)
    batch = spark.range(100, 110).select(
        F.col("id").alias("doc_id"), F.lit("new").alias("text")
    )

    # epoch 7's merge: staging (prior ∪ batch) fully committed, then
    # the live-dir overwrite crashed after its delete step
    staging = os.path.join(meta, "_group0_staging_e7")
    spark.read.parquet(gdir).unionByName(batch).dropDuplicates(
        ["doc_id"]
    ).write.mode("overwrite").parquet(staging)
    assert os.path.isfile(os.path.join(staging, "_SUCCESS"))
    shutil.rmtree(gdir)

    sp._merge_into_group_dir(spark, corpus, meta, batch, 0, "doc_id", 7)
    got = spark.read.parquet(gdir)
    assert got.count() == 110  # prior rows recovered, not just the batch
    assert got.where(F.col("doc_id") < 100).count() == 100
    assert not os.path.isdir(staging)


def test_remove_ids_recovers_deleted_live_dir(spark, tmp_path):
    """The removal pass derives its group list from existing dirs
    UNION this-epoch completed staging dirs: a group whose live dir
    vanished mid-commit is still re-committed, and intact groups are
    rewritten normally."""
    import shutil

    corpus = str(tmp_path / "corpus")
    meta = str(tmp_path / "meta")
    os.makedirs(meta, exist_ok=True)
    g0, g1 = f"{corpus}/batch_group=0", f"{corpus}/batch_group=1"
    spark.range(0, 100).select(F.col("id").alias("doc_id")).write.parquet(g0)
    spark.range(100, 200).select(F.col("id").alias("doc_id")).write.parquet(g1)

    ids = spark.createDataFrame([(5,), (150,)], "doc_id long")
    # epoch 7's group-0 rewrite staged and committed, then the live
    # dir's overwrite crashed after the delete
    staging0 = os.path.join(meta, "_cdc_batch_group=0_staging_e7")
    spark.read.parquet(g0).join(ids, "doc_id", "left_anti").write.parquet(staging0)
    shutil.rmtree(g0)

    sp._remove_ids_from_group_dirs(spark, corpus, meta, ids, "doc_id", 7)
    got0 = {r.doc_id for r in spark.read.parquet(g0).collect()}
    got1 = {r.doc_id for r in spark.read.parquet(g1).collect()}
    assert got0 == set(range(100)) - {5}
    assert got1 == set(range(100, 200)) - {150}
    assert not os.path.isdir(staging0)


def test_adoption_marker_scoped_to_its_kind(tmp_path):
    """Adopting one index kind records only that kind: the composite
    sink's other indexes under the same meta dir keep their check."""
    meta = str(tmp_path / "meta")
    os.makedirs(meta)
    sp._guard_index_adoption(meta, [-1], "MinHash")  # adopts (all negative)
    sp._guard_index_adoption(meta, [-1, 0, 1], "MinHash")  # now marked — no raise
    for kind in ("text", "IVF", "passage IVF"):
        with pytest.raises(RuntimeError, match="refusing to stream-fold"):
            sp._guard_index_adoption(meta, [-1, 0, 1], kind)
    sp._guard_index_adoption(meta, [-1], "text")  # adopts (all negative)
    sp._guard_index_adoption(meta, [-1, 0, 1], "text")  # now marked — no raise


def test_lm_rebuild_staged_and_carries_epoch(spark, tmp_path, monkeypatch):
    """Round-9 ADVICE: the rebuild must not delete the live version's
    tables before the new manifest commits — a crash mid-rebuild
    leaves the old model fully readable — and last_epoch carries
    across the flip so a replayed streaming epoch stays a no-op."""
    a = spark.createDataFrame(_structured_corpus(40, seed=1, doc_base=0),
                              "doc_id long, text string")
    b = spark.createDataFrame(_structured_corpus(30, seed=2, doc_base=5000),
                              "doc_id long, text string")
    probe = spark.createDataFrame(_structured_corpus(8, seed=9, doc_base=9000),
                                  "doc_id long, text string")
    lm = str(tmp_path / "lm")
    lm_filter.train_ngram_lm(a, lm, alpha=0.2)
    lm_filter.update_ngram_lm(spark, lm, b, epoch=4)
    before = {(r.doc_id, round(r.ppl, 9))
              for r in lm_filter.perplexity_score(spark, probe, lm).collect()}

    # crash injection: the rebuild dies at the manifest flip — the
    # committed model must still read and score identically
    def boom(*_a, **_k):
        raise RuntimeError("injected crash before the manifest flip")

    monkeypatch.setattr(lm_filter, "_flip_manifest", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        lm_filter.train_ngram_lm(a.unionByName(b), lm, alpha=0.2)
    monkeypatch.undo()
    assert lm_filter.read_lm_manifest(lm)["version"] == 1  # still the old commit
    after_crash = {(r.doc_id, round(r.ppl, 9))
                   for r in lm_filter.perplexity_score(spark, probe, lm).collect()}
    assert after_crash == before

    # the completed rebuild: version bumps, scores equal a fresh train
    # on the same corpus, last_epoch carried so the replay is a no-op
    lm_filter.train_ngram_lm(a.unionByName(b), lm, alpha=0.2)
    meta = lm_filter.read_lm_manifest(lm)
    assert meta["version"] == 2
    assert meta["last_epoch"] == 4
    fresh = str(tmp_path / "fresh")
    lm_filter.train_ngram_lm(a.unionByName(b), fresh, alpha=0.2)
    got = {(r.doc_id, round(r.ppl, 9))
           for r in lm_filter.perplexity_score(spark, probe, lm).collect()}
    want = {(r.doc_id, round(r.ppl, 9))
            for r in lm_filter.perplexity_score(spark, probe, fresh).collect()}
    assert got == want
    n_before = meta["n_bigrams"]
    lm_filter.update_ngram_lm(spark, lm, b, epoch=4)  # replayed epoch
    assert lm_filter.read_lm_manifest(lm)["n_bigrams"] == n_before  # no double fold
    # previous version retained for in-flight readers, older retired
    assert os.path.isdir(f"{lm}/bigrams_v1") and os.path.isdir(f"{lm}/bigrams_v2")
    assert not os.path.isdir(f"{lm}/bigrams")


def _dup_heavy_embeddings(spark, k: int):
    """k distinct 4-dim vectors, one of them a singleton, the rest
    heavily repeated — a thin sample easily has >= k ROWS but misses
    the singleton (< k distinct points)."""
    rows = []
    vid = 0
    for i in range(k - 1):
        for _ in range(60):
            rows.append((vid, [float(i), float(i * 2), 1.0, 0.0]))
            vid += 1
    rows.append((vid, [99.0, 7.0, 3.0, 5.0]))  # the singleton
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_fit_sample_distinct_guard(spark):
    """Round-9 ADVICE: a sample with >= k rows but < k distinct
    vectors must not break the manifest's n_centroids geometry — the
    fit validates its center count and falls back to the full corpus."""
    k = 4
    emb = _dup_heavy_embeddings(spark, k)
    # find a seed whose Bernoulli sample passes the row-count precheck
    # but collapses below k distinct points (deterministic probe of the
    # exact sample kmeans_centroids will draw)
    seed = None
    for s in range(200):
        samp = emb.select("vec_id", "embedding").sample(fraction=0.25, seed=s)
        n = samp.count()
        nd = samp.select("embedding").distinct().count()
        if n >= k and nd < k:
            seed = s
            break
    assert seed is not None, "no collapsing sample seed found in 200 tries"
    model, cdf = similarity.kmeans_centroids(
        emb, n_centroids=k, seed=seed, fit_fraction=0.25
    )
    assert len(model.clusterCenters()) == k
    assert cdf.count() == k


def test_pq_fit_sample_distinct_guard(spark):
    """Same guard per PQ subspace: the sample's SLICE can collapse
    even when full rows look diverse — each sub-fit validates its own
    center count."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
        ivf_index,
    )

    ks = 4
    rows = []
    vid = 0
    # first half (subspace 0) has exactly ks distinct values with one
    # singleton; second half is fully diverse so the row-count precheck
    # and sub 1's fit are never the limiting factor
    for i in range(ks - 1):
        for j in range(40):
            rows.append((vid, [float(i), float(i), float(vid), float(vid + 1)]))
            vid += 1
    rows.append((vid, [50.0, 50.0, float(vid), float(vid + 1)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    seed = None
    for s in range(200):
        samp = emb.sample(fraction=0.25, seed=s)
        n = samp.count()
        nd = samp.select(F.slice("embedding", 1, 2).alias("h")).distinct().count()
        if n >= ks and nd < ks:
            seed = s
            break
    assert seed is not None, "no collapsing sample seed found in 200 tries"
    cb = ivf_index.fit_pq_codebooks(
        emb, m=2, ks=ks, seed=seed, dim=4, fit_fraction=0.25
    )
    per_sub = {r.sub_id: r.n for r in cb.groupBy("sub_id").agg(
        F.count("*").alias("n")).collect()}
    assert per_sub == {0: ks, 1: ks}
