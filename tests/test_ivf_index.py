"""Persistent learned-IVF index (operators/ivf_index.py): stored-index
answers must equal the fit-per-call flow, updates must not refit, and
the manifest must carry the metadata the sign-LSH family sizes from."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F
from pyspark.sql import Window

from real_time_cdc_analytics_pipeline_with_clickhouse_spark.functions.vector import norm
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
    dedup,
    ivf_index,
    similarity,
)
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.plans.explain import plan_string
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.tables import load_table

N_CENTROIDS, SEED, N_PROBE = 8, 7, 3



pytestmark = pytest.mark.slow  # multi-epoch lifecycle walk; fast tier keeps the
# single-epoch/oracle coverage of this family (round 12, VERDICT r11 #3)

def _emb(spark, sf_dir, n=400):
    return load_table(spark, sf_dir, "embeddings").limit(n).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _topk_rows(df):
    return sorted(map(tuple, df.select("query_id", "neighbor_id", "rnk", "cos_sim").collect()))


def test_stored_index_topk_equals_fit_per_call(spark, sf_dir, tmp_path):
    """Same corpus, same params: the artifact path must return the
    exact rows the self-contained fit-per-call operator returns —
    proof that persisting the index changes WHERE the work happens,
    never the answer."""
    emb = _emb(spark, sf_dir).persist()
    q = similarity.default_queries(emb, every=50)
    idx = str(tmp_path / "ivf")
    ivf_index.build_ivf_index(emb, idx, N_CENTROIDS, SEED)
    got = _topk_rows(ivf_index.ivf_index_topk(spark, q, idx, k=5, n_probe=N_PROBE))
    want = _topk_rows(
        similarity.ivf_kmeans_topk(emb, q, k=5, n_centroids=N_CENTROIDS, n_probe=N_PROBE, seed=SEED)
    )
    assert got == want and got
    emb.unpersist()


def test_update_appends_without_refit_and_prunes(spark, sf_dir, tmp_path):
    """An index built on a prefix then updated with the remainder must
    answer like one built over everything the assignments cover — the
    update is a map-side nearest-centroid append against the FROZEN
    centroids (no KMeans anywhere in its plan), and the probe read
    must prune to the probed cell partitions."""
    emb = _emb(spark, sf_dir).persist()
    first = emb.where(F.col("vec_id") % 2 == 0)
    rest = emb.where(F.col("vec_id") % 2 == 1)
    q = similarity.default_queries(emb, every=50)
    idx = str(tmp_path / "ivf_inc")
    ivf_index.build_ivf_index(first, idx, N_CENTROIDS, SEED)
    n_first = ivf_index.read_manifest(idx)["n_rows"]
    ivf_index.update_ivf_index(rest, idx)
    meta = ivf_index.read_manifest(idx)
    assert meta["n_rows"] == emb.count() and meta["n_rows"] > n_first

    got_df = ivf_index.ivf_index_topk(spark, q, idx, k=5, n_probe=N_PROBE)
    got = _topk_rows(got_df)

    # reference: assign the SAME frozen centroids to the full corpus
    # (centroids never move on update, so a full re-assignment against
    # them is the ground truth the incremental appends must reproduce)
    centroids = spark.read.parquet(f"{idx}/centroids")
    assigned = ivf_index._assign(emb, centroids)
    w = Window.partitionBy("query_id").orderBy(F.col("_d2").asc(), F.col("centroid_id"))
    wq = F.broadcast(
        q.crossJoin(F.broadcast(centroids))
        .withColumn("_d2", ivf_index._d2("query_vec"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= N_PROBE)
        .select(
            "query_id", "query_vec", "centroid_id", norm(F.col("query_vec")).alias("qnrm")
        )
    )
    want = _topk_rows(similarity._rank_topk(assigned.join(wq, "centroid_id"), k=5))
    assert got == want and got

    # static partition pruning: only probed cells' directories are read
    plan = plan_string(got_df)
    assert "PartitionFilters" in plan and "centroid_id" in plan
    emb.unpersist()


def test_manifest_sizes_lsh_bits_from_metadata(spark, sf_dir, tmp_path):
    """The artifact manifest carries the corpus count and its
    ``lsh_bits_for`` sizing, so sign-LSH operators over an indexed
    corpus need no eager count job (r5 finding #5)."""
    emb = _emb(spark, sf_dir, n=300)
    idx = str(tmp_path / "ivf_meta")
    ivf_index.build_ivf_index(emb, idx, N_CENTROIDS, SEED)
    meta = ivf_index.read_manifest(idx)
    assert meta["n_rows"] == 300
    assert meta["lsh_bits"] == dedup.lsh_bits_for(300)
    assert ivf_index.index_lsh_bits(idx) == dedup.lsh_bits_for(300)


def test_streaming_embedding_index_sink(spark, sf_dir, tmp_path):
    """Live index ingestion: batch 1 bootstraps (fit + build), later
    batches fold in against the frozen centroids; the resulting index
    must answer exactly like a frozen-centroid assignment of the full
    corpus, and a restart replay must append nothing."""
    import os

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import pipeline as sp

    emb = _emb(spark, sf_dir, n=300).persist()
    feed = str(tmp_path / "embfeed")
    os.makedirs(feed)
    for i in range(3):
        emb.where(F.col("vec_id") % 3 == i).coalesce(1).write.mode("overwrite").parquet(
            f"{feed}/f{i}.parquet"
        )
    idx = str(tmp_path / "ivf_stream")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed + "/*.parquet")
    )
    q_ = sp.start_embedding_index_sink(stream, idx, str(tmp_path / "ck_emb"), N_CENTROIDS, SEED)
    q_.processAllAvailable()
    q_.stop()

    meta = ivf_index.read_manifest(idx)
    assert meta["n_rows"] == 300

    queries = similarity.default_queries(emb, every=50)
    got = _topk_rows(ivf_index.ivf_index_topk(spark, queries, idx, k=5, n_probe=N_PROBE))
    centroids = spark.read.parquet(f"{idx}/centroids")
    assigned = ivf_index._assign(emb, centroids)
    w = Window.partitionBy("query_id").orderBy(F.col("_d2").asc(), F.col("centroid_id"))
    probes = F.broadcast(
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("_d2", ivf_index._d2("query_vec"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= N_PROBE)
        .select(
            "query_id", "query_vec", "centroid_id", norm(F.col("query_vec")).alias("qnrm")
        )
    )
    want = _topk_rows(similarity._rank_topk(assigned.join(probes, "centroid_id"), k=5))
    assert got == want and got

    # restart replay: all three epochs marked applied, nothing re-appends
    assert sp._epoch_already_applied(idx + "_sinkmeta", 2, str(tmp_path / "ck_emb"))
    assert not sp._epoch_already_applied(idx + "_sinkmeta", 3, str(tmp_path / "ck_emb"))

    # crash-WINDOW replay of epoch 2 (append committed, marker not):
    # the batch=<epoch> overwrite rewrites identical content — row
    # count and answers unchanged, no duplicated vectors.  The replay
    # acts on the sink's behalf, so it carries the sink's checkpoint
    # (round-10 single-writer contract: an unattributed manual fold
    # against a sink-owned index refuses — tests/test_ownership.py)
    b2 = emb.where(F.col("vec_id") % 3 == 2)
    ivf_index.update_ivf_index(b2, idx, epoch=2, checkpoint=str(tmp_path / "ck_emb"))
    assert ivf_index.read_manifest(idx)["n_rows"] == 300
    again = _topk_rows(ivf_index.ivf_index_topk(spark, queries, idx, k=5, n_probe=N_PROBE))
    assert again == got
    emb.unpersist()


def test_index_backed_semantic_dedup_equals_fit_per_call(spark, sf_dir, tmp_path):
    """`near_dup_pairs_from_index` must return exactly the pairs the
    fit-per-call `kmeans_near_dup_pairs` finds on the same corpus and
    params (same seed → same fit → same cells), with zero fitting or
    re-assignment at query time; the keep variant drops exactly the
    higher id of every pair."""
    base = _emb(spark, sf_dir, n=200)
    clones = base.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 500000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
    )
    corpus = base.unionByName(clones).persist()
    idx = str(tmp_path / "ivf_sem")
    ivf_index.build_ivf_index(corpus, idx, N_CENTROIDS, SEED)

    got = sorted(
        map(tuple, ivf_index.near_dup_pairs_from_index(spark, idx, 0.9).collect())
    )
    want = sorted(
        map(
            tuple,
            similarity.kmeans_near_dup_pairs(corpus, 0.9, N_CENTROIDS, SEED).collect(),
        )
    )
    assert got == want and got

    kept = {r["vec_id"] for r in ivf_index.semantic_dedup_keep_from_index(spark, idx, 0.9).collect()}
    for _a, b, _c in got:
        assert b not in kept
    all_ids = {r["vec_id"] for r in corpus.select("vec_id").collect()}
    dropped = {b for _a, b, _c in got}
    assert kept == all_ids - dropped
    corpus.unpersist()


def test_int8_index_stores_exact_quantization_and_ranks(spark, sf_dir, tmp_path):
    """int8=True: the stored ``qv`` column must round-trip the exact
    quantization of the float vectors (including through updates and
    the tinyint narrowing), and the quantized query path must rank by
    the exact integer dot product — verified against numpy on raw
    collected vectors."""
    import numpy as np
    import pytest

    emb = _emb(spark, sf_dir, n=300).persist()
    first = emb.where(F.col("vec_id") % 2 == 0)
    rest = emb.where(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "ivf_int8")
    ivf_index.build_ivf_index(first, idx, N_CENTROIDS, SEED, int8=True)
    ivf_index.update_ivf_index(rest, idx)
    assert ivf_index.read_manifest(idx)["int8"] is True

    assigned = spark.read.parquet(f"{idx}/assignments")
    assert dict(assigned.dtypes)["qv"] == "array<tinyint>"
    # round-trip: stored qv == quantize(float column), for every row
    # (build batches AND update batches)
    mismatch = assigned.where(
        F.col("qv").cast("array<long>")
        != F.transform(
            F.col("embedding"),
            lambda x: F.round(
                x.cast("double")
                / F.sqrt(
                    F.aggregate(
                        F.col("embedding"),
                        F.lit(0.0),
                        lambda a, v: a + v.cast("double") * v.cast("double"),
                    )
                )
                * 127
            ).cast("long"),
        )
    ).count()
    assert mismatch == 0

    q = similarity.default_queries(emb, every=50)
    got = ivf_index.ivf_index_topk_quantized(spark, q, idx, k=5, n_probe=N_PROBE)
    rows = got.collect()
    assert rows and all(r["rnk"] <= 5 for r in rows)

    # numpy cross-check of int_dot for every returned pair
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in emb.collect()}

    def qz(v):
        return np.round(v / np.linalg.norm(v) * 127).astype(np.int64)

    for r in rows:
        want = int(np.dot(qz(vecs[r["query_id"]]), qz(vecs[r["neighbor_id"]])))
        assert r["int_dot"] == want, (r, want)

    # a float-only index refuses the quantized path loudly
    idx2 = str(tmp_path / "ivf_float")
    ivf_index.build_ivf_index(first, idx2, N_CENTROIDS, SEED)
    with pytest.raises(ValueError, match="int8=True"):
        ivf_index.ivf_index_topk_quantized(spark, q, idx2)
    emb.unpersist()


def test_pq_codes_match_numpy_and_update_uses_frozen_codebooks(
    spark, sf_dir, tmp_path
):
    """IVF-PQ storage contract: every stored code — from the build
    batch AND from an update batch encoded against the FROZEN
    codebooks — must equal the numpy argmin over the stored codebook
    (ties to the lowest code id), and the manifest must carry the PQ
    geometry."""
    import numpy as np

    emb = _emb(spark, sf_dir, n=300).persist()
    first = emb.where(F.col("vec_id") % 2 == 0)
    rest = emb.where(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "ivf_pq")
    ivf_index.build_ivf_index(first, idx, N_CENTROIDS, SEED, pq_m=8, pq_ks=16)
    ivf_index.update_ivf_index(rest, idx)
    meta = ivf_index.read_manifest(idx)
    assert (meta["pq_m"], meta["pq_ks"], meta["pq_dim"]) == (8, 16, 64)

    assigned = spark.read.parquet(f"{idx}/assignments")
    assert dict(assigned.dtypes)["codes"] == "array<tinyint>"
    cb = {
        (r.sub_id, r.code_id): np.asarray(r.sub_centroid)
        for r in spark.read.parquet(f"{idx}/pq_codebooks").collect()
    }
    m, ks, dsub = 8, 16, 8
    for r in assigned.select("embedding", "codes").collect():
        v = np.asarray(r.embedding)
        for sub in range(m):
            d = [np.sum((v[sub * dsub:(sub + 1) * dsub] - cb[(sub, c)]) ** 2) for c in range(ks)]
            assert int(np.argmin(d)) == r.codes[sub]
    emb.unpersist()


def test_pq_topk_adc_pruning_and_rerank_equivalence(spark, sf_dir, tmp_path):
    """IVF-PQ query contract: (a) the un-reranked ADC plan reads ONLY
    (vec_id, centroid_id, codes, nrm) — the float embedding column
    never leaves disk; (b) ADC scores numpy-cross-check from the
    stored codes + codebook; (c) with ``rerank`` ≥ the probed cells'
    occupancy the result is EXACTLY ``ivf_index_topk`` — the exact
    re-score of every candidate ADC saw, so PQ changes the scan bytes,
    not the achievable answer."""
    import numpy as np

    emb = _emb(spark, sf_dir).persist()
    q = similarity.default_queries(emb, every=50)
    idx = str(tmp_path / "ivf_pq_q")
    ivf_index.build_ivf_index(emb, idx, N_CENTROIDS, SEED, pq_m=8, pq_ks=16)

    adc = ivf_index.ivf_index_topk_pq(spark, q, idx, k=10, n_probe=N_PROBE)
    plan = plan_string(adc)
    assert "codes" in plan
    import re

    for m_ in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        if "codes" in m_.group(1):
            assert "embedding" not in m_.group(1), m_.group(1)

    rows = adc.collect()
    assert rows and all(r.rnk <= 10 for r in rows)

    # numpy ADC cross-check for every returned pair
    cb = {
        (r.sub_id, r.code_id): np.asarray(r.sub_centroid)
        for r in spark.read.parquet(f"{idx}/pq_codebooks").collect()
    }
    stored = {
        r.vec_id: (list(r.codes), float(r.nrm))
        for r in spark.read.parquet(f"{idx}/assignments").select("vec_id", "codes", "nrm").collect()
    }
    qvecs = {r.query_id: np.asarray(r.query_vec) for r in q.collect()}
    dsub = 8
    for r in rows:
        qv = qvecs[r.query_id]
        codes, nrm = stored[r.neighbor_id]
        want = sum(
            float(np.dot(qv[s * dsub:(s + 1) * dsub], cb[(s, codes[s])])) for s in range(8)
        ) / (np.linalg.norm(qv) * nrm)
        assert abs(r.adc_cos - round(want, 4)) <= 1e-9, (r, want)

    got = _topk_rows(
        ivf_index.ivf_index_topk_pq(spark, q, idx, k=5, n_probe=N_PROBE, rerank=10**6)
    )
    want = _topk_rows(ivf_index.ivf_index_topk(spark, q, idx, k=5, n_probe=N_PROBE))
    assert got == want and got

    # a no-PQ index refuses the PQ path loudly
    import pytest

    idx2 = str(tmp_path / "ivf_nopq")
    ivf_index.build_ivf_index(emb.limit(100), idx2, N_CENTROIDS, SEED)
    with pytest.raises(ValueError, match="pq_m"):
        ivf_index.ivf_index_topk_pq(spark, q, idx2)
    emb.unpersist()


def test_delete_readd_and_compact_ivf_index(spark, sf_dir, tmp_path):
    """IVF tombstones: after deleting a slice, every query path must
    answer exactly like a frozen-centroid assignment of the REMAINING
    vectors; deleted vectors never rank, pair, or sample; a re-append
    of the same ids restores the full-corpus answers (batch-scoped
    victims don't kill the new version); compaction purges victims
    physically, retires the tombstones, and fixes the manifest."""
    import os

    emb = _emb(spark, sf_dir).persist()
    idx = str(tmp_path / "ivf_del")
    ivf_index.build_ivf_index(emb, idx, N_CENTROIDS, SEED)
    victims = [r.vec_id for r in emb.where(F.col("vec_id") % 9 == 0).collect()]
    ivf_index.delete_from_ivf_index(spark, idx, victims + [10**12])
    remaining = emb.where(~F.col("vec_id").isin(victims))
    q = similarity.default_queries(emb, every=50)
    centroids = spark.read.parquet(f"{idx}/centroids")

    def frozen_topk(corpus_df):
        assigned = ivf_index._assign(corpus_df, centroids)
        w = Window.partitionBy("query_id").orderBy(
            F.col("_d2").asc(), F.col("centroid_id")
        )
        probes = F.broadcast(
            q.crossJoin(F.broadcast(centroids))
            .withColumn("_d2", ivf_index._d2("query_vec"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= N_PROBE)
            .select(
                "query_id", "query_vec", "centroid_id",
                norm(F.col("query_vec")).alias("qnrm"),
            )
        )
        return _topk_rows(
            similarity._rank_topk(assigned.join(probes, "centroid_id"), k=5)
        )

    got = _topk_rows(ivf_index.ivf_index_topk(spark, q, idx, k=5, n_probe=N_PROBE))
    assert got == frozen_topk(remaining) and got
    assert not {n for _q, n, _r, _c in got} & set(victims)

    pairs = ivf_index.near_dup_pairs_from_index(spark, idx, threshold=-1.0)
    touched = {r.vec_a for r in pairs.collect()} | {r.vec_b for r in pairs.collect()}
    assert not touched & set(victims) and touched
    samp = {r.vec_id for r in ivf_index.cluster_balanced_sample(spark, idx, 10**6).collect()}
    assert not samp & set(victims)
    assert samp == {r.vec_id for r in remaining.select("vec_id").collect()}

    # idempotent
    ivf_index.delete_from_ivf_index(spark, idx, victims)
    assert _topk_rows(
        ivf_index.ivf_index_topk(spark, q, idx, k=5, n_probe=N_PROBE)
    ) == got

    # re-append the deleted vectors: new batch, frozen centroids —
    # answers must return to the FULL-corpus frozen assignment
    ivf_index.update_ivf_index(emb.where(F.col("vec_id").isin(victims)), idx)
    assert _topk_rows(
        ivf_index.ivf_index_topk(spark, q, idx, k=5, n_probe=N_PROBE)
    ) == frozen_topk(emb)

    # delete again, then compact: answers unchanged, victims gone
    # physically, tombstones retired, manifest ground-truthed
    ivf_index.delete_from_ivf_index(spark, idx, victims)
    before = _topk_rows(ivf_index.ivf_index_topk(spark, q, idx, k=5, n_probe=N_PROBE))
    ivf_index.compact_ivf_index(spark, idx)
    after = _topk_rows(ivf_index.ivf_index_topk(spark, q, idx, k=5, n_probe=N_PROBE))
    assert after == before == frozen_topk(remaining)
    assert not os.path.isdir(f"{idx}/tombstones")
    assert (
        spark.read.parquet(f"{idx}/assignments")
        .where(F.col("vec_id").isin(victims))
        .count()
        == 0
    )
    assert ivf_index.read_manifest(idx)["n_rows"] == remaining.count()
    emb.unpersist()


def test_missing_index_fails_loudly(spark, sf_dir, tmp_path):
    import pytest

    q = similarity.default_queries(_emb(spark, sf_dir, n=50), every=10)
    with pytest.raises(FileNotFoundError, match="build_ivf_index"):
        ivf_index.ivf_index_topk(spark, q, str(tmp_path / "nope"))


def test_cluster_balanced_sample_twin_and_cap(spark, sf_dir, tmp_path, ducks):
    """Cluster-balanced sampling off the stored index: exactly equal
    to a DuckDB window run straight over the index parquet (same
    portable hash rank), cap respected with every nonempty cell
    represented, and the plan never reads embedding bytes."""
    from tests.oracle_utils import compare

    emb = _emb(spark, sf_dir).persist()
    idx = str(tmp_path / "ivf_cbs")
    ivf_index.build_ivf_index(emb, idx, N_CENTROIDS, SEED)
    per = 20
    sdf = ivf_index.cluster_balanced_sample(spark, idx, per)
    srows = [tuple(r) for r in sdf.collect()]
    res = ducks.sql(f"""
SELECT vec_id, centroid_id, pick FROM (
  SELECT vec_id, CAST(centroid_id AS INT) AS centroid_id,
         row_number() OVER (
           PARTITION BY centroid_id
           ORDER BY ('0x' || substr(md5('cbs:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
                    vec_id) AS pick
  FROM read_parquet('{idx}/assignments/**/*.parquet', hive_partitioning=1)
) WHERE pick <= {per}
""")
    problems = compare(
        sdf.columns, srows, [d[0] for d in res.description], res.fetchall()
    )
    assert not problems, " | ".join(problems)
    assert srows

    # per-cell counts = min(per_cluster, cell occupancy)
    occ = {
        r["centroid_id"]: r["count"]
        for r in spark.read.parquet(f"{idx}/assignments")
        .groupBy("centroid_id")
        .count()
        .collect()
    }
    got = {
        r["centroid_id"]: r["count"]
        for r in sdf.groupBy("centroid_id").count().collect()
    }
    assert got == {c: min(per, n) for c, n in occ.items()}
    # a skewed corpus comes out flattened: no sampled cell exceeds per
    assert max(got.values()) <= per

    # scan prunes to (vec_id, centroid_id) — embedding bytes untouched
    assert "embedding" not in plan_string(sdf)
    emb.unpersist()


def test_refresh_from_diff_equals_frozen_centroid_assignment(spark, sf_dir, tmp_path):
    """Diff-driven IVF maintenance: after a remove/change/add
    transition the refreshed index answers top-k exactly as a
    frozen-centroid full assignment of the NEW snapshot — no refit,
    no full reassignment ever ran."""
    emb = _emb(spark, sf_dir).persist()
    old = emb.where(F.col("vec_id") < 300)
    # transition: 0..39 removed, 100 changed, 300+ added
    new = (
        emb.where((F.col("vec_id") >= 40) & (F.col("vec_id") < 300) & (F.col("vec_id") != 100))
        .unionByName(
            old.where(F.col("vec_id") == 100).select(
                "vec_id",
                F.transform(F.col("embedding"), lambda x: x + F.lit(0.25)).alias(
                    "embedding"
                ),
            )
        )
        .unionByName(emb.where(F.col("vec_id") >= 300))
    )

    d = {r["change"] for r in ivf_index.embedding_diff(old, new).collect()}
    assert d == {"added", "removed", "changed"}

    idx = str(tmp_path / "ivf_diff")
    ivf_index.build_ivf_index(old, idx, N_CENTROIDS, SEED)
    ivf_index.refresh_ivf_index_from_diff(spark, idx, old, new)

    q = similarity.default_queries(emb, every=50)
    got = _topk_rows(ivf_index.ivf_index_topk(spark, q, idx, k=5, n_probe=N_PROBE))

    centroids = spark.read.parquet(f"{idx}/centroids")
    assigned = ivf_index._assign(new, centroids)
    w = Window.partitionBy("query_id").orderBy(F.col("_d2").asc(), F.col("centroid_id"))
    wq = F.broadcast(
        q.crossJoin(F.broadcast(centroids))
        .withColumn("_d2", ivf_index._d2("query_vec"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= N_PROBE)
        .select(
            "query_id", "query_vec", "centroid_id", norm(F.col("query_vec")).alias("qnrm")
        )
    )
    want = _topk_rows(similarity._rank_topk(assigned.join(wq, "centroid_id"), k=5))
    assert got == want and got

    # identity transition: refresh is a no-op verdict-wise
    before = _topk_rows(ivf_index.ivf_index_topk(spark, q, idx, k=5, n_probe=N_PROBE))
    ivf_index.refresh_ivf_index_from_diff(spark, idx, new, new)
    after = _topk_rows(ivf_index.ivf_index_topk(spark, q, idx, k=5, n_probe=N_PROBE))
    assert before == after
    emb.unpersist()


def test_cdc_maintained_ivf_index_equals_fresh_build(spark, sf_dir, tmp_path):
    """r6 verdict #7: the IVF index follows a Debezium-style CDC
    source (op-routed upserts/deletes, latest-wins within a batch via
    seq) — a 3-batch history must answer ANN queries EXACTLY like a
    frozen-centroid assignment of the NET final table, and both
    operator-level crash windows must replay to the same answers."""
    import os

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
        pipeline as sp,
    )

    emb = _emb(spark, sf_dir, n=260).persist()
    rows = {r.vec_id: list(r.embedding) for r in emb.collect()}
    ids = sorted(rows)
    base = ids[:200]  # batch 0 payload
    spare = ids[200:260]  # unseen vectors to insert/re-create later

    def flip(v):  # a deterministic "new version" of an embedding
        return [-x for x in v]

    # batch 0: create 200; batch 1: update 30, delete 20, insert 20,
    # plus one u-then-d multi-op key resolved by seq (delete wins);
    # batch 2: re-create one deleted id (new version), update one
    # batch-1 insert, delete 10 more
    b0 = [(i, rows[i], "c", 0) for i in base]
    upd1 = base[:30]
    del1 = base[170:190]
    ins1 = spare[:20]
    b1 = (
        [(i, flip(rows[i]), "u", 1) for i in upd1]
        + [(i, rows[i], "d", 1) for i in del1]
        + [(i, rows[i], "c", 1) for i in ins1]
        + [(base[40], flip(rows[base[40]]), "u", 1), (base[40], rows[base[40]], "d", 2)]
    )
    re2 = del1[5]
    b2 = (
        [(re2, flip(rows[re2]), "c", 0)]
        + [(ins1[3], flip(rows[ins1[3]]), "u", 0)]
        + [(i, rows[i], "d", 0) for i in base[100:110]]
    )
    feed = str(tmp_path / "cdcfeed")
    os.makedirs(feed)
    schema = "vec_id long, embedding array<double>, op string, seq long"
    for i, b in enumerate((b0, b1, b2)):
        spark.createDataFrame(b, schema).coalesce(1).write.mode("overwrite").parquet(
            f"{feed}/f{i}.parquet"
        )
    idx = str(tmp_path / "ivf_cdc")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed + "/*.parquet")
    )
    q_ = sp.start_embedding_index_sink(
        stream, idx, str(tmp_path / "ck_cdc"), N_CENTROIDS, SEED,
        op_col="op", seq_col="seq",
    )
    q_.processAllAvailable()
    q_.stop()

    # the net final table: latest surviving version per vec_id
    final = {i: rows[i] for i in base}
    for i in upd1:
        final[i] = flip(rows[i])
    for i in del1:
        final.pop(i)
    for i in ins1:
        final[i] = rows[i]
    final.pop(base[40])  # u-then-d resolved latest-wins → deleted
    final[re2] = flip(rows[re2])
    final[ins1[3]] = flip(rows[ins1[3]])
    for i in base[100:110]:
        final.pop(i)
    net = spark.createDataFrame(
        [(i, v) for i, v in final.items()], "vec_id long, embedding array<double>"
    )
    assert ivf_index._live_assignments(spark, idx).count() == len(final)

    queries = similarity.default_queries(emb, every=40)
    got = _topk_rows(ivf_index.ivf_index_topk(spark, queries, idx, k=5, n_probe=N_PROBE))
    centroids = spark.read.parquet(f"{idx}/centroids")
    assigned = ivf_index._assign(net, centroids)
    w = Window.partitionBy("query_id").orderBy(F.col("_d2").asc(), F.col("centroid_id"))
    probes = F.broadcast(
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("_d2", ivf_index._d2("query_vec"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= N_PROBE)
        .select(
            "query_id", "query_vec", "centroid_id", norm(F.col("query_vec")).alias("qnrm")
        )
    )
    want = _topk_rows(similarity._rank_topk(assigned.join(probes, "centroid_id"), k=5))
    assert got == want and got

    # crash window A: a fully-committed upsert epoch replays as a
    # no-op (manifest last_epoch stamp checked before the delete)
    ups1 = spark.createDataFrame(b1, schema).where(F.col("op") != "d")
    ivf_index.upsert_ivf_index(
        spark, idx, ups1.select("vec_id", "embedding"), epoch=1
    )
    assert _topk_rows(
        ivf_index.ivf_index_topk(spark, queries, idx, k=5, n_probe=N_PROBE)
    ) == got

    # crash window B: tombstones committed but the batch dir/manifest
    # not (crash between upsert's delete and its update) — the replayed
    # upsert must restore the same answers (exclude_batch shields the
    # epoch's own rows from its replayed delete)
    idx2 = str(tmp_path / "ivf_cw")
    half = emb.where(F.col("vec_id") < 130)
    ivf_index.build_ivf_index(half, idx2, N_CENTROIDS, SEED)
    up = emb.where((F.col("vec_id") >= 110) & (F.col("vec_id") < 150))
    ivf_index.delete_from_ivf_index(
        spark, idx2, up.select("vec_id"), exclude_batch=5
    )  # first half of upsert(epoch=5), then "crash"
    ivf_index.upsert_ivf_index(spark, idx2, up, epoch=5)  # the replay
    clean = str(tmp_path / "ivf_clean")
    ivf_index.build_ivf_index(half, clean, N_CENTROIDS, SEED)
    ivf_index.upsert_ivf_index(spark, clean, up, epoch=5)
    # same centroids (same bootstrap fit) → answers must match exactly
    g2 = _topk_rows(ivf_index.ivf_index_topk(spark, queries, idx2, k=5, n_probe=N_PROBE))
    w2 = _topk_rows(ivf_index.ivf_index_topk(spark, queries, clean, k=5, n_probe=N_PROBE))
    assert g2 == w2 and g2
    emb.unpersist()
