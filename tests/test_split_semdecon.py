"""Round-8 growth operators: near-dup-aware train/val/test splitting
(``dedup.cluster_hash_split`` — verified near-dup components are
assigned as a unit, closing the edited-copy leakage path content
hashing leaves open) and semantic decontamination
(``decontam.semantic_decontaminate`` — embedding-cosine benchmark
leakage, catching reworded/reordered copies the n-gram gate misses).

Oracles: numpy exact cosine over the (already DuckDB-twinned)
embedder outputs for soundness/completeness of the semantic gate;
``hash_split`` equivalence on singletons and the verified-pair
same-split invariant for the cluster split.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
    decontam,
    dedup,
    embedder,
)
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.tables import load_table

DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _docs(spark, sf_dir, limit=200):
    return load_table(spark, sf_dir, "documents").limit(limit)


def _edited_copies(spark, docs, id_shift, n=12, suffix=" zq9token"):
    """Near-copies: same text plus a short suffix under fresh ids —
    content hash differs, shingle Jaccard stays high."""
    rows = docs.orderBy("doc_id").limit(n).collect()
    out = [
        (r.doc_id + id_shift, r.text + suffix, r.lang, r.source, r.n_chars)
        for r in rows
    ]
    return spark.createDataFrame(
        out, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_cluster_hash_split_never_splits_near_dups(spark, sf_dir):
    base = _docs(spark, sf_dir)
    corpus = dedup.with_exact_duplicates(base).unionByName(
        _edited_copies(spark, base, 500_000)
    )
    out = {
        r.doc_id: (r.cluster_id, r.bucket, r.split)
        for r in dedup.cluster_hash_split(corpus).collect()
    }
    assert len(out) == corpus.count()
    assert set(s for _, _, s in out.values()) == {"train", "val", "test"}

    # THE invariant: no verified near-dup pair straddles a split —
    # exact copies (+100000) and edited copies (+500000) included
    pairs = dedup.fuzzy_near_dup_pairs(corpus).collect()
    edited = {d for d in out if d >= 500_000}
    assert edited and any(
        (p.doc_a, p.doc_b) for p in pairs if p.doc_b in edited
    )  # the fixture really pairs edited copies with their originals
    for p in pairs:
        assert out[p.doc_a][2] == out[p.doc_b][2], (p.doc_a, p.doc_b)
        assert out[p.doc_a][0] == out[p.doc_b][0]

    # hash_split WOULD have leaked some edited copy across the split
    # boundary (content hash differs) — the reason this operator exists
    hs = {r.doc_id: r.split for r in dedup.hash_split(corpus).collect()}
    leaked = [
        (p.doc_a, p.doc_b)
        for p in pairs
        if p.doc_b in edited and hs[p.doc_a] != hs[p.doc_b]
    ]
    assert leaked, "fixture too small to demonstrate the leak — enlarge it"

    # singletons (docs in no verified pair) get EXACTLY hash_split's
    # assignment: same seed, same content hash, same bucket math
    paired = {p.doc_a for p in pairs} | {p.doc_b for p in pairs}
    singles = set(out) - paired
    assert singles
    for d in singles:
        assert out[d][0] == d  # own cluster
        assert out[d][2] == hs[d], d

    # deterministic
    again = {
        r.doc_id: (r.cluster_id, r.bucket, r.split)
        for r in dedup.cluster_hash_split(corpus).collect()
    }
    assert out == again


def _permuted_copies(spark, docs, id_shift, n=10, seed=13):
    """Reworded-order copies: the SAME token multiset in a shuffled
    order — near-zero 3-gram overlap (the n-gram gate's blind spot),
    IDENTICAL bag-of-tokens embedding (cosine 1.0)."""
    import random

    rng = random.Random(seed)
    rows = docs.orderBy("doc_id").limit(n).collect()
    out = []
    for r in rows:
        toks = r.text.split()
        rng.shuffle(toks)
        out.append((r.doc_id + id_shift, " ".join(toks), r.lang, r.source, r.n_chars))
    return spark.createDataFrame(
        out, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_semantic_decontaminate_catches_reordered_benchmark_copies(
    spark, sf_dir
):
    train = _docs(spark, sf_dir, limit=150)
    # benchmark = token-PERMUTED copies of 10 train docs under fresh ids
    bench = _permuted_copies(spark, train, 900_000)
    planted = {r.doc_id for r in train.orderBy("doc_id").limit(10).collect()}

    sem = {
        r.doc_id: r.contaminated
        for r in decontam.semantic_decontaminate(
            train, bench, threshold=0.95
        ).collect()
    }
    assert len(sem) == train.count()
    # completeness on the planted leak: a permuted copy embeds
    # IDENTICALLY under the bag-of-tokens embedder (cosine 1.0, same
    # bucket — certain in any LSH family)
    for d in planted:
        assert sem[d], d

    # the n-gram gate misses most of them (shuffled order shares few
    # 3-grams) — the gap this operator closes
    ng = {
        r.doc_id: r.contaminated
        for r in decontam.fuzzy_decontaminate(train, bench).collect()
    }
    assert sum(1 for d in planted if not ng[d]) >= 7, ng

    # soundness via exact numpy cosine over the (DuckDB-twinned)
    # embedder outputs: every semantic flag has a true >= threshold
    # benchmark neighbor, and nothing >= threshold went unflagged
    tv = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in embedder.embed_documents(train).collect()
    }
    bv = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in embedder.embed_documents(bench).collect()
    }

    def max_cos(d):
        v = tv[d]
        nv = np.linalg.norm(v)
        if nv == 0:
            return -1.0
        best = -1.0
        for b in bv.values():
            nb = np.linalg.norm(b)
            if nb == 0:
                continue
            best = max(best, float(v @ b / (nv * nb)))
        return best

    for d, flagged in sem.items():
        if flagged:
            assert max_cos(d) >= 0.95 - 1e-9, d
    # brute-force completeness on THIS corpus (multiprobe recall is
    # probabilistic in general; assert it held here so a regression in
    # the bucket join is visible)
    brute = {d for d in tv if max_cos(d) >= 0.95}
    assert brute <= {d for d, f in sem.items() if f}


def test_semantic_decontaminate_vectors_contract(spark, sf_dir):
    """Vector-level core: zero vectors never flag (null-safe cosine),
    output is the (doc_id, bench_id) verified pair set, and pinning
    bits reproduces the default sizing path."""
    train = _docs(spark, sf_dir, limit=60)
    bench = _permuted_copies(spark, train, 900_000, n=5)
    dv = embedder.embed_documents(train)
    bvv = embedder.embed_documents(bench)
    pairs = {
        (r.doc_id, r.bench_id)
        for r in decontam.semantic_decontaminate_vectors(
            dv, bvv, threshold=0.99, bits=6
        ).collect()
    }
    planted = {
        (r.doc_id, r.doc_id + 900_000)
        for r in train.orderBy("doc_id").limit(5).collect()
    }
    assert planted <= pairs
    # zero vectors on either side are inert
    zd = spark.createDataFrame(
        [(1, [0.0] * 64)], "vec_id long, embedding array<float>"
    )
    assert (
        decontam.semantic_decontaminate_vectors(zd, bvv, threshold=0.5, bits=6).count()
        == 0
    )
    assert (
        decontam.semantic_decontaminate_vectors(dv, zd, threshold=0.5, bits=6).count()
        == 0
    )


def test_semantic_gate_artifact_equals_fit_per_call(spark, sf_dir, tmp_path):
    """The persisted benchmark-vector artifact
    (``build_benchmark_vectors`` → ``semantic_decontaminate_against_
    vectors``) answers EXACTLY like the fit-per-call operator — the
    benchmark never re-embeds, the arriving side embeds with the
    manifest's pinned (dim, hash_mode); a missing artifact refuses
    loudly."""
    import pytest

    train = _docs(spark, sf_dir, limit=120)
    bench = _permuted_copies(spark, train, 900_000)

    vdir = str(tmp_path / "bvecs")
    with pytest.raises(FileNotFoundError, match="build_benchmark_vectors"):
        decontam.semantic_decontaminate_against_vectors(spark, train, vdir)
    decontam.build_benchmark_vectors(bench, vdir)

    got = sorted(
        map(
            tuple,
            decontam.semantic_decontaminate_against_vectors(
                spark, train, vdir, threshold=0.95
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            decontam.semantic_decontaminate(train, bench, threshold=0.95).collect(),
        )
    )
    assert got == want
    assert any(r[-1] for r in got)  # the planted permuted leaks flag


def test_streamed_semantic_gate_kills_permuted_copies(spark, sf_dir, tmp_path):
    """The ingest sink's embedding-space gate: token-PERMUTED copies of
    benchmark docs arrive mid-stream — the n-gram family can't see
    them (near-zero 3-gram overlap) but they embed identically, so the
    semantic gate drops them before the corpus AND before they become
    dedup precedent in the index."""
    import os

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
        lsh_index,
    )
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
        pipeline as sp,
    )

    pool = _docs(spark, sf_dir, limit=200).select("doc_id", "text", "lang", "source")
    b1 = pool.where(F.col("doc_id") < 60)
    arriving_leaks = pool.where((F.col("doc_id") >= 60) & (F.col("doc_id") < 70))
    fresh = pool.where((F.col("doc_id") >= 70) & (F.col("doc_id") < 80))
    # the benchmark holds PERMUTED copies of the docs about to arrive
    bench = _permuted_copies(
        spark,
        arriving_leaks.withColumn("n_chars", F.length("text")),
        900_000,
        n=10,
    ).select("doc_id", "text", "lang", "source")
    vdir = str(tmp_path / "bvecs")
    decontam.build_benchmark_vectors(bench, vdir)

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    b1.coalesce(1).write.mode("overwrite").parquet(f"{feed}/f0.parquet")
    corpus, idx = str(tmp_path / "corpus"), str(tmp_path / "idx")
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string, source string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{feed}/*.parquet")
    )
    q = sp.start_document_ingest_sink(
        stream, corpus, idx, str(tmp_path / "tix"), str(tmp_path / "ivf"),
        str(tmp_path / "ck"), benchmark_vectors_dir=vdir, semantic_threshold=0.95,
    )
    q.processAllAvailable()
    arriving_leaks.unionByName(fresh).coalesce(1).write.mode("overwrite").parquet(
        f"{feed}/f1.parquet"
    )
    q.processAllAvailable()
    q.stop()

    got = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}
    leak_ids = {r.doc_id for r in arriving_leaks.select("doc_id").collect()}
    fresh_ids = {r.doc_id for r in fresh.select("doc_id").collect()}
    assert not (got & leak_ids)  # every permuted-copy twin died
    # clean fresh docs passed the gate (modulo fixture-internal dups)
    assert fresh_ids & got
    # and the leaks never became dedup precedent in the index
    idx_ids = {r.doc_id for r in lsh_index._live_bands(spark, idx).collect()}
    assert not (idx_ids & leak_ids)
    # sanity: without the gate the leaks WOULD have survived ingest —
    # they near-dup nothing indexed (the n-gram blind spot)
    kept = {
        r.doc_id
        for r in lsh_index.dedup_against_index(spark, arriving_leaks, idx).collect()
    }
    assert kept == leak_ids
