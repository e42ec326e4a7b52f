"""Feature-hashing text embedder (operators/embedder.py): DuckDB
twin of the full vector math, duplicate geometry, and the end-to-end
document → embed → persistent IVF index → semantic dedup chain."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
    dedup,
    embedder,
)

DIM = 32


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_embedding_matches_duckdb_twin(spark, sf_dir, ducks, tmp_path):
    docs = _docs(spark, sf_dir).limit(120)
    got = {
        r.vec_id: (list(r.embedding), r.n_tokens)
        for r in embedder.embed_documents(docs, dim=DIM).collect()
    }
    docs.select("doc_id", "text").write.mode("overwrite").parquet(
        str(tmp_path / "docs_twin")
    )
    sql = f"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                     x -> x <> '') AS toks
  FROM '{tmp_path}/docs_twin/*.parquet'
),
occ AS (
  SELECT doc_id,
         (('0x' || substr(md5('emb:b:' || t.term), 1, 15))::BIGINT % {DIM})::INT AS bucket,
         CASE WHEN ('0x' || substr(md5('emb:s:' || t.term), 1, 15))::BIGINT % 2 = 0
              THEN 1.0 ELSE -1.0 END AS sign
  FROM d, unnest(d.toks) AS t(term)
),
sparse AS (
  SELECT doc_id, bucket, sum(sign) AS v, count(*) AS n
  FROM occ GROUP BY 1, 2
),
entries AS (
  SELECT doc_id, list(struct_pack(b := bucket, v := v)) AS es, sum(n) AS n_tokens
  FROM sparse GROUP BY doc_id
),
dense AS (
  SELECT doc_id,
         [coalesce(list_sum([e.v for e in es if e.b = i]), 0.0)
          for i in generate_series(0, {DIM - 1})] AS vec,
         n_tokens
  FROM entries
)
SELECT d.doc_id, dense.vec, coalesce(dense.n_tokens, 0)
FROM d LEFT JOIN dense USING (doc_id)
"""
    want = {r[0]: (r[1], r[2]) for r in ducks.execute(sql).fetchall()}
    assert set(got) == set(want)
    for doc_id, (vec, n_tokens) in got.items():
        assert n_tokens == want[doc_id][1], doc_id
        raw = [float(x) for x in (want[doc_id][0] or [0.0] * DIM)]
        nrm = math.sqrt(sum(x * x for x in raw)) or 1.0
        expect = [x / nrm for x in raw]
        assert vec == pytest.approx(expect, abs=1e-6), doc_id
        if n_tokens > 0:
            assert sum(x * x for x in vec) == pytest.approx(1.0, abs=1e-5)


def test_duplicate_geometry_and_tokenless_zero_vector(spark, sf_dir):
    """Exact-duplicate texts embed identically (cosine 1); a tokenless
    doc embeds as the zero vector and still surfaces."""
    docs = dedup.with_exact_duplicates(_docs(spark, sf_dir).limit(100)).union(
        _docs(spark, sf_dir)
        .sparkSession.createDataFrame(
            [(999_001, "??!!", "en", "srcX", 4)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    )
    emb = embedder.embed_documents(docs, dim=DIM)
    rows = {r.vec_id: r for r in emb.collect()}
    dups = [d for d in rows if d >= 100_000 and d != 999_001]
    assert dups
    for d in dups:
        orig = rows[d - 100_000]
        assert list(rows[d].embedding) == list(orig.embedding), d
    z = rows[999_001]
    assert z.n_tokens == 0 and list(z.embedding) == [0.0] * DIM
    assert len(rows) == docs.count()


def test_embed_to_ivf_index_semantic_dedup_end_to_end(spark, sf_dir, tmp_path):
    """The chain the embedder exists for: raw docs → vectors →
    persistent IVF index → index-backed near-dup pairs recover the
    planted exact-duplicate pairs (cosine 1 survives any threshold)."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
        ivf_index,
    )

    docs = dedup.with_exact_duplicates(_docs(spark, sf_dir).limit(100))
    emb = embedder.embed_documents(docs, dim=DIM).where(F.col("n_tokens") > 0)
    idx = str(tmp_path / "emb_ivf")
    ivf_index.build_ivf_index(emb.select("vec_id", "embedding"), idx, n_centroids=4)
    pairs = {
        (r.vec_a, r.vec_b)
        for r in ivf_index.near_dup_pairs_from_index(
            spark, idx, threshold=0.9999
        ).collect()
    }
    ids = {r.doc_id for r in docs.select("doc_id").collect()}
    planted = {
        (d, d + 100_000) for d in ids if d < 100_000 and d + 100_000 in ids
    }
    assert planted
    assert planted <= pairs, planted - pairs


def test_streaming_document_index_sink(spark, sf_dir, tmp_path):
    """Docs stream → embed → persistent IVF index (the document ingest
    sink's IVF leg): the sink-built index answers identically to
    build-on-first-batch + frozen-fold of the SAME embedded corpus,
    planted duplicates never reach it (the index follows the deduped
    corpus), and a crash-window replay of an epoch changes nothing."""
    import os

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
        ivf_index,
    )
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
        pipeline as sp,
    )

    docs = dedup.with_exact_duplicates(_docs(spark, sf_dir).limit(90)).select(
        "doc_id", "text"
    ).persist()
    feed = str(tmp_path / "docfeed")
    os.makedirs(feed)
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{feed}/f{i}.parquet")
    idx = str(tmp_path / "doc_ivf")
    corpus = str(tmp_path / "corpus")
    ck = str(tmp_path / "ck_demb")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed + "/*.parquet")
    )
    q = sp.start_document_ingest_sink(
        stream, corpus, str(tmp_path / "mh"), str(tmp_path / "tix"), idx, ck,
        dim=DIM, n_centroids=4,
    )
    q.processAllAvailable()
    q.stop()

    kept = docs.join(
        spark.read.parquet(corpus).select("doc_id"), "doc_id", "left_semi"
    )
    emb = embedder.embed_documents(kept, dim=DIM).where(F.col("n_tokens") > 0)
    assert ivf_index.read_manifest(idx)["n_rows"] == emb.count()
    # stored assignments ≡ frozen-centroid assignment of the full
    # embedded corpus under the sink's own centroids
    centroids = spark.read.parquet(f"{idx}/centroids")
    want = {
        (r.vec_id, r.centroid_id)
        for r in ivf_index._assign(
            emb.select("vec_id", "embedding"), centroids
        ).select("vec_id", "centroid_id").collect()
    }
    got = {
        (r.vec_id, r.centroid_id)
        for r in spark.read.parquet(f"{idx}/assignments")
        .select("vec_id", "centroid_id")
        .collect()
    }
    assert got == want
    # a planted copy that arrives in a later micro-batch than its
    # original dies at the dedup gate, so it is never indexed
    ids = {r.doc_id for r in docs.select("doc_id").collect()}
    later = {d + 100_000 for d in ids if d % 3 < (d + 100_000) % 3 and d + 100_000 in ids}
    assert later and not later & {v for v, _ in got}
    pairs = {
        (r.vec_a, r.vec_b)
        for r in ivf_index.near_dup_pairs_from_index(
            spark, idx, threshold=0.9999
        ).collect()
    }
    # crash-window replay of epoch 2: deterministic embed → identical
    # batch dir, answers unchanged
    b2 = kept.where(F.col("doc_id") % 3 == 2)
    emb2 = embedder.embed_documents(b2, dim=DIM).where(F.col("n_tokens") > 0)
    # the replay acts on the sink's behalf → carries its checkpoint
    ivf_index.update_ivf_index(
        emb2.select("vec_id", "embedding"), idx, epoch=2, checkpoint=ck,
    )
    assert ivf_index.read_manifest(idx)["n_rows"] == emb.count()
    again = {
        (r.vec_a, r.vec_b)
        for r in ivf_index.near_dup_pairs_from_index(
            spark, idx, threshold=0.9999
        ).collect()
    }
    assert again == pairs
    docs.unpersist()


def test_validation_and_plan_is_python_free(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(50)
    with pytest.raises(ValueError, match="dim"):
        embedder.embed_documents(docs, dim=0)
    emb = embedder.embed_documents(docs, dim=DIM)
    plan = emb._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan, marker
