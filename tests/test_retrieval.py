"""Stored inverted text index (operators/retrieval.py): index-backed
BM25 must equal the direct operator, updates must append without
rewriting history, and the query plan must prune to the query terms'
bucket partitions with no tokenization anywhere."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import dedup, retrieval
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.plans.explain import plan_string
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.tables import load_table


pytestmark = pytest.mark.slow  # multi-epoch lifecycle walk; fast tier keeps the
# single-epoch/oracle coverage of this family (round 12, VERDICT r11 #3)

TERMS = ["spark", "vector", "window"]


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _without_near_dups(docs):
    """``docs`` minus every doc with a ≥0.5-Jaccard partner among them:
    the document ingest sink's dedup gate then keeps them all, so the
    text index it maintains must equal a plain build over the same
    docs."""
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    paired = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
    return docs.where(~F.col("doc_id").isin(sorted(paired) or [-1]))


def _start_ingest(sp, stream, tix, **kw):
    """The document ingest sink with its text index at ``tix`` (the
    corpus, MinHash and IVF artifacts beside it)."""
    return sp.start_document_ingest_sink(
        stream, tix + "_corpus", tix + "_mh", tix, tix + "_ivf", tix + "_ck", **kw
    )


def test_index_backed_bm25_equals_direct(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "tix")
    retrieval.build_text_index(docs, idx, buckets=16)
    got = retrieval.bm25_topk_from_index(spark, idx, TERMS, k=25)
    want = retrieval.bm25_topk(docs, TERMS, k=25)
    assert _rows(got) == _rows(want) and _rows(got)

    # no tokenization at query time; postings scan pruned to the
    # query terms' bucket partitions
    plan = plan_string(got)
    assert "explode" not in plan.lower()
    assert "tbucket" in plan


def test_update_appends_and_matches_full_build(spark, sf_dir, tmp_path):
    """Build on the even docs, fold in the odd docs: answers must
    equal an index built over everything, and the batch=0 append must
    not rewrite the batch=-1 postings."""
    import os

    docs = load_table(spark, sf_dir, "documents")
    idx_inc = str(tmp_path / "tix_inc")
    retrieval.build_text_index(docs.where(F.col("doc_id") % 2 == 0), idx_inc, buckets=16)
    base_files = set()
    for root, _dirs, files in os.walk(f"{idx_inc}/postings/batch=-1"):
        base_files |= {f"{root}/{f}" for f in files if f.endswith(".parquet")}
    stamps = {p: os.path.getmtime(p) for p in base_files}

    retrieval.update_text_index(docs.where(F.col("doc_id") % 2 == 1), idx_inc)
    assert all(os.path.getmtime(p) == stamps[p] for p in base_files)
    assert os.path.isdir(f"{idx_inc}/postings/batch=0")

    idx_full = str(tmp_path / "tix_full")
    retrieval.build_text_index(docs, idx_full, buckets=16)
    got = retrieval.bm25_topk_from_index(spark, idx_inc, TERMS, k=25)
    want = retrieval.bm25_topk_from_index(spark, idx_full, TERMS, k=25)
    assert _rows(got) == _rows(want) and _rows(got)

    # additive manifest stats fold exactly
    mi = retrieval.read_text_index_manifest(idx_inc)
    mf = retrieval.read_text_index_manifest(idx_full)
    assert (mi["n_docs"], mi["sum_dl"]) == (mf["n_docs"], mf["sum_dl"])


def test_missing_index_fails_loudly(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="build_text_index"):
        retrieval.bm25_topk_from_index(spark, str(tmp_path / "nope"), TERMS)


def test_streaming_text_index_sink_equals_one_shot_build(spark, sf_dir, tmp_path):
    """First micro-batch builds, later batches fold map-side (the
    document ingest sink's text-index leg); the sink-built index must
    answer exactly like a one-shot build over the full corpus, manifest
    stats must agree, and a replayed epoch must be a no-op (the
    manifest last_epoch stamp)."""
    import os

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
        pipeline as sp,
    )

    docs = _without_near_dups(load_table(spark, sf_dir, "documents")).persist()
    feed = str(tmp_path / "docs_feed")
    os.makedirs(feed)
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{feed}/b{i}.parquet")

    idx = str(tmp_path / "tix_stream")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed + "/*")
    )
    q = _start_ingest(sp, stream, idx)
    q.processAllAvailable()
    q.stop()

    idx_full = str(tmp_path / "tix_oneshot")
    retrieval.build_text_index(docs, idx_full)
    got = retrieval.bm25_topk_from_index(spark, idx, TERMS, k=25)
    want = retrieval.bm25_topk_from_index(spark, idx_full, TERMS, k=25)
    assert _rows(got) == _rows(want) and _rows(got)

    ms = retrieval.read_text_index_manifest(idx)
    mf = retrieval.read_text_index_manifest(idx_full)
    assert (ms["n_docs"], ms["sum_dl"]) == (mf["n_docs"], mf["sum_dl"])
    assert ms["last_epoch"] == 2

    # replayed epoch: the manifest stamp short-circuits the fold
    last_batch = docs.where(F.col("doc_id") % 3 == 2)
    retrieval.update_text_index(last_batch, idx, epoch=2, checkpoint=idx + "_ck")
    ms2 = retrieval.read_text_index_manifest(idx)
    assert ms2 == ms
    assert _rows(retrieval.bm25_topk_from_index(spark, idx, TERMS, k=25)) == _rows(want)
    docs.unpersist()


def test_text_index_compaction_bounds_files_and_preserves_results(
    spark, sf_dir, tmp_path
):
    """Twin 6-batch ingests, one compacting every 3 epochs: the
    compacted index must hold strictly fewer batch dirs and files,
    answer identically, and keep the manifest's additive stats and
    last_epoch stamp (so replayed old epochs stay inert)."""
    import os

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
        pipeline as sp,
    )

    docs = _without_near_dups(load_table(spark, sf_dir, "documents")).persist()
    feed = str(tmp_path / "cfeed")
    os.makedirs(feed)
    for i in range(6):
        docs.where(F.col("doc_id") % 6 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{feed}/b{i}.parquet")

    def run(idx, compact_every):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed + "/*")
        )
        q = _start_ingest(sp, stream, idx, compact_every=compact_every)
        q.processAllAvailable()
        q.stop()

    plain, tight = str(tmp_path / "tix_plain"), str(tmp_path / "tix_tight")
    run(plain, None)
    run(tight, 3)

    def stats(idx):
        batches, files = set(), 0
        for root, dirs, fs in os.walk(f"{idx}/postings"):
            for d in dirs:
                if d.startswith("batch="):
                    batches.add(d)
            files += sum(1 for f in fs if f.endswith(".parquet"))
        return batches, files

    pb, pf = stats(plain)
    tb, tf_ = stats(tight)
    assert len(tb) == 1 and len(pb) == 6  # one fresh compacted batch dir
    assert tf_ < pf

    got = retrieval.bm25_topk_from_index(spark, tight, TERMS, k=25)
    want = retrieval.bm25_topk_from_index(spark, plain, TERMS, k=25)
    assert _rows(got) == _rows(want) and _rows(got)

    mt = retrieval.read_text_index_manifest(tight)
    mp = retrieval.read_text_index_manifest(plain)
    assert (mt["n_docs"], mt["sum_dl"], mt["last_epoch"]) == (
        mp["n_docs"],
        mp["sum_dl"],
        mp["last_epoch"],
    )
    # compacting an already-compacted index is a no-op re-layout
    retrieval.compact_text_index(spark, tight)
    assert _rows(retrieval.bm25_topk_from_index(spark, tight, TERMS, k=25)) == _rows(want)
    docs.unpersist()


def test_phrase_match_from_index_twin_and_overlaps(spark, sf_dir, tmp_path, ducks):
    """Positional phrase search: (a) a handcrafted micro-corpus pins
    the anchor algebra — multi-occurrence counts, OVERLAPPING
    occurrences of a self-repeating phrase, repeated terms at
    different offsets, near-miss non-matches; (b) on the fixture
    corpus the result equals a full independent DuckDB recomputation
    from raw text (tokenize → anchor scan); (c) the plan reads no
    text, no tf, and prunes to the phrase terms' buckets; (d) BM25
    over the positional index still never reads positions bytes."""
    crafted = spark.createDataFrame(
        [
            (10**6 + 1, "the quick fox and the quick fox again"),
            (10**6 + 2, "quick the fox"),          # terms present, order wrong
            (10**6 + 3, "a a a a"),                # overlapping self-phrase
            (10**6 + 4, "the quick brown fox"),    # gap breaks the phrase
            (10**6 + 5, "prefix the quick fox"),
        ],
        "doc_id long, text string",
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").union(crafted)
    idx = str(tmp_path / "tix_pos")
    retrieval.build_text_index(docs, idx, buckets=16)

    got = {
        r.doc_id: r.n_occurrences
        for r in retrieval.phrase_match_from_index(
            spark, idx, ["the", "quick", "fox"]
        ).collect()
    }
    assert got[10**6 + 1] == 2
    assert got[10**6 + 5] == 1
    assert 10**6 + 2 not in got and 10**6 + 4 not in got

    overlaps = {
        r.doc_id: r.n_occurrences
        for r in retrieval.phrase_match_from_index(spark, idx, ["a", "a"]).collect()
        if r.doc_id == 10**6 + 3
    }
    assert overlaps == {10**6 + 3: 3}

    # independent DuckDB recomputation from raw text over the fixture
    docs.write.mode("overwrite").parquet(str(tmp_path / "docs_pos"))
    phrase = ["the", "quick", "fox"]
    conds = " and ".join(
        f"toks[p + {j}] = '{t}'" for j, t in enumerate(phrase)
    )
    want = dict(
        ducks.execute(f"""
WITH d AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM '{tmp_path}/docs_pos/*.parquet'
)
SELECT * FROM (
  SELECT doc_id,
         len([p for p in generate_series(1, len(toks) - {len(phrase) - 1}) if {conds}]) AS n
  FROM d
) WHERE n > 0
""").fetchall()
    )
    assert got == want

    plan = plan_string(retrieval.phrase_match_from_index(spark, idx, phrase))
    assert "explode" not in plan.lower() and "tbucket" in plan
    import re

    for m_ in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert "text" not in m_.group(1) and "tf" not in m_.group(1)

    # the ranking path conversely never reads positions bytes
    bplan = plan_string(retrieval.bm25_topk_from_index(spark, idx, TERMS, k=5))
    for m_ in re.finditer(r"ReadSchema: struct<([^>]*)>", bplan):
        assert "positions" not in m_.group(1), m_.group(1)

    # a positionless index refuses loudly
    meta = retrieval.read_text_index_manifest(idx)
    meta2 = dict(meta)
    meta2.pop("positions")
    retrieval._write_tix_manifest(idx, meta2)
    with pytest.raises(ValueError, match="positions"):
        retrieval.phrase_match_from_index(spark, idx, phrase)
    retrieval._write_tix_manifest(idx, meta)


def test_bm25_require_all_is_the_conjunctive_restriction(spark, sf_dir, tmp_path):
    """Must-match retrieval: require_all=True returns EXACTLY the OR
    ranking restricted to docs containing every query term — same
    scores (conjunction must not change df/idf), no term-missing doc
    admitted, no all-terms doc lost."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "tix_and")
    retrieval.build_text_index(docs, idx, buckets=16)
    big_k = 10**6
    or_rows = {
        r.doc_id: r.bm25
        for r in retrieval.bm25_topk_from_index(spark, idx, TERMS, k=big_k).collect()
    }
    and_rows = {
        r.doc_id: r.bm25
        for r in retrieval.bm25_topk_from_index(
            spark, idx, TERMS, k=big_k, require_all=True
        ).collect()
    }
    # ground truth membership from the raw text
    toks = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " ")), " "),
        lambda x: x != "",
    )
    has_all = {
        r.doc_id
        for r in docs.where(
            F.size(F.array_intersect(toks, F.array(*[F.lit(t) for t in TERMS])))
            == len(TERMS)
        ).collect()
    }
    assert set(and_rows) == has_all and and_rows
    assert set(and_rows) < set(or_rows)
    for d, s in and_rows.items():
        assert s == or_rows[d], (d, s, or_rows[d])


def test_delete_from_index_equals_rebuild(spark, sf_dir, tmp_path):
    """Tombstone deletes: after deleting a slice of docs, BM25 (scores
    included — df, n_docs, avgdl all netted) and phrase search must
    return EXACTLY what an index rebuilt without those docs returns;
    re-deleting and deleting unknown ids are no-ops; compaction then
    removes the victims physically, retires the tombstones, restores
    ground-truth manifest stats, and changes no answer."""
    import os

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "tix_del")
    retrieval.build_text_index(docs, idx, buckets=16)
    gone_ids = [r.doc_id for r in docs.where(F.col("doc_id") % 7 == 0).collect()]
    retrieval.delete_from_text_index(spark, idx, gone_ids + [10**12])

    remaining = docs.where(~F.col("doc_id").isin(gone_ids))
    ref = str(tmp_path / "tix_ref")
    retrieval.build_text_index(remaining, ref, buckets=16)

    def answers(ix):
        bm = _rows(retrieval.bm25_topk_from_index(spark, ix, TERMS, k=10**6))
        ph = _rows(retrieval.phrase_match_from_index(spark, ix, ["data", "scan"]))
        return bm, ph

    assert answers(idx) == answers(ref) and answers(idx)[0]
    assert not {d for d, _ in answers(idx)[0]} & set(gone_ids)

    # idempotent: second delete of the same ids changes nothing
    retrieval.delete_from_text_index(spark, idx, gone_ids)
    assert answers(idx) == answers(ref)

    retrieval.compact_text_index(spark, idx)
    assert answers(idx) == answers(ref)
    assert not os.path.isdir(f"{idx}/tombstones")
    left = spark.read.parquet(f"{idx}/postings").where(
        F.col("doc_id").isin(gone_ids)
    )
    assert left.count() == 0
    meta_i = retrieval.read_text_index_manifest(idx)
    meta_r = retrieval.read_text_index_manifest(ref)
    assert (meta_i["n_docs"], meta_i["sum_dl"]) == (meta_r["n_docs"], meta_r["sum_dl"])


def test_diff_refresh_equals_rebuild(spark, sf_dir, tmp_path):
    """corpus_diff-driven index maintenance: removed docs tombstone,
    changed docs tombstone + re-append, added docs append — and the
    refreshed index answers EXACTLY like one built fresh on the new
    snapshot, scores included (the stats netting must be exact)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = (
        docs.where(F.col("doc_id") % 10 != 3)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 10 == 4,
                F.concat(F.col("text"), F.lit(" spark spark window")),
            ).otherwise(F.col("text")),
        )
        .unionByName(
            docs.orderBy("doc_id")
            .limit(7)
            .select((F.col("doc_id") + 10**9).alias("doc_id"), "text")
        )
    )
    idx = str(tmp_path / "tix_old")
    retrieval.build_text_index(docs, idx, buckets=16)
    retrieval.refresh_text_index_from_diff(spark, idx, docs, new)

    ref = str(tmp_path / "tix_new")
    retrieval.build_text_index(new, ref, buckets=16)

    got = _rows(retrieval.bm25_topk_from_index(spark, idx, TERMS, k=10**6))
    want = _rows(retrieval.bm25_topk_from_index(spark, ref, TERMS, k=10**6))
    assert got == want and got
    gp = _rows(retrieval.phrase_match_from_index(spark, idx, ["spark", "spark"]))
    wp = _rows(retrieval.phrase_match_from_index(spark, ref, ["spark", "spark"]))
    assert gp == wp
    # the hybrid/batch paths ride the same core — spot-check one
    gb = _rows(
        retrieval.bm25_topk_from_index(spark, idx, TERMS, k=15, require_all=True)
    )
    wb = _rows(
        retrieval.bm25_topk_from_index(spark, ref, TERMS, k=15, require_all=True)
    )
    assert gb == wb


def test_upsert_text_index_equals_latest_version_rebuild(spark, sf_dir, tmp_path):
    """UPSERT: without knowing which docs are new vs replacing, the
    upserted index must answer exactly like a rebuild where every doc
    appears once in its LATEST version."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "tix_ups")
    retrieval.build_text_index(docs, idx, buckets=16)
    batch = (
        docs.where(F.col("doc_id") % 10 == 4)
        .withColumn("text", F.concat(F.col("text"), F.lit(" spark window upsert")))
        .unionByName(
            docs.orderBy("doc_id")
            .limit(4)
            .select((F.col("doc_id") + 10**9).alias("doc_id"), "text")
        )
    )
    retrieval.upsert_text_index(spark, idx, batch)

    latest = docs.where(F.col("doc_id") % 10 != 4).unionByName(batch)
    ref = str(tmp_path / "tix_ups_ref")
    retrieval.build_text_index(latest, ref, buckets=16)
    got = _rows(retrieval.bm25_topk_from_index(spark, idx, TERMS, k=10**6))
    want = _rows(retrieval.bm25_topk_from_index(spark, ref, TERMS, k=10**6))
    assert got == want and got


def test_cdc_maintained_text_index_sink(spark, sf_dir, tmp_path):
    """The CDC-maintained-index mode: a stream of Debezium-style
    (doc_id, text, op) rows — creates, updates, deletes across three
    micro-batches — must leave the index answering exactly like one
    built fresh on the net final table."""
    import os

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
        pipeline as sp,
    )

    docs = _without_near_dups(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 70)
    ).select("doc_id", "text").persist()
    base = docs.where(F.col("doc_id") < 60)
    b1 = base.withColumn("op", F.lit("c"))
    b2 = (
        base.where(F.col("doc_id") % 5 == 0)
        .withColumn("text", F.concat(F.col("text"), F.lit(" updated spark vector")))
        .withColumn("op", F.lit("u"))
        .unionByName(
            docs.where((F.col("doc_id") >= 60) & (F.col("doc_id") < 70)).withColumn(
                "op", F.lit("c")
            )
        )
    )
    b3 = (
        base.where(F.col("doc_id") % 7 == 0)
        .withColumn("text", F.lit(""))
        .withColumn("op", F.lit("d"))
        .unionByName(
            base.where(F.col("doc_id") == 1)
            .withColumn("text", F.concat(F.col("text"), F.lit(" twice updated")))
            .withColumn("op", F.lit("u"))
        )
    )
    feed = str(tmp_path / "cdcfeed")
    os.makedirs(feed)
    for i, b in enumerate([b1, b2, b3]):
        b.coalesce(1).write.mode("overwrite").parquet(f"{feed}/f{i}.parquet")
    idx = str(tmp_path / "tix_cdc")
    stream = (
        spark.readStream.schema("doc_id long, text string, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed + "/*.parquet")
    )
    q_ = _start_ingest(sp, stream, idx, op_col="op")
    q_.processAllAvailable()
    q_.stop()

    # net final table: base minus %7 deletes, with %5 updates applied
    # (doc 1 carries its b3 re-update — latest wins), plus 60-69
    upd5 = {r.doc_id for r in base.where(F.col("doc_id") % 5 == 0).collect()}
    dead = {r.doc_id for r in base.where(F.col("doc_id") % 7 == 0).collect()}
    final = (
        base.where(~F.col("doc_id").isin(sorted(dead | upd5 | {1})))
        .unionByName(b2.drop("op").where(~F.col("doc_id").isin(sorted(dead | {1}))))
        .unionByName(
            base.where(F.col("doc_id") == 1).withColumn(
                "text", F.concat(F.col("text"), F.lit(" twice updated"))
            )
        )
    )
    ref = str(tmp_path / "tix_cdc_ref")
    retrieval.build_text_index(final, ref)
    got = _rows(retrieval.bm25_topk_from_index(spark, idx, TERMS, k=10**6))
    want = _rows(retrieval.bm25_topk_from_index(spark, ref, TERMS, k=10**6))
    assert got == want and got
    gp = _rows(retrieval.phrase_match_from_index(spark, idx, ["updated", "spark"]))
    wp = _rows(retrieval.phrase_match_from_index(spark, ref, ["updated", "spark"]))
    assert gp == wp and gp
    docs.unpersist()


def test_cdc_sink_seq_col_latest_wins_and_pure_delete_batch(
    spark, sf_dir, tmp_path
):
    """Multi-op-per-key micro-batches: with seq_col, only the
    highest-sequence row per doc acts — a c+u pair must NOT merge both
    texts' postings, a d-then-c must keep the re-created doc — and a
    pure-delete batch must not crash the sink."""
    import os

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
        pipeline as sp,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = _without_near_dups(docs.where(F.col("doc_id") < 40))
    b1 = base.select("doc_id", "text", F.lit("c").alias("op"), F.lit(1).alias("seq"))
    # b2: doc 2 gets c-then-u (u wins), doc 3 gets d-then-c (c wins)
    b2 = spark.createDataFrame(
        [
            (2, "first version of two", "u", 2),
            (2, "second version spark vector window", "u", 3),
            (3, "", "d", 2),
            (3, "recreated three spark window", "c", 3),
        ],
        "doc_id long, text string, op string, seq int",
    )
    # b3: pure deletes
    b3 = spark.createDataFrame(
        [(5, "", "d", 4), (7, "", "d", 4)], "doc_id long, text string, op string, seq int"
    )
    feed = str(tmp_path / "seqfeed")
    os.makedirs(feed)
    for i, b in enumerate([b1, b2, b3]):
        b.coalesce(1).write.mode("overwrite").parquet(f"{feed}/f{i}.parquet")
    idx = str(tmp_path / "tix_seq")
    stream = (
        spark.readStream.schema("doc_id long, text string, op string, seq int")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed + "/*.parquet")
    )
    q_ = _start_ingest(sp, stream, idx, op_col="op", seq_col="seq")
    q_.processAllAvailable()
    q_.stop()

    final = (
        base.where(~F.col("doc_id").isin([2, 3, 5, 7]))
        .unionByName(
            spark.createDataFrame(
                [
                    (2, "second version spark vector window"),
                    (3, "recreated three spark window"),
                ],
                "doc_id long, text string",
            )
        )
    )
    ref = str(tmp_path / "tix_seq_ref")
    retrieval.build_text_index(final, ref)
    got = _rows(retrieval.bm25_topk_from_index(spark, idx, TERMS, k=10**6))
    want = _rows(retrieval.bm25_topk_from_index(spark, ref, TERMS, k=10**6))
    assert got == want and got

    # without seq_col, an ambiguous multi-op batch fails loudly
    idx2 = str(tmp_path / "tix_noseq")
    stream2 = (
        spark.readStream.schema("doc_id long, text string, op string, seq int")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed + "/*.parquet")
    )
    q2 = _start_ingest(sp, stream2, idx2, op_col="op")
    with pytest.raises(Exception, match="seq_col"):
        q2.processAllAvailable()
    q2.stop()


def test_upsert_replayed_epoch_is_full_noop(spark, sf_dir, tmp_path):
    """Crash-before-marker replay of an upsert epoch: the epoch stamp
    must gate the DELETE too — guarding only the append would let the
    replayed delete tombstone the rows the first run appended."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "tix_replay")
    retrieval.build_text_index(docs.where(F.col("doc_id") < 50), idx, buckets=16)
    batch = docs.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 80))
    retrieval.upsert_text_index(spark, idx, batch, epoch=5)
    want = _rows(retrieval.bm25_topk_from_index(spark, idx, TERMS, k=10**6))
    retrieval.upsert_text_index(spark, idx, batch, epoch=5)  # the replay
    got = _rows(retrieval.bm25_topk_from_index(spark, idx, TERMS, k=10**6))
    assert got == want
    batch_hits = {d for d, _ in got} & {r.doc_id for r in batch.collect()}
    assert batch_hits, "replay deleted the appended batch"


def test_delete_everything_returns_empty_not_error(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(40)
    idx = str(tmp_path / "tix_all")
    retrieval.build_text_index(docs, idx, buckets=8)
    retrieval.delete_from_text_index(spark, idx, docs.select("doc_id"))
    assert retrieval.bm25_topk_from_index(spark, idx, TERMS, k=10).count() == 0
    assert retrieval.phrase_match_from_index(spark, idx, ["data", "scan"]).count() == 0


def test_compact_crash_between_swaps_then_retry(spark, sf_dir, tmp_path, monkeypatch):
    """Injected crash after the postings swap but before the lengths
    swap: tombstone liveness keys off BOTH trees, so the retry must
    still purge the victims' dl rows and land exactly the
    rebuild-without-victims stats."""
    import pytest as _pytest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "tix_crash")
    retrieval.build_text_index(docs, idx, buckets=16)
    victims = [r.doc_id for r in docs.where(F.col("doc_id") % 6 == 0).collect()]
    retrieval.delete_from_text_index(spark, idx, victims)

    orig = retrieval._swap_tree
    calls = {"n": 0}

    def flaky(stage, target):
        orig(stage, target)
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash after postings swap")

    monkeypatch.setattr(retrieval, "_swap_tree", flaky)
    with _pytest.raises(RuntimeError, match="injected"):
        retrieval.compact_text_index(spark, idx)
    monkeypatch.setattr(retrieval, "_swap_tree", orig)

    # mid-crash state must still answer correctly (victims invisible)
    mid = _rows(retrieval.bm25_topk_from_index(spark, idx, TERMS, k=10**6))
    assert not {d for d, _ in mid} & set(victims)

    retrieval.compact_text_index(spark, idx)  # the retry
    remaining = docs.where(~F.col("doc_id").isin(victims))
    ref = str(tmp_path / "tix_crash_ref")
    retrieval.build_text_index(remaining, ref, buckets=16)
    got = _rows(retrieval.bm25_topk_from_index(spark, idx, TERMS, k=10**6))
    want = _rows(retrieval.bm25_topk_from_index(spark, ref, TERMS, k=10**6))
    assert got == want and got
    mi, mr = (
        retrieval.read_text_index_manifest(idx),
        retrieval.read_text_index_manifest(ref),
    )
    assert (mi["n_docs"], mi["sum_dl"]) == (mr["n_docs"], mr["sum_dl"])
    lens_left = (
        spark.read.parquet(f"{idx}/lengths").where(F.col("doc_id").isin(victims)).count()
    )
    assert lens_left == 0


def test_stale_tombstone_cannot_resurrect_against_new_batch(
    spark, sf_dir, tmp_path
):
    """Compaction crash before the tombstone rmtree leaves the table
    on disk; a later self-allocated update batch must pick an id NO
    surviving tombstone references — otherwise the re-added doc's
    rows would be anti-joined away."""
    import shutil

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "tix_res")
    retrieval.build_text_index(docs, idx, buckets=16)
    victim = 0
    retrieval.delete_from_text_index(spark, idx, [victim])
    # simulate crash-before-rmtree: preserve the tombstone table
    shutil.copytree(f"{idx}/tombstones", str(tmp_path / "tomb_copy"))
    retrieval.compact_text_index(spark, idx)
    shutil.copytree(str(tmp_path / "tomb_copy"), f"{idx}/tombstones")

    # re-add the victim via a self-allocated (epoch=None) batch;
    # the claim is presence in the tombstone-visible doc set
    retrieval.update_text_index(docs.where(F.col("doc_id") == victim), idx)
    dlen = spark.read.parquet(f"{idx}/lengths")
    tomb = retrieval._read_live_tombstones(spark, idx)
    readded = dlen.where(F.col("doc_id") == victim)
    kill = (
        readded.join(
            F.broadcast(tomb.select("doc_id", "batch")), ["doc_id", "batch"], "left_semi"
        ).count()
        if tomb is not None
        else 0
    )
    assert readded.count() == 1 and kill == 0, (
        "stale tombstone resurrected against the re-added batch"
    )


def test_phrase_match_randomized_against_python_reference(spark, tmp_path):
    """Adversarial sweep of the anchor algebra: 60 docs over a
    4-letter alphabet (maximal term repetition and overlap), one
    index, 12 random phrases of length 1-4 — every result must equal
    a brute-force Python scan, including occurrence counts."""
    import random

    rng = random.Random(1234)
    alpha = ["a", "b", "c", "d"]
    docs_py = {
        i: [rng.choice(alpha) for _ in range(rng.randint(0, 30))] for i in range(60)
    }
    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs_py.items()], "doc_id long, text string"
    )
    idx = str(tmp_path / "tix_rand")
    retrieval.build_text_index(docs, idx, buckets=8)

    def py_count(toks, phrase):
        n = 0
        for p in range(len(toks) - len(phrase) + 1):
            if toks[p:p + len(phrase)] == phrase:
                n += 1
        return n

    for _ in range(12):
        phrase = [rng.choice(alpha) for _ in range(rng.randint(1, 4))]
        got = {
            r.doc_id: r.n_occurrences
            for r in retrieval.phrase_match_from_index(spark, idx, phrase).collect()
        }
        want = {
            i: c for i, t in docs_py.items() if (c := py_count(t, phrase)) > 0
        }
        assert got == want, (phrase, got, want)


def test_hybrid_topk_from_indexes_equals_componentwise_fusion(
    spark, sf_dir, tmp_path
):
    """The stored-artifact hybrid path must equal fusing the two
    index-backed lists computed independently, and its plan must be
    fully index-fed: no tokenization, no KMeans, postings pruned to
    the query term buckets."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
        ivf_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    tix = str(tmp_path / "tix")
    vix = str(tmp_path / "vix")
    retrieval.build_text_index(docs, tix, buckets=16)
    ivf_index.build_ivf_index(emb, vix, n_centroids=8, seed=7)

    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    got = retrieval.hybrid_topk_from_indexes(
        spark, tix, vix, TERMS, qvec, k=20, k_each=10, n_probe=4
    )

    lex = retrieval.bm25_topk_from_index(spark, tix, TERMS, k=10)
    queries = spark.createDataFrame(
        [(-1, [float(x) for x in qvec])], "query_id long, query_vec array<double>"
    )
    sem = ivf_index.ivf_index_topk(spark, queries, vix, k=10, n_probe=4).select(
        F.col("neighbor_id").alias("doc_id"), "cos_sim"
    )
    want = retrieval.rrf_fuse(lex, sem, k=20)
    assert _rows(got) == _rows(want) and _rows(got)

    plan = plan_string(got)
    assert "explode" not in plan.lower()
    assert "tbucket" in plan


def test_hybrid_use_pq_with_full_rerank_equals_float_path(spark, sf_dir, tmp_path):
    """The memory-bound hybrid configuration (semantic leg through
    IVF-PQ/ADC) must equal the float-index hybrid when the rerank
    depth covers every candidate — PQ changes scan bytes, not the
    achievable answer, and that guarantee must survive the fusion."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
        ivf_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    tix, vix = str(tmp_path / "tix"), str(tmp_path / "vix")
    retrieval.build_text_index(docs, tix, buckets=16)
    ivf_index.build_ivf_index(emb, vix, n_centroids=8, seed=7, pq_m=8, pq_ks=16)
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    got = _rows(
        retrieval.hybrid_topk_from_indexes(
            spark, tix, vix, TERMS, qvec, k=20, use_pq=True, pq_rerank=10**6
        )
    )
    want = _rows(
        retrieval.hybrid_topk_from_indexes(spark, tix, vix, TERMS, qvec, k=20)
    )
    assert got == want and got


def test_batch_hybrid_equals_per_query_loop(spark, sf_dir, tmp_path):
    """One job for the whole query set must return, per query, exactly
    what the one-query serving call returns — for BOTH legs and the
    fusion: different term lists, different vectors, one query whose
    terms miss the corpus entirely (semantic-only fusion)."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
        ivf_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    tix, vix = str(tmp_path / "tix"), str(tmp_path / "vix")
    retrieval.build_text_index(docs, tix, buckets=16)
    ivf_index.build_ivf_index(emb, vix, n_centroids=8, seed=7)
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.where(F.col("vec_id").isin([0, 50, 100])).collect()
    }
    qdefs = [
        (-1, ["spark", "vector", "window"], vecs[0]),
        (-2, ["data", "query"], vecs[50]),
        (-3, ["zzzznotaterm"], vecs[100]),  # lexical leg empty
    ]
    queries = spark.createDataFrame(
        qdefs, "query_id long, terms array<string>, query_vec array<double>"
    )
    batch = retrieval.hybrid_topk_batch_from_indexes(
        spark, tix, vix, queries, k=15, k_each=10, n_probe=3
    )
    got = {
        qid: sorted((r.doc_id, r.rrf) for r in batch.where(F.col("query_id") == qid).collect())
        for qid, _, _ in qdefs
    }
    for qid, terms, vec in qdefs:
        want = sorted(
            (r.doc_id, r.rrf)
            for r in retrieval.hybrid_topk_from_indexes(
                spark, tix, vix, terms, vec, k=15, k_each=10, n_probe=3
            ).collect()
        )
        assert got[qid] == want and want, qid

    # batch lexical leg alone: per-query identity incl. require_all
    blex = retrieval.bm25_topk_batch_from_index(
        spark, tix, queries.select("query_id", "terms").where(F.col("query_id") != -3),
        k=10, require_all=True,
    )
    for qid, terms, _ in qdefs[:2]:
        want = sorted(
            (r.doc_id, r.bm25)
            for r in retrieval.bm25_topk_from_index(
                spark, tix, terms, k=10, require_all=True
            ).collect()
        )
        gotl = sorted(
            (r.doc_id, r.bm25)
            for r in blex.where(F.col("query_id") == qid).collect()
        )
        assert gotl == want, qid


def test_hybrid_retrieval_rrf_over_bm25_and_ann(spark, sf_dir):
    """End-to-end hybrid retrieval: the BM25 lexical list and an
    ANN semantic list (brute-force cosine for one query vector,
    vec_id doubling as doc_id) fuse by RRF exactly as the
    independently recomputed 1/(60+rank) sums say, and any doc
    present in both lists outranks a doc holding the same single-list
    rank in only one."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
        similarity,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    lex = retrieval.bm25_topk(docs, TERMS, k=10)
    one_q = similarity.default_queries(emb).limit(1)
    sem = (
        similarity.brute_force_topk(emb, one_q, k=10)
        .select(F.col("neighbor_id").alias("doc_id"), "cos_sim")
    )
    fused = retrieval.rrf_fuse(lex, sem, k=20).collect()

    lrank = {
        r["doc_id"]: i + 1
        for i, r in enumerate(
            sorted(lex.collect(), key=lambda r: (-r["bm25"], r["doc_id"]))
        )
    }
    srank = {
        r["doc_id"]: i + 1
        for i, r in enumerate(
            sorted(sem.collect(), key=lambda r: (-r["cos_sim"], r["doc_id"]))
        )
    }
    exp = {}
    for d in set(lrank) | set(srank):
        exp[d] = round(
            (1 / (60 + lrank[d]) if d in lrank else 0)
            + (1 / (60 + srank[d]) if d in srank else 0),
            6,
        )
    want = sorted(exp.items(), key=lambda t: (-t[1], t[0]))[:20]
    assert [(r["doc_id"], r["rrf"]) for r in fused] == want and fused


def test_upsert_crash_before_manifest_then_replay(spark, sf_dir, tmp_path, monkeypatch):
    """The OTHER upsert crash point: batch dir written, manifest write
    crashed.  The replayed epoch must not tombstone the crashed
    attempt's own batch rows — updated docs must surface in their new
    version, equal to a clean upsert."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") < 50)
    newv = docs.where((F.col("doc_id") >= 20) & (F.col("doc_id") < 40)).withColumn(
        "text", F.concat(F.lit("updated spark vector window "), F.col("text"))
    )

    idx = str(tmp_path / "tix_crash2")
    retrieval.build_text_index(base, idx, buckets=16)
    orig = retrieval._write_tix_manifest
    calls = {"n": 0}

    def flaky(d, m):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash before manifest")
        orig(d, m)

    monkeypatch.setattr(retrieval, "_write_tix_manifest", flaky)
    with pytest.raises(RuntimeError, match="injected"):
        retrieval.upsert_text_index(spark, idx, newv, epoch=7)
    monkeypatch.setattr(retrieval, "_write_tix_manifest", orig)
    retrieval.upsert_text_index(spark, idx, newv, epoch=7)  # the replay

    twin = str(tmp_path / "tix_crash2_twin")
    retrieval.build_text_index(base, twin, buckets=16)
    retrieval.upsert_text_index(spark, twin, newv, epoch=7)
    got = _rows(retrieval.bm25_topk_from_index(spark, idx, TERMS, k=10**6))
    want = _rows(retrieval.bm25_topk_from_index(spark, twin, TERMS, k=10**6))
    assert got == want and got
    # the updated docs are visible in their NEW version
    upd = _rows(retrieval.bm25_topk_from_index(spark, idx, ["updated"], k=100))
    assert {d for d, _ in upd} == set(range(20, 40))


def test_delete_inside_half_compacted_window_no_zombie(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A delete issued between compaction's two tree swaps must not
    stamp victims against the stale lengths batch while the postings
    already moved — the delete read-repairs (finishes the compaction)
    so the victim dies everywhere, including phrase search."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "tix_zombie")
    retrieval.build_text_index(docs, idx, buckets=16)
    # an earlier delete so the compaction has victims to purge
    retrieval.delete_from_text_index(spark, idx, [3])

    orig = retrieval._swap_tree
    calls = {"n": 0}

    def flaky(stage, target):
        orig(stage, target)
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash after postings swap")

    monkeypatch.setattr(retrieval, "_swap_tree", flaky)
    with pytest.raises(RuntimeError, match="injected"):
        retrieval.compact_text_index(spark, idx)
    monkeypatch.setattr(retrieval, "_swap_tree", orig)

    # the window: postings live under the compacted batch, lengths
    # under the old ones — now delete a different doc
    victim = 12
    first = docs.where(F.col("doc_id") == victim).select("text").first()["text"]
    phrase = [w for w in first.lower().split()[:2]]
    retrieval.delete_from_text_index(spark, idx, [victim])

    hits = {
        r["doc_id"]
        for r in retrieval.phrase_match_from_index(spark, idx, phrase).collect()
    }
    assert victim not in hits, "zombie postings survived the windowed delete"

    retrieval.compact_text_index(spark, idx)
    remaining = docs.where(~F.col("doc_id").isin([3, victim]))
    ref = str(tmp_path / "tix_zombie_ref")
    retrieval.build_text_index(remaining, ref, buckets=16)
    got = _rows(retrieval.bm25_topk_from_index(spark, idx, TERMS, k=10**6))
    want = _rows(retrieval.bm25_topk_from_index(spark, ref, TERMS, k=10**6))
    assert got == want and got
    assert (
        spark.read.parquet(f"{idx}/postings")
        .where(F.col("doc_id").isin([3, victim]))
        .count()
        == 0
    )


def test_cdc_sink_rejects_tied_sequences(spark, tmp_path):
    """Two ops for one doc tied on seq_col are as ambiguous as no
    sequence at all — the sink must refuse, not resolve arbitrarily."""
    import os

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
        pipeline as sp,
    )

    b = spark.createDataFrame(
        [(7, "version one text here", "u", 4), (7, "version two text here", "u", 4)],
        "doc_id long, text string, op string, seq int",
    )
    feed = str(tmp_path / "tiefeed")
    os.makedirs(feed)
    b.coalesce(1).write.mode("overwrite").parquet(f"{feed}/f0.parquet")
    stream = (
        spark.readStream.schema("doc_id long, text string, op string, seq int")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed + "/*.parquet")
    )
    q = _start_ingest(sp, stream, str(tmp_path / "tix_tie"), op_col="op", seq_col="seq")
    with pytest.raises(Exception, match="TIED"):
        q.processAllAvailable()
    q.stop()


def test_partial_update_crash_does_not_trigger_bake_in(spark, sf_dir, tmp_path, monkeypatch):
    """The OTHER tree disagreement: an update crashed between its
    postings write and its lengths write leaves a postings-only batch.
    A delete must NOT read-repair (compacting would bake the partial
    batch in); the epoch replay overwrites it deterministically and
    the final index equals the clean twin."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") < 50)
    batch = docs.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 70))
    idx = str(tmp_path / "tix_partial")
    retrieval.build_text_index(base, idx, buckets=16)

    orig = retrieval._write_tix_batch

    def flaky(documents, post, lens, batch_id, buckets):
        sp_ = documents.sparkSession
        from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators.retrieval import (
            _postings,
        )

        (
            _postings(documents, buckets)
            .select("doc_id", "term", "tf", "positions", "tbucket")
            .write.mode("overwrite")
            .partitionBy("tbucket")
            .parquet(f"{post}/batch={batch_id}")
        )
        raise RuntimeError("injected crash before lengths write")

    monkeypatch.setattr(retrieval, "_write_tix_batch", flaky)
    with pytest.raises(RuntimeError, match="injected"):
        retrieval.update_text_index(batch, idx, epoch=3)
    monkeypatch.setattr(retrieval, "_write_tix_batch", orig)

    # a delete in this state must not promote the partial batch
    retrieval.delete_from_text_index(spark, idx, [5])
    posts_batches = {
        int(d.split("=", 1)[1])
        for d in __import__("os").listdir(f"{idx}/postings")
        if d.startswith("batch=")
    }
    assert posts_batches == {-1, 3}  # build batch intact, no compaction ran

    retrieval.update_text_index(batch, idx, epoch=3)  # the replay
    twin = str(tmp_path / "tix_partial_twin")
    retrieval.build_text_index(base.where(F.col("doc_id") != 5), twin, buckets=16)
    retrieval.update_text_index(batch, twin, epoch=3)
    got = _rows(retrieval.bm25_topk_from_index(spark, idx, TERMS, k=10**6))
    want = _rows(retrieval.bm25_topk_from_index(spark, twin, TERMS, k=10**6))
    assert got == want and got
