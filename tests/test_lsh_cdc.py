"""CDC-maintained MinHash-LSH index — batch lineage for the LAST of
the four stored artifacts to gain it: a 3-batch Debezium-style
document history (create / update / delete / re-create, latest-wins
within a batch via seq) folded through
``start_document_ingest_sink(op_col=...)`` must dedup EXACTLY like a
fresh index built on the net final document table; both operator-level
crash windows of ``upsert_minhash_index`` must replay to the same
state; the pre-lineage flat layout must refuse loudly and migrate by
PURE RENAMES (never a data rewrite); diff-refresh must land changed
docs WITHOUT the full-index compaction the flat layout needed; and the
round-7 ADVICE adoption guard must protect offline-built indexes from
epoch clobber."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
    dedup,
    lsh_index,
)
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
    pipeline as sp,
)
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.tables import load_table


pytestmark = pytest.mark.slow  # multi-epoch lifecycle walk; fast tier keeps the
# single-epoch/oracle coverage of this family (round 12, VERDICT r11 #3)

DOC_SCHEMA = "doc_id long, text string, lang string, source string"
CDC_SCHEMA = DOC_SCHEMA + ", op string, seq long"


def _lone_texts(spark, sf_dir, need: int) -> list[str]:
    """Texts of fixture docs with NO ≥0.5-Jaccard partner in the
    slice — pairwise non-dup by construction, so every dedup verdict
    in these tests is decided ONLY by the copies we plant."""
    docs = load_table(spark, sf_dir, "documents").limit(300)
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    paired = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
    rows = (
        docs.where(~F.col("doc_id").isin(list(paired) or [-1]))
        .orderBy("doc_id")
        .limit(need)
        .collect()
    )
    assert len(rows) >= need, "fixture too dup-heavy for this test"
    return [r.text for r in rows]


def _docs_df(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src") for i, t in rows], DOC_SCHEMA
    )


def _cdc(rows, op, seq):
    return [(i, t, "en", "src", op, seq) for i, t in rows]


def _live_band_set(spark, index_dir):
    return {
        (r.doc_id, r.band_id, r.band_key)
        for r in lsh_index._live_bands(spark, index_dir).collect()
    }


def _live_shingle_set(spark, index_dir):
    return {
        (r.doc_id, r.shingle)
        for r in lsh_index._live_shingles(spark, index_dir).collect()
    }


def test_cdc_maintained_minhash_index_equals_fresh_build(spark, sf_dir, tmp_path):
    texts = _lone_texts(spark, sf_dir, 56)

    base = [(i, texts[i - 1]) for i in range(1, 41)]
    # batch 1: update 1..4, delete 31..34, insert 41..48, u-then-d on
    # 35 (latest-wins via seq resolves to delete)
    upd1 = [(i, texts[39 + i]) for i in range(1, 5)]
    ins1 = [(i, texts[i + 3]) for i in range(41, 49)]
    b1 = (
        _cdc(upd1, "u", 1)
        + _cdc([(i, texts[i - 1]) for i in range(31, 35)], "d", 1)
        + _cdc(ins1, "c", 1)
        + _cdc([(35, texts[52])], "u", 1)
        + _cdc([(35, texts[34])], "d", 2)
    )
    # batch 2: re-create deleted 33, update insert 43, delete 21..23,
    # plant a copy of LIVE doc 5 (id 49 — must drop: 5 is precedent)
    # and a copy of DELETED doc 31's text (id 50 — must SURVIVE: the
    # tombstone lifted 31's precedence)
    b2 = (
        _cdc([(33, texts[53])], "c", 0)
        + _cdc([(43, texts[54])], "u", 0)
        + _cdc([(i, texts[i - 1]) for i in range(21, 24)], "d", 0)
        + _cdc([(49, texts[4]), (50, texts[30])], "c", 0)
    )

    feed = str(tmp_path / "cdcfeed")
    os.makedirs(feed)
    b0 = _cdc(base, "c", 0)
    for i, b in enumerate((b0, b1, b2)):
        spark.createDataFrame(b, CDC_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{feed}/f{i}.parquet")
    corpus, idx = str(tmp_path / "corpus"), str(tmp_path / "lidx_cdc")
    stream = (
        spark.readStream.schema(CDC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed + "/*.parquet")
    )
    q = sp.start_document_ingest_sink(
        stream, corpus, idx, str(tmp_path / "tix"), str(tmp_path / "ivf"),
        str(tmp_path / "ck"), op_col="op", seq_col="seq", compact_every=None,
    )
    q.processAllAvailable()
    q.stop()

    # the net final source table: latest surviving version per doc_id
    final = {i: t for i, t in base}
    for i, t in upd1:
        final[i] = t
    for i in (31, 32, 33, 34, 35, 21, 22, 23):
        final.pop(i)
    for i, t in ins1:
        final[i] = t
    final[33] = texts[53]
    final[43] = texts[54]
    final[49] = texts[4]
    final[50] = texts[30]
    net = _docs_df(spark, sorted(final.items()))

    # 1) live index artifacts ≡ a fresh build on net (latest version
    # of every surviving id; deleted and superseded versions gone)
    fresh = str(tmp_path / "lidx_fresh")
    lsh_index.build_minhash_index(net, fresh)
    assert _live_band_set(spark, idx) == _live_band_set(spark, fresh)
    assert _live_shingle_set(spark, idx) == _live_shingle_set(spark, fresh)

    # 2) dedup verdicts on a probe batch ≡ the fresh index's
    probe = _docs_df(
        spark,
        [
            (900_001, final[5]),   # copy of a live doc — must drop
            (900_002, final[41]),
            (900_003, final[33]),  # copy of the re-created content
            (900_004, texts[20]),  # deleted 21's text — must survive
            (900_005, texts[34]),  # u-then-d 35's text — must survive
            (900_006, texts[55]),  # genuinely fresh
        ],
    )
    got = {
        r.doc_id
        for r in lsh_index.dedup_against_index(spark, probe, idx).collect()
    }
    want = {
        r.doc_id
        for r in lsh_index.dedup_against_index(spark, probe, fresh).collect()
    }
    assert got == want == {900_004, 900_005, 900_006}

    # 3) corpus follows the source through the dedup gauntlet: every
    # live id except the planted duplicate 49, latest text per id
    rows = {r.doc_id: r.text for r in spark.read.parquet(corpus).collect()}
    assert set(rows) == set(final) - {49}
    for i in (1, 2, 3, 4, 33, 43, 50):
        assert rows[i] == final[i]

    # crash window A: a fully-committed epoch replays as a no-op (the
    # manifest's last_epoch stamp is checked before the delete)
    before_b, before_s = _live_band_set(spark, idx), _live_shingle_set(spark, idx)
    ups1 = spark.createDataFrame(
        [t for t in b1 if t[-2] != "d"], CDC_SCHEMA
    ).select("doc_id", "text", "lang", "source")
    lsh_index.upsert_minhash_index(spark, idx, ups1, epoch=1)
    assert _live_band_set(spark, idx) == before_b
    assert _live_shingle_set(spark, idx) == before_s


def test_upsert_minhash_crash_between_delete_and_update(spark, sf_dir, tmp_path):
    """Crash window B: tombstones committed but the batch dirs/manifest
    not — the replayed upsert must restore the same state
    (exclude_batch shields the epoch's own rows from its replayed
    delete)."""
    texts = _lone_texts(spark, sf_dir, 40)
    b0 = _docs_df(spark, [(i, texts[i]) for i in range(30)])
    # re-ingests of ids 0..9 with new content
    reing = _docs_df(spark, [(i, texts[30 + i]) for i in range(10)])

    crashed, clean = str(tmp_path / "cw"), str(tmp_path / "clean")
    for d in (crashed, clean):
        lsh_index.build_minhash_index(b0, d)
    # crashed flow: the delete half lands, then the process dies; the
    # replay runs the full upsert
    lsh_index.delete_from_minhash_index(
        spark, crashed, reing.select("doc_id"), exclude_batch=1
    )
    lsh_index.upsert_minhash_index(spark, crashed, reing, epoch=1)
    # clean flow: one uncrashed upsert
    lsh_index.upsert_minhash_index(spark, clean, reing, epoch=1)
    assert _live_band_set(spark, crashed) == _live_band_set(spark, clean)
    assert _live_shingle_set(spark, crashed) == _live_shingle_set(spark, clean)
    assert lsh_index._lsh_manifest(crashed)["last_epoch"] == 1
    # the re-ingested ids answer with exactly their NEW content: a copy
    # of the old content survives, a copy of the new content drops
    probe = _docs_df(spark, [(900_000, texts[0]), (900_001, texts[30])])
    kept = {
        r.doc_id
        for r in lsh_index.dedup_against_index(spark, probe, crashed).collect()
    }
    assert kept == {900_000}


def test_legacy_flat_layout_refuses_and_migrates_by_rename(spark, sf_dir, tmp_path):
    """A pre-lineage index (bands/band_id=* at the root, flat shingle
    files, id-scoped tombstones) refuses every reader with the
    migration pointer; ``migrate_minhash_index_layout`` moves it under
    batch=-1 by PURE RENAMES (the parquet files are the SAME inodes —
    never a data rewrite, because re-shingling a 100 TB corpus would
    defeat the artifact) and preserves every verdict including the
    tombstones'; a second migrate call no-ops."""
    texts = _lone_texts(spark, sf_dir, 30)
    docs = _docs_df(spark, [(i, texts[i]) for i in range(20)])
    idx = str(tmp_path / "legacy")
    # write the pre-lineage layout exactly as the old module did
    lsh_index.minhash_band_entries(docs).write.mode("overwrite").partitionBy(
        "band_id"
    ).parquet(f"{idx}/bands")
    lsh_index._shingle_rows(docs, 3).write.mode("overwrite").parquet(
        f"{idx}/shingles"
    )
    spark.createDataFrame([(3,), (4,)], "doc_id long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{idx}/tombstones")

    def _inodes(root):
        out = {}
        for r, _d, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(r, f)
                    out[f] = os.stat(p).st_ino
        return out

    probe = _docs_df(
        spark,
        [(900_003, texts[3]), (900_005, texts[5]), (900_009, texts[25])],
    )
    with pytest.raises(ValueError, match="pre-lineage"):
        lsh_index.dedup_against_index(spark, probe, idx)
    with pytest.raises(ValueError, match="pre-lineage"):
        lsh_index.update_minhash_index(docs, idx)

    before = _inodes(idx + "/bands") | _inodes(idx + "/shingles")
    lsh_index.migrate_minhash_index_layout(spark, idx)
    after = _inodes(idx + "/bands") | _inodes(idx + "/shingles")
    assert after == before  # same parquet inodes — renames, not rewrites
    assert lsh_index.live_batch_ids(idx) == [-1]

    kept = {
        r.doc_id for r in lsh_index.dedup_against_index(spark, probe, idx).collect()
    }
    # tombstoned 3 lifted its precedence; live 5 still drops its copy
    assert kept == {900_003, 900_009}
    # ≡ a fresh batched build with the same takedown applied
    fresh = str(tmp_path / "fresh")
    lsh_index.build_minhash_index(docs, fresh)
    lsh_index.delete_from_minhash_index(spark, fresh, [3, 4])
    want = {
        r.doc_id
        for r in lsh_index.dedup_against_index(spark, probe, fresh).collect()
    }
    assert kept == want

    lsh_index.migrate_minhash_index_layout(spark, idx)  # idempotent
    assert _inodes(idx + "/bands") | _inodes(idx + "/shingles") == after

    # post-migration lifecycle: a re-add of tombstoned id 3 lands in a
    # NEW batch its (doc_id, -1) tombstone does not reference — live
    # immediately, no compaction needed (the flat layout blocked this)
    lsh_index.update_minhash_index(
        _docs_df(spark, [(3, texts[26])]), idx
    )
    kept2 = {
        r.doc_id
        for r in lsh_index.dedup_against_index(
            spark, _docs_df(spark, [(900_013, texts[26])]), idx
        ).collect()
    }
    assert kept2 == set()


def test_refresh_from_diff_needs_no_compaction(spark, sf_dir, tmp_path):
    """Changed docs re-enter through batch-scoped tombstones: the
    build-time batch=-1 tree must survive a refresh UNTOUCHED (the
    flat layout rewrote the whole index to let a changed doc back in),
    and the refreshed index answers exactly like a fresh build."""
    texts = _lone_texts(spark, sf_dir, 40)
    old = _docs_df(spark, [(i, texts[i]) for i in range(20)])
    # 0..1 removed, 5 changed, 30..32 added
    new_rows = (
        [(i, texts[i]) for i in range(2, 20) if i != 5]
        + [(5, texts[25])]
        + [(i, texts[i - 4]) for i in range(30, 33)]
    )
    new = _docs_df(spark, sorted(new_rows))

    idx = str(tmp_path / "idx")
    lsh_index.build_minhash_index(old, idx)
    build_dir = f"{idx}/bands/batch=-1"
    before = sorted(os.listdir(build_dir))
    mtime = os.stat(build_dir).st_mtime_ns
    lsh_index.refresh_minhash_index_from_diff(spark, idx, old, new)
    assert sorted(os.listdir(build_dir)) == before
    assert os.stat(build_dir).st_mtime_ns == mtime  # never rewritten
    assert os.path.isdir(f"{idx}/tombstones")  # no compaction ran

    fresh = str(tmp_path / "fresh")
    lsh_index.build_minhash_index(new, fresh)
    probe = _docs_df(
        spark,
        [
            (900_000, texts[0]),   # removed doc's text — survives
            (900_005, texts[25]),  # changed doc's NEW text — drops
            (900_006, texts[5]),   # changed doc's OLD text — survives
            (900_030, texts[26]),  # added doc's text — drops
        ],
    )
    got = {
        r.doc_id for r in lsh_index.dedup_against_index(spark, probe, idx).collect()
    }
    want = {
        r.doc_id
        for r in lsh_index.dedup_against_index(spark, probe, fresh).collect()
    }
    assert got == want == {900_000, 900_006}


def test_corpus_sink_refuses_offline_index_until_compaction(spark, sf_dir, tmp_path):
    """The round-7 ADVICE guard, extended to the document ingest sink: an
    index carrying self-allocated non-negative batch ids would have
    its batch=<epoch> dirs clobbered by the stream — refuse; after
    compaction (reserved negative range) it adopts and folds."""
    texts = _lone_texts(spark, sf_dir, 46)
    b0 = _docs_df(spark, [(i, texts[i]) for i in range(20)])
    b1 = _docs_df(spark, [(100_000 + i, texts[20 + i]) for i in range(10)])
    idx = str(tmp_path / "offline_lidx")
    lsh_index.build_minhash_index(b0, idx)
    lsh_index.update_minhash_index(b1, idx)  # self-allocated batch 0
    assert 0 in lsh_index.live_batch_ids(idx)

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    arriving = _docs_df(
        spark, [(200_000 + i, texts[30 + i]) for i in range(10)]
    )
    arriving.coalesce(1).write.mode("overwrite").parquet(f"{feed}/f0.parquet")
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed + "/*.parquet")
    )
    corpus = str(tmp_path / "corpus")
    q = sp.start_document_ingest_sink(
        stream, corpus, idx, str(tmp_path / "tix"), str(tmp_path / "ivf"),
        str(tmp_path / "ck1"), n_centroids=4,
    )
    with pytest.raises(Exception, match="refusing to stream-fold"):
        q.processAllAvailable()
    q.stop()

    lsh_index.compact_minhash_index(spark, idx)
    assert all(b < 0 for b in lsh_index.live_batch_ids(idx))
    before = _live_band_set(spark, idx)
    stream2 = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed + "/*.parquet")
    )
    q2 = sp.start_document_ingest_sink(
        stream2, corpus, idx, str(tmp_path / "tix"), str(tmp_path / "ivf"),
        str(tmp_path / "ck2"), n_centroids=4,
    )
    q2.processAllAvailable()
    q2.stop()
    assert before < _live_band_set(spark, idx)  # the batch folded in
    assert os.path.isfile(os.path.join(corpus + "_meta", "_ADOPTED_INDEX_MinHash"))


def test_cdc_mode_refuses_live_dsir_fold(spark, tmp_path):
    """The DSIR raw histogram is additive-only — a CDC-maintained
    corpus (updates/deletes) cannot keep it consistent by folding, so
    the combination refuses loudly at sink construction."""
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
    )
    with pytest.raises(ValueError, match="additive"):
        sp.start_document_ingest_sink(
            stream.selectExpr("value as doc_id", "'x' as text", "'c' as op"),
            str(tmp_path / "c"),
            str(tmp_path / "i"),
            str(tmp_path / "tix"),
            str(tmp_path / "ivf"),
            str(tmp_path / "ck"),
            op_col="op",
            dsir_model_dir=str(tmp_path / "m"),
        )


def test_cdc_update_to_contaminated_content_evicts_doc(spark, sf_dir, tmp_path):
    """CDC × decontamination gate: a doc created CLEAN whose update
    re-ingests it with benchmark-contaminated content must leave both
    the corpus and the index — the source now holds content the
    gauntlet rejects, so the stale clean version cannot linger as
    dedup precedent either."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
        decontam,
    )

    texts = _lone_texts(spark, sf_dir, 30)
    bench = _docs_df(spark, [(900_000 + i, texts[20 + i]) for i in range(5)])
    bidx = str(tmp_path / "bench_idx")
    lsh_index.build_minhash_index(bench, bidx)

    b0 = _cdc([(i, texts[i]) for i in range(1, 11)], "c", 0)
    # doc 3 updates to an exact copy of benchmark text → must evict;
    # doc 4 updates to clean fresh text → must survive with new text
    b1 = _cdc([(3, texts[20]), (4, texts[15])], "u", 1)

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    for i, b in enumerate((b0, b1)):
        spark.createDataFrame(b, CDC_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{feed}/f{i}.parquet")
    corpus, idx = str(tmp_path / "corpus"), str(tmp_path / "idx")
    stream = (
        spark.readStream.schema(CDC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed + "/*.parquet")
    )
    q = sp.start_document_ingest_sink(
        stream, corpus, idx, str(tmp_path / "tix"), str(tmp_path / "ivf"),
        str(tmp_path / "ck"), benchmark_index_dir=bidx, op_col="op",
        seq_col="seq", compact_every=None, n_centroids=4,
    )
    q.processAllAvailable()
    q.stop()

    rows = {r.doc_id: r.text for r in spark.read.parquet(corpus).collect()}
    assert 3 not in rows  # evicted: its new content is benchmark material
    assert rows[4] == texts[15]  # clean update lands with the new text
    assert set(rows) == {1, 2, 4, 5, 6, 7, 8, 9, 10}
    # and doc 3's STALE clean version is no dedup precedent anymore: a
    # fresh copy of its original text survives the index
    probe = _docs_df(spark, [(900_100, texts[3]), (900_101, texts[5])])
    kept = {
        r.doc_id
        for r in lsh_index.dedup_against_index(spark, probe, idx).collect()
    }
    assert kept == {900_100}  # doc 5 still lives → its copy drops
