"""CDC-maintained perceptual-hash index (round-8 verdict item #2) —
the media twin of ``test_ivf_index.test_cdc_maintained_ivf_index_
equals_fresh_build``: a 3-batch Debezium-style asset history
(create / re-encode / delete / re-create, latest-wins within a batch
via seq) folded through ``start_media_ingest_sink(op_col=...)`` must
dedup EXACTLY like a fresh index built on the net final asset table,
keep its asset IVF index equal to the corpus's nonzero embeddings
after every epoch, and replay both crash windows — at the sink and in
``upsert_phash_index`` — to the same state.  Plus the round-7 ADVICE
guard: a stream must refuse to fold into an index it didn't build
when the index carries non-negative batch ids its epochs would
clobber (one compaction rewrites them into the reserved negative range
and the stream then adopts it)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
    asset_embed,
    ivf_index,
    phash_index,
)
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
    pipeline as sp,
)

from tests.test_phash_index import _assets

ASSET_COLS = [
    "asset_id", "modality", "payload", "mime",
    "width", "height", "sample_rate", "n_frames",
]
ASSET_SCHEMA = (
    "asset_id long, modality string, payload binary, mime string, "
    "width long, height long, sample_rate long, n_frames long"
)
CDC_SCHEMA = ASSET_SCHEMA + ", op string, seq long"


def _content(row):
    """The non-id columns of an asset row (a 're-encode' of asset X =
    X's id with another row's content)."""
    return tuple(row[c] for c in ASSET_COLS[1:])


def _cdc_rows(rows, op, seq, reencode_as=None):
    out = []
    for i, r in enumerate(rows):
        content = _content(r) if reencode_as is None else _content(reencode_as[i])
        out.append((r["asset_id"], *content, op, seq))
    return out


def _live_fp_set(spark, index_dir):
    return {
        (r.asset_id, r.modality, r.phash)
        for r in phash_index._live_fingerprints(spark, index_dir)
        .select("asset_id", "modality", "phash")
        .collect()
    }


def _fp_of(spark, assets_df):
    return {
        (r.asset_id, r.modality, r.phash)
        for r in asset_embed.perceptual_hashes(assets_df).collect()
    }


def test_cdc_maintained_phash_index_equals_fresh_build(spark, sf_dir, tmp_path):
    base = _assets(spark, sf_dir, 0, 50).orderBy("asset_id").collect()
    spare = _assets(spark, sf_dir, 50, 90, id_shift=300_000).orderBy(
        "asset_id"
    ).collect()

    # batch 0: create 50; batch 1: re-encode 6 (new content under the
    # same asset_id), delete 6, insert 10, plus one u-then-d multi-op
    # key resolved by seq (delete wins); batch 2: re-create one
    # deleted id (new content), re-encode one batch-1 insert, delete 3
    upd1, del1, ins1 = base[:6], base[30:36], spare[:10]
    multi = base[40]
    b0 = _cdc_rows(base, "c", 0)
    b1 = (
        _cdc_rows(upd1, "u", 1, reencode_as=spare[10:16])
        + _cdc_rows(del1, "d", 1)
        + _cdc_rows(ins1, "c", 1)
        + _cdc_rows([multi], "u", 1, reencode_as=[spare[16]])
        + _cdc_rows([multi], "d", 2)
    )
    re2, upd2, del2 = del1[2], ins1[3], base[20:23]
    b2 = (
        _cdc_rows([re2], "c", 0, reencode_as=[spare[17]])
        + _cdc_rows([upd2], "u", 0, reencode_as=[spare[18]])
        + _cdc_rows(del2, "d", 0)
    )

    feed = str(tmp_path / "cdcfeed")
    os.makedirs(feed)
    corpus, idx = str(tmp_path / "corpus"), str(tmp_path / "pidx_cdc")
    vidx, ck = str(tmp_path / "aivf_cdc"), str(tmp_path / "ck")

    def run_epoch(i=None, b=None):
        if b is not None:
            spark.createDataFrame(b, CDC_SCHEMA).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{feed}/f{i}.parquet")
        stream = (
            spark.readStream.schema(CDC_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed + "/*.parquet")
        )
        q = sp.start_media_ingest_sink(
            stream, corpus, idx, vidx, ck, op_col="op", seq_col="seq",
            compact_every=None, n_centroids=4,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def last_epoch():
        with open(os.path.join(corpus + "_meta", "_LAST_EPOCH")) as fh:
            return int(fh.read().splitlines()[0])

    def ivf_live_ids():
        return {
            r.vec_id
            for r in ivf_index._live_assignments(spark, vidx).select("vec_id").collect()
        }

    def assert_ivf_mirrors_corpus():
        kept = spark.read.parquet(corpus).select(*ASSET_COLS)
        nonzero = {
            r.vec_id
            for r in asset_embed.embed_assets(kept)
            .where(
                F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + F.abs(x))
                > 0
            )
            .select("vec_id")
            .collect()
        }
        assert ivf_live_ids() == nonzero and nonzero

    run_epoch(0, b0)
    assert last_epoch() == 0
    assert_ivf_mirrors_corpus()

    # crash window B at the sink: epoch 1 dies in its phash fold after
    # its tombstones committed (the IVF leg may have committed too);
    # the restart replays the epoch from the same checkpoint
    real_update = phash_index.update_phash_index

    def crash(*_a, **_k):
        raise RuntimeError("injected crash before the phash fold")

    phash_index.update_phash_index = crash
    try:
        with pytest.raises(Exception, match="injected crash"):
            run_epoch(1, b1)
    finally:
        phash_index.update_phash_index = real_update
    assert last_epoch() == 0
    live_ids = {a for a, _, _ in _live_fp_set(spark, idx)}
    assert not {r["asset_id"] for r in upd1} & live_ids  # tombstoned, not refolded
    run_epoch()
    assert last_epoch() == 1
    assert_ivf_mirrors_corpus()

    run_epoch(2, b2)
    assert last_epoch() == 2
    assert_ivf_mirrors_corpus()

    # the net final table: latest surviving version per asset_id
    final = {r["asset_id"]: _content(r) for r in base}
    for i, r in enumerate(upd1):
        final[r["asset_id"]] = _content(spare[10 + i])
    for r in del1:
        final.pop(r["asset_id"])
    for r in ins1:
        final[r["asset_id"]] = _content(r)
    final.pop(multi["asset_id"])  # u-then-d resolved latest-wins
    final[re2["asset_id"]] = _content(spare[17])
    final[upd2["asset_id"]] = _content(spare[18])
    for r in del2:
        final.pop(r["asset_id"])
    net = spark.createDataFrame(
        [(i, *c) for i, c in final.items()], ASSET_SCHEMA
    )

    # 1) live fingerprints ≡ one fingerprint per net asset, latest
    # encoding (re-encoded rows carry the NEW content's hash; deleted
    # and superseded versions are gone)
    assert _live_fp_set(spark, idx) == _fp_of(spark, net)

    # 2) dedup verdicts on a probe batch ≡ a fresh build on net
    fresh = str(tmp_path / "pidx_fresh")
    phash_index.build_phash_index(net, fresh)
    probe_rows = [
        (i + 900_000, *final[i]) for i in sorted(final)[:8]
    ] + [(r["asset_id"] + 900_000, *_content(r)) for r in spare[20:28]]
    probe = spark.createDataFrame(probe_rows, ASSET_SCHEMA)
    got = {
        r.asset_id
        for r in phash_index.dedup_assets_against_index(spark, probe, idx).collect()
    }
    want = {
        r.asset_id
        for r in phash_index.dedup_assets_against_index(
            spark, probe, fresh
        ).collect()
    }
    assert got == want
    # copies of net assets really die; the probe isn't vacuous
    assert len(got) < len(probe_rows)

    # 3) corpus follows the source: deleted ids gone, every surviving
    # row carries its LATEST content (fingerprint-checked), ids ⊆ net
    corpus_df = spark.read.parquet(corpus)
    corpus_ids = {r.asset_id for r in corpus_df.select("asset_id").collect()}
    assert corpus_ids <= set(final)
    for r in del1 + del2 + [multi]:
        if r["asset_id"] == re2["asset_id"]:
            continue  # deleted in b1 but legitimately RE-CREATED in b2
        assert r["asset_id"] not in corpus_ids
    corpus_fps = _fp_of(spark, corpus_df.select(*ASSET_COLS))
    assert corpus_fps <= _fp_of(spark, net)

    # crash window A at the sink: epoch 2 fully committed, its marker
    # not — roll the marker back and drop the checkpoint's commit, so
    # the restart re-runs epoch 2 through the whole fold; every
    # artifact must come out unchanged
    state = (_live_fp_set(spark, idx), ivf_live_ids(), corpus_fps, corpus_ids)
    with open(os.path.join(corpus + "_meta", "_LAST_EPOCH"), "w") as fh:
        fh.write(f"1\n{os.path.abspath(ck)}")
    for name in ("2", ".2.crc"):
        path = os.path.join(ck, "commits", name)
        if os.path.exists(path):
            os.remove(path)
    run_epoch()
    assert last_epoch() == 2
    corpus_df = spark.read.parquet(corpus)
    assert state == (
        _live_fp_set(spark, idx),
        ivf_live_ids(),
        _fp_of(spark, corpus_df.select(*ASSET_COLS)),
        {r.asset_id for r in corpus_df.select("asset_id").collect()},
    )
    assert_ivf_mirrors_corpus()

    # crash window A in the operator: a fully-committed epoch replays
    # as a no-op (the manifest's last_epoch stamp is checked before the
    # delete)
    before = _live_fp_set(spark, idx)
    ups1 = spark.createDataFrame(
        [t for t in b1 if t[-2] != "d"], CDC_SCHEMA
    ).select(*ASSET_COLS)
    phash_index.upsert_phash_index(spark, idx, ups1, epoch=1)
    assert _live_fp_set(spark, idx) == before


def test_upsert_phash_index_crash_between_delete_and_update(
    spark, sf_dir, tmp_path
):
    """Crash window B: tombstones committed but the batch dir/manifest
    not — the replayed upsert must restore the same state
    (exclude_batch shields the epoch's own rows from its replayed
    delete)."""
    b0 = _assets(spark, sf_dir, 0, 30)
    reenc = _assets(spark, sf_dir, 30, 40).withColumn(
        "asset_id", F.col("asset_id") - 30  # re-encodes of ids 0..9
    )

    crashed, clean = str(tmp_path / "cw"), str(tmp_path / "clean")
    for d in (crashed, clean):
        phash_index.build_phash_index(b0, d)
    # crashed flow: the delete half lands, then the process dies; the
    # replay runs the full upsert
    phash_index.delete_from_phash_index(
        spark, crashed, reenc.select("asset_id"), exclude_batch=1
    )
    phash_index.upsert_phash_index(spark, crashed, reenc, epoch=1)
    # clean flow: one uncrashed upsert
    phash_index.upsert_phash_index(spark, clean, reenc, epoch=1)
    assert _live_fp_set(spark, crashed) == _live_fp_set(spark, clean)
    assert phash_index.read_phash_manifest(crashed)["last_epoch"] == 1
    # the re-encoded ids carry exactly their new fingerprints
    new_fp = _fp_of(spark, reenc)
    live = _live_fp_set(spark, crashed)
    for t in new_fp:
        assert t in live


def test_asset_sink_refuses_offline_index_until_compaction(
    spark, sf_dir, tmp_path
):
    """Round-7 ADVICE: an index built OFFLINE with self-allocated
    non-negative batch ids would have its batch=<epoch> dirs clobbered
    by a stream — the sink must refuse; after compaction (everything
    rewritten into the reserved negative range) it adopts and folds."""
    b0 = _assets(spark, sf_dir, 0, 20)
    b1 = _assets(spark, sf_dir, 20, 30, id_shift=100_000)
    idx = str(tmp_path / "offline_pidx")
    phash_index.build_phash_index(b0, idx)
    phash_index.update_phash_index(b1, idx)  # self-allocated batch 0
    assert 0 in phash_index._live_batches(idx)

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    arriving = _assets(spark, sf_dir, 30, 45, id_shift=200_000)
    arriving.coalesce(1).write.mode("overwrite").parquet(f"{feed}/f0.parquet")
    stream = (
        spark.readStream.schema(ASSET_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed + "/*.parquet")
    )
    corpus = str(tmp_path / "corpus")
    q = sp.start_media_ingest_sink(
        stream, corpus, idx, str(tmp_path / "aivf"), str(tmp_path / "ck1")
    )
    with pytest.raises(Exception, match="refusing to stream-fold"):
        q.processAllAvailable()
    q.stop()

    phash_index.compact_phash_index(spark, idx)
    assert all(b < 0 for b in phash_index._live_batches(idx))
    before = _live_fp_set(spark, idx)
    stream2 = (
        spark.readStream.schema(ASSET_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed + "/*.parquet")
    )
    q2 = sp.start_media_ingest_sink(
        stream2, corpus, idx, str(tmp_path / "aivf"), str(tmp_path / "ck2"),
        n_centroids=4,
    )
    q2.processAllAvailable()
    q2.stop()
    after = _live_fp_set(spark, idx)
    assert before < after  # the arriving batch folded in
    assert os.path.isfile(os.path.join(corpus + "_meta", "_ADOPTED_INDEX_phash"))


def test_ivf_sink_refuses_offline_index_until_compaction(
    spark, sf_dir, tmp_path
):
    """The IVF twin of the adoption guard (the ADVICE named this sink
    directly): offline build alone (batch=-1) adopts cleanly; an
    offline UPDATE (self-allocated batch 0) forces the refusal, and
    compaction cures it."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    first = emb.where(F.col("vec_id") < 150)
    second = emb.where((F.col("vec_id") >= 150) & (F.col("vec_id") < 200))
    idx = str(tmp_path / "offline_ivf")
    ivf_index.build_ivf_index(first, idx, n_centroids=8, seed=7)
    ivf_index.update_ivf_index(second, idx)  # self-allocated batch 0

    feed = str(tmp_path / "efeed")
    os.makedirs(feed)
    emb.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 240)).coalesce(
        1
    ).write.mode("overwrite").parquet(f"{feed}/f0.parquet")
    schema = "vec_id long, embedding array<double>"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed + "/*.parquet")
    )
    q = sp.start_embedding_index_sink(
        stream, idx, str(tmp_path / "eck1"), n_centroids=8, seed=7
    )
    with pytest.raises(Exception, match="refusing to stream-fold"):
        q.processAllAvailable()
    q.stop()

    ivf_index.compact_ivf_index(spark, idx)
    n_before = ivf_index._live_assignments(spark, idx).count()
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed + "/*.parquet")
    )
    q2 = sp.start_embedding_index_sink(
        stream2, idx, str(tmp_path / "eck2"), n_centroids=8, seed=7
    )
    q2.processAllAvailable()
    q2.stop()
    assert ivf_index._live_assignments(spark, idx).count() == n_before + 40


def test_refresh_phash_index_from_diff_equals_fresh_build(spark, sf_dir, tmp_path):
    """asset_diff work-list maintenance: removed/changed tombstone out,
    added/changed decode once and fold in; the refreshed index answers
    exactly like a fresh build on the new snapshot — and changed
    assets re-enter WITHOUT a compaction (batch-scoped tombstones, the
    property the flat layout lacked)."""
    old = _assets(spark, sf_dir, 0, 40).orderBy("asset_id").persist()
    rows = old.collect()
    spare = _assets(spark, sf_dir, 40, 60, id_shift=400_000).orderBy(
        "asset_id"
    ).collect()
    # new snapshot: drop 5, change 5 (re-encode under the same id),
    # add 10; the rest byte-identical
    removed = {r["asset_id"] for r in rows[:5]}
    changed = rows[5:10]
    new_rows = (
        [tuple(r[c] for c in ASSET_COLS) for r in rows[10:]]
        + [
            (r["asset_id"], *_content(spare[i]))
            for i, r in enumerate(changed)
        ]
        + [tuple(s[c] for c in ASSET_COLS) for s in spare[10:]]
    )
    new = spark.createDataFrame(new_rows, ASSET_SCHEMA).persist()

    d = {r.asset_id: r.change for r in phash_index.asset_diff(old, new).collect()}
    assert {a for a, c in d.items() if c == "removed"} == removed
    assert {a for a, c in d.items() if c == "changed"} == {
        r["asset_id"] for r in changed
    }
    assert {a for a, c in d.items() if c == "added"} == {
        s["asset_id"] for s in spare[10:]
    }

    live_idx, fresh_idx = str(tmp_path / "live"), str(tmp_path / "fresh")
    phash_index.build_phash_index(old, live_idx)
    phash_index.refresh_phash_index_from_diff(spark, live_idx, old, new)
    phash_index.build_phash_index(new, fresh_idx)
    assert _live_fp_set(spark, live_idx) == _live_fp_set(spark, fresh_idx)

    # probe verdicts identical; byte-identical re-refresh is a no-op
    probe = spark.createDataFrame(
        [(r["asset_id"] + 900_000, *_content(r)) for r in rows[10:18]], ASSET_SCHEMA
    )
    got = {
        r.asset_id
        for r in phash_index.dedup_assets_against_index(
            spark, probe, live_idx
        ).collect()
    }
    want = {
        r.asset_id
        for r in phash_index.dedup_assets_against_index(
            spark, probe, fresh_idx
        ).collect()
    }
    assert got == want
    phash_index.refresh_phash_index_from_diff(spark, live_idx, new, new)
    assert _live_fp_set(spark, live_idx) == _live_fp_set(spark, fresh_idx)
    old.unpersist()
    new.unpersist()
