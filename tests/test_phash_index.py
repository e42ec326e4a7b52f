"""Incremental perceptual-hash dedup index (operators/phash_index.py)
and the streaming media ingest sink: incremental survivors must equal
the global greedy pairwise rule computed by an independent numpy
union scan, takedowns must lift precedent immediately, and compaction
must change bytes, never answers."""

from __future__ import annotations

import itertools

import pyspark.sql.functions as F
import pytest

from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
    asset_embed,
    multimodal,
    phash_index,
)

from tests.test_asset_embed import _ref_phash, _ref_tile

MH = 3


def _assets(spark, sf_dir, lo, hi, id_shift=0):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
    )
    a = multimodal.assets_from_documents(docs)
    if id_shift:
        a = a.withColumn("asset_id", F.col("asset_id") + id_shift)
    return a


def _copies(spark, assets, id_shift, n=10):
    rows = assets.orderBy("asset_id").limit(n).collect()
    out = [
        tuple(
            (r.asset_id + id_shift) if f == "asset_id" else r[f]
            for f in assets.columns
        )
        for r in rows
    ]
    return spark.createDataFrame(out, assets.schema)


def _fps(assets):
    return {
        r.asset_id: (
            r.modality,
            _ref_phash(
                _ref_tile(
                    r.modality, r.payload, width=r.width, height=r.height,
                    n_frames=r.n_frames,
                )
            ),
        )
        for r in assets.collect()
    }


def _global_greedy_survivors(fps: dict) -> set:
    """The module contract's reference: with monotone ids across
    batches and every asset acting as precedent, an asset drops iff
    ANY smaller-id same-modality asset is within the radius."""
    dropped = set()
    for a, b in itertools.combinations(sorted(fps), 2):
        if fps[a][0] != fps[b][0]:
            continue
        if bin((fps[a][1] ^ fps[b][1]) & ((1 << 64) - 1)).count("1") <= MH:
            dropped.add(b)
    return set(fps) - dropped


def test_incremental_dedup_equals_global_greedy_rule(spark, sf_dir, tmp_path):
    b1 = _assets(spark, sf_dir, 0, 40)
    # batch 2: fresh assets (ids above b1) + exact copies of b1 assets
    b2 = _assets(spark, sf_dir, 40, 70, id_shift=200_000).unionByName(
        _copies(spark, b1, 100_000, n=8)
    )
    idx = str(tmp_path / "pidx")
    phash_index.build_phash_index(b1, idx)
    kept2 = phash_index.dedup_assets_against_index(spark, b2, idx, max_hamming=MH)
    # bootstrap's own survivors (within-batch greedy)
    drops1 = {
        r.asset_b
        for r in asset_embed.phash_near_pairs(b1, max_hamming=MH).collect()
    }
    got = ({r.asset_id for r in b1.select("asset_id").collect()} - drops1) | {
        r.asset_id for r in kept2.select("asset_id").collect()
    }
    fps = _fps(b1.unionByName(b2))
    want = _global_greedy_survivors(fps)
    assert got == want
    copies = {r.asset_id for r in b2.where(F.col("asset_id") < 200_000).collect()}
    assert copies and not (copies & got)  # every planted copy died
    # survivors keep every input column
    assert set(kept2.columns) == set(b2.columns)


def test_takedown_lifts_precedent_and_compaction_preserves_answers(
    spark, sf_dir, tmp_path
):
    b1 = _assets(spark, sf_dir, 0, 30)
    idx = str(tmp_path / "pidx_td")
    phash_index.build_phash_index(b1, idx)
    victim = b1.orderBy("asset_id").limit(1).collect()[0]
    copy = _copies(spark, b1, 500_000, n=1)  # exact copy of the victim

    kept_before = phash_index.dedup_assets_against_index(spark, copy, idx)
    assert kept_before.count() == 0  # precedent kills the copy

    phash_index.delete_from_phash_index(spark, idx, [victim.asset_id])
    kept_after = phash_index.dedup_assets_against_index(spark, copy, idx)
    # sole near-dup precedent was the victim → the copy now survives
    # (unless another asset also matched it — recompute honestly)
    fps = _fps(b1.unionByName(copy))
    others = {
        a
        for a in fps
        if a not in (victim.asset_id, victim.asset_id + 500_000)
        and fps[a][0] == fps[victim.asset_id][0]
        and bin(
            (fps[a][1] ^ fps[victim.asset_id + 500_000][1]) & ((1 << 64) - 1)
        ).count("1") <= MH
    }
    kept_after_n = kept_after.count()  # snapshot: later swaps/compaction
    # replace the tombstone files this plan's listing captured
    assert kept_after_n == (1 if not others else 0)

    # unknown-id delete no-ops; missing index refuses loudly
    phash_index.delete_from_phash_index(spark, idx, [999_999_999])
    with pytest.raises(FileNotFoundError):
        phash_index.dedup_assets_against_index(
            spark, copy, str(tmp_path / "nope")
        )
    with pytest.raises(ValueError):
        phash_index.dedup_assets_against_index(spark, copy, idx, max_hamming=4)

    # compaction: physically purges the tombstoned victim, retires the
    # tombstone table, and changes no verdicts
    import os

    n_files_before = phash_index.parquet_count = sum(
        1
        for _r, _d, fs in os.walk(f"{idx}/{phash_index.FP_TABLE}")
        for f in fs
        if f.endswith(".parquet")
    )
    phash_index.update_phash_index(copy, idx)  # extra file set to squash
    phash_index.compact_phash_index(spark, idx)
    fp = spark.read.parquet(f"{idx}/{phash_index.FP_TABLE}")
    assert fp.where(F.col("asset_id") == victim.asset_id).count() == 0
    assert not os.path.isdir(f"{idx}/tombstones")
    again = phash_index.dedup_assets_against_index(spark, copy, idx)
    # the copy itself is now indexed (update above) but a < b excludes
    # self-pairs, so its verdict is unchanged
    assert again.count() == kept_after_n


def test_streaming_asset_ingest_sink_dedups_across_batches(
    spark, sf_dir, tmp_path
):
    import os

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
        pipeline as sp,
    )

    b1 = _assets(spark, sf_dir, 0, 40)
    b2 = _assets(spark, sf_dir, 40, 70, id_shift=200_000).unionByName(
        _copies(spark, b1, 100_000, n=8)
    )
    b3 = _assets(spark, sf_dir, 70, 100, id_shift=600_000).unionByName(
        _copies(spark, b2, 700_000, n=6)
    )
    feed = str(tmp_path / "afeed")
    corpus, idx = str(tmp_path / "acorpus"), str(tmp_path / "aidx")
    os.makedirs(feed)
    schema = (
        "asset_id long, modality string, payload binary, mime string, "
        "width long, height long, sample_rate long, n_frames long"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{feed}/*.parquet")
    )
    b1.coalesce(1).write.mode("overwrite").parquet(f"{feed}/f0.parquet")
    q = sp.start_media_ingest_sink(
        stream, corpus, idx, str(tmp_path / "aivf"), str(tmp_path / "ck"),
        compact_every=2,
    )
    q.processAllAvailable()
    b2.coalesce(1).write.mode("overwrite").parquet(f"{feed}/f1.parquet")
    q.processAllAvailable()
    b3.coalesce(1).write.mode("overwrite").parquet(f"{feed}/f2.parquet")
    q.processAllAvailable()
    q.stop()

    got = {r.asset_id for r in spark.read.parquet(corpus).collect()}
    fps = _fps(b1.unionByName(b2).unionByName(b3))
    want = _global_greedy_survivors(fps)
    assert got == want
    # cross-batch copies died; epochs marked; replay appends nothing
    assert not ({r.asset_id for r in _copies(spark, b1, 100_000, n=8).collect()} & got)
    assert sp._epoch_already_applied(corpus + "_meta", 2, str(tmp_path / "ck"))
    assert not sp._epoch_already_applied(corpus + "_meta", 3, str(tmp_path / "ck"))
    # crash-window replay of epoch 2: verdicts identical even though
    # the replay sees its own append in the index (a < b rule), and a
    # duplicate index append changes nothing
    replay_kept = {
        r.asset_id
        for r in phash_index.dedup_assets_against_index(spark, b3, idx).collect()
    }
    assert replay_kept == got & {r.asset_id for r in b3.select("asset_id").collect()}
    # the replayed append acts on the sink's behalf → its checkpoint
    phash_index.update_phash_index(b3, idx, checkpoint=str(tmp_path / "ck"))
    again = {
        r.asset_id
        for r in phash_index.dedup_assets_against_index(spark, b3, idx).collect()
    }
    assert again == replay_kept
