"""Round-9 repair paths (round-8 ADVICE items): mid-migration crash
resume for the MinHash index layout migration, stale-tombstone purge on
full rebuild, repair-pointing errors for the compaction crash window,
crash-safe staged corpus group-dir rewrites, and the passage query-id
space guard."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
    lsh_index,
)
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
    pipeline as sp,
)

from tests.test_lsh_cdc import _docs_df, _lone_texts


def _legacy_index(spark, idx: str, docs) -> None:
    """The pre-lineage layout exactly as the old module wrote it."""
    lsh_index.minhash_band_entries(docs).write.mode("overwrite").partitionBy(
        "band_id"
    ).parquet(f"{idx}/bands")
    lsh_index._shingle_rows(docs, 3).write.mode("overwrite").parquet(f"{idx}/shingles")
    spark.createDataFrame([(3,), (4,)], "doc_id long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{idx}/tombstones")


def test_migration_resumes_after_bands_half_crash(spark, sf_dir, tmp_path):
    """Crash AFTER the bands half moved but BEFORE shingles/tombstones
    migrated: a re-run must complete the remaining halves instead of
    early-returning on the bands-root check (round-8 ADVICE medium —
    the early-out left every reader failing on the unresolved `batch`
    tombstone column while the documented cure no-op'd)."""
    texts = _lone_texts(spark, sf_dir, 30)
    docs = _docs_df(spark, [(i, texts[i]) for i in range(20)])
    idx = str(tmp_path / "legacy")
    _legacy_index(spark, idx, docs)

    # simulate the crash: perform ONLY the bands rename pass
    broot = f"{idx}/bands"
    bdst = os.path.join(broot, "batch=-1")
    os.makedirs(bdst, exist_ok=True)
    for d in os.listdir(broot):
        if d.startswith("band_id=") or d.endswith(".parquet"):
            os.rename(os.path.join(broot, d), os.path.join(bdst, d))
    assert not lsh_index._is_legacy_layout(idx)  # the early-out's blind spot

    lsh_index.migrate_minhash_index_layout(spark, idx)  # must finish the job

    # shingles landed under batch=-1, tombstones gained the batch column
    assert os.path.isdir(f"{idx}/shingles/batch=-1")
    tombs = spark.read.parquet(f"{idx}/tombstones")
    assert "batch" in tombs.columns
    # and the index answers with tombstone precedence intact
    probe = _docs_df(
        spark, [(900_003, texts[3]), (900_005, texts[5]), (900_009, texts[25])]
    )
    kept = {r.doc_id for r in lsh_index.dedup_against_index(spark, probe, idx).collect()}
    assert kept == {900_003, 900_009}


def test_rebuild_purges_stale_tombstones(spark, sf_dir, tmp_path):
    """A full rebuild supersedes pending takedowns: rebuilt rows land
    under batch=-1 — an id stale tombstones may reference — so without
    the purge a previously-deleted doc_id would silently lose its dedup
    precedence forever (round-8 ADVICE low)."""
    texts = _lone_texts(spark, sf_dir, 22)
    docs = _docs_df(spark, [(i, texts[i]) for i in range(20)])
    idx = str(tmp_path / "idx")
    lsh_index.build_minhash_index(docs, idx)
    lsh_index.delete_from_minhash_index(spark, idx, [3, 4])
    # the takedown is live: a copy of doc 3 now survives the gate
    probe3 = _docs_df(spark, [(900_003, texts[3])])
    assert {
        r.doc_id for r in lsh_index.dedup_against_index(spark, probe3, idx).collect()
    } == {900_003}

    lsh_index.build_minhash_index(docs, idx)  # rebuild over the SAME corpus
    assert not os.path.isdir(f"{idx}/tombstones")  # superseded takedowns gone
    # doc 3's rebuilt row is live again — the probe copy drops
    assert (
        lsh_index.dedup_against_index(spark, probe3, idx).count() == 0
    )


@pytest.mark.parametrize("half", ["bands", "shingles"])
def test_compaction_crash_window_points_at_repair(spark, sf_dir, tmp_path, half):
    """A root absent with a __old/__stage sibling is a mid-compaction
    crash, not a missing index: readers must point at the rename
    repair instead of advising a rebuild that discards intact data
    (round-8 ADVICE low)."""
    texts = _lone_texts(spark, sf_dir, 12)
    docs = _docs_df(spark, [(i, texts[i]) for i in range(10)])
    idx = str(tmp_path / "idx")
    lsh_index.build_minhash_index(docs, idx)
    root = f"{idx}/{half}"
    os.rename(root, root + "__old")  # the two-rename window
    with pytest.raises(RuntimeError, match="mid-compaction"):
        lsh_index.dedup_against_index(
            spark, _docs_df(spark, [(900_001, texts[1])]), idx
        )
    os.rename(root + "__old", root)  # the documented repair
    assert (
        lsh_index.dedup_against_index(
            spark, _docs_df(spark, [(900_001, texts[1])]), idx
        ).count()
        == 0
    )


def test_staged_group_rewrite_recovers_from_partial_overwrite(spark, tmp_path):
    """The round-8 ADVICE loss window: staging committed, live-dir
    overwrite crashed partway.  Replay must re-commit the staged copy —
    recomputing from the partial live dir would permanently lose the
    unrewritten rows."""
    gdir = str(tmp_path / "corpus" / "batch_group=0")
    meta = str(tmp_path / "meta")
    os.makedirs(meta, exist_ok=True)
    base = spark.range(0, 100).select(F.col("id").alias("doc_id"))
    base.coalesce(2).write.mode("overwrite").parquet(gdir)

    # epoch 7's rewrite: drop doc_id 0..9; staging fully committed
    staging = os.path.join(meta, "_cdc_batch_group=0_staging_e7")
    spark.read.parquet(gdir).where(F.col("doc_id") >= 10).coalesce(2).write.mode(
        "overwrite"
    ).parquet(staging)
    assert os.path.isfile(os.path.join(staging, "_SUCCESS"))

    # crash mid-overwrite of the live dir: half its files are gone
    parts = sorted(f for f in os.listdir(gdir) if f.endswith(".parquet"))
    os.remove(os.path.join(gdir, parts[0]))
    partial_n = spark.read.parquet(gdir).count()
    assert partial_n < 90  # the live dir really is partial

    crashed = {"recompute_ran": False}

    def compute():
        crashed["recompute_ran"] = True
        return spark.read.parquet(gdir).where(F.col("doc_id") >= 10)

    sp._staged_group_rewrite(spark, gdir, staging, compute)
    assert not crashed["recompute_ran"]  # staged copy was authoritative
    assert spark.read.parquet(gdir).count() == 90
    assert not os.path.isdir(staging)  # cleaned up after commit

    # and the normal (no prior staging) path still computes + commits
    staging2 = os.path.join(meta, "_cdc_batch_group=0_staging_e8")
    sp._staged_group_rewrite(
        spark,
        gdir,
        staging2,
        lambda: spark.read.parquet(gdir).where(F.col("doc_id") >= 20),
    )
    assert spark.read.parquet(gdir).count() == 80
    assert not os.path.isdir(staging2)


def test_legacy_adoption_marker_waives_nothing(tmp_path):
    """A leftover adoption marker under the old shared `_ADOPTED_INDEX`
    name waives no kind's check: an index carrying non-negative batch
    ids refuses with the compaction cure, exactly as in a fresh meta
    dir."""
    meta = str(tmp_path / "meta")
    os.makedirs(meta)
    with open(os.path.join(meta, "_ADOPTED_INDEX"), "w") as fh:
        fh.write("-1")
    for kind in ("MinHash", "text", "IVF", "passage IVF", "phash"):
        with pytest.raises(RuntimeError, match="run the index's compaction first"):
            sp._guard_index_adoption(meta, [-1, 0, 1, 2], kind)
    meta2 = str(tmp_path / "meta2")
    os.makedirs(meta2)
    with pytest.raises(RuntimeError, match="refusing to stream-fold"):
        sp._guard_index_adoption(meta2, [-1, 0, 1], "MinHash")
