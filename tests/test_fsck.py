"""Artifact fsck (operators/fsck.py): each documented crash shape and
liability must be detected with the right level + the documented
repair, healthy artifacts must positively report ok, and the checker
must never mutate anything it inspects."""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F

from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
    fsck,
    ivf_index,
    lsh_index,
    retrieval,
)
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.tables import load_table


def _docs(spark, sf_dir, n=80):
    return load_table(spark, sf_dir, "documents").limit(n)


def _codes(findings, level=None):
    return {
        f["code"] for f in findings if level is None or f["level"] == level
    }


def _tree_snapshot(root):
    out = []
    for base, dirs, files in os.walk(root):
        for x in sorted(dirs) + sorted(files):
            out.append(os.path.relpath(os.path.join(base, x), root))
    return out


def test_healthy_minhash_reports_ok_and_mutates_nothing(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "mh")
    lsh_index.build_minhash_index(_docs(spark, sf_dir), idx)
    before = _tree_snapshot(idx)
    findings = fsck.fsck_artifact(spark, idx)
    assert findings[0]["level"] == "ok" and findings[0]["family"] == "minhash"
    assert not _codes(findings, "error") and not _codes(findings, "warn")
    assert _tree_snapshot(idx) == before  # read-only


def test_minhash_mid_swap_crash_and_orphan_stage(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "mh")
    lsh_index.build_minhash_index(_docs(spark, sf_dir), idx)
    bands = f"{idx}/bands"
    # mid-swap: root renamed away, __old holds the data
    os.rename(bands, bands + "__old")
    f = fsck.fsck_artifact(spark, idx)
    assert "mid_swap_crash" in _codes(f, "error")
    assert any("rename it back" in x["repair"] for x in f)
    os.rename(bands + "__old", bands)
    # orphan stage next to a live root
    os.makedirs(bands + "__stage")
    f = fsck.fsck_artifact(spark, idx)
    assert "orphan_stage_tree" in _codes(f, "warn")
    shutil.rmtree(bands + "__stage")
    assert fsck.fsck_artifact(spark, idx)[0]["level"] == "ok"


def test_minhash_bucket_drift_and_tombstones(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "mh")
    docs = _docs(spark, sf_dir)
    lsh_index.build_minhash_index(docs, idx)
    victims = [r["doc_id"] for r in docs.limit(3).select("doc_id").collect()]
    lsh_index.delete_from_minhash_index(spark, idx, victims)
    f = fsck.fsck_artifact(spark, idx)
    assert "pending_tombstones" in _codes(f, "info")
    p = os.path.join(idx, "_lsh_manifest.json")
    meta = json.load(open(p))
    meta["kbuckets"] = lsh_index.LSH_KBUCKETS + 5
    json.dump(meta, open(p, "w"))
    # manifest-authoritative grid (round 11): a non-default grid is a
    # legitimate deployment state — surfaced at info, not error
    f = fsck.fsck_artifact(spark, idx)
    assert "nondefault_bucket_grid" in _codes(f, "info")
    assert "bucket_constant_drift" not in _codes(f, "error")
    # a bucketed tree with NO grid counts is suspect: pruning is off
    # until compaction stamps it — warn with the provenance note
    meta = json.load(open(p))
    meta.pop("kbuckets"), meta.pop("dbuckets", None)
    json.dump(meta, open(p, "w"))
    f = fsck.fsck_artifact(spark, idx)
    assert "unannotated_bucketed" in _codes(f, "warn")
    assert any("compact_minhash_index" in x["repair"] for x in f)


def test_text_index_checks(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "tix")
    retrieval.build_text_index(_docs(spark, sf_dir), idx)
    f = fsck.fsck_artifact(spark, idx)
    assert f[0]["level"] == "ok" and f[0]["family"] == "text"
    # manifest loss is fatal for BM25 stats
    os.remove(f"{idx}/{retrieval._TIX_MANIFEST}")
    f = fsck.fsck_artifact(spark, idx)
    assert "manifest_missing" in _codes(f, "error")


def test_ivf_dangling_version_pointer_and_retired_tree(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "ivf")
    embs = load_table(spark, sf_dir, "embeddings").limit(200)
    ivf_index.build_ivf_index(embs, idx, n_centroids=4)
    assert fsck.fsck_artifact(spark, idx)[0]["level"] == "ok"
    p = os.path.join(idx, "_ivf_manifest.json")
    meta = json.load(open(p))
    meta["data_version"] = 99
    json.dump(meta, open(p, "w"))
    f = fsck.fsck_artifact(spark, idx)
    assert "dangling_version_pointer" in _codes(f, "error")
    assert any("data_version" in x["repair"] for x in f)


def test_phash_legacy_flat_table_detected(spark, tmp_path):
    d = str(tmp_path / "ph")
    # fabricate a pre-lineage flat fingerprint table
    spark.createDataFrame(
        [(1, "image", 42)], "asset_id long, modality string, phash long"
    ).coalesce(1).write.parquet(f"{d}/fingerprints")
    f = fsck.fsck_artifact(spark, d)
    assert f[0]["family"] == "phash"
    assert "legacy_layout" in _codes(f, "error")


def test_unknown_and_missing_dirs(spark, tmp_path):
    f = fsck.fsck_artifact(spark, str(tmp_path / "nope"))
    assert f[0]["code"] == "missing_artifact"
    d = str(tmp_path / "empty")
    os.makedirs(d)
    f = fsck.fsck_artifact(spark, d)
    assert f[0]["code"] == "unknown_family"


def test_fleet_report_dataframe(spark, sf_dir, tmp_path):
    mh = str(tmp_path / "mh")
    lsh_index.build_minhash_index(_docs(spark, sf_dir), mh)
    tix = str(tmp_path / "tix")
    retrieval.build_text_index(_docs(spark, sf_dir), tix)
    rep = fsck.fsck_report(spark, [mh, tix])
    rows = rep.collect()
    assert {r["family"] for r in rows} == {"minhash", "text"}
    assert all(r["level"] in ("ok", "info") for r in rows)
    assert set(rep.columns) == {
        "artifact", "family", "level", "code", "path", "message", "repair"
    }


def test_ingest_corpus_staging_shapes(spark, tmp_path):
    """The _staged_group_rewrite residue taxonomy: completed staging
    with a live group dir = benign retained copy; completed staging
    with the live dir gone = the overwrite crash window (readers miss
    rows until the epoch replays); incomplete staging = residue the
    writers recompute over."""
    corpus = str(tmp_path / "corpus")
    meta = corpus + "_meta"
    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    df.write.parquet(f"{corpus}/batch_group=0")
    df.write.parquet(f"{meta}/_group0_staging_e3")  # completed (_SUCCESS)
    f = fsck.fsck_artifact(spark, corpus)
    assert f[0]["family"] == "ingest_corpus"
    assert "staged_copy_retained" in _codes(f, "info")
    assert not _codes(f, "warn") and not _codes(f, "error")

    # the CDC-path staging form maps to the same group
    df.write.parquet(f"{meta}/_cdc_batch_group=0_staging_e4")
    f = fsck.fsck_artifact(spark, corpus)
    assert sum(1 for x in f if x["code"] == "staged_copy_retained") == 2

    # incomplete staging (no _SUCCESS): benign residue
    os.makedirs(f"{meta}/_group1_staging_e5")
    f = fsck.fsck_artifact(spark, corpus)
    assert "incomplete_staging_residue" in _codes(f, "info")

    # the overwrite crash window: live dir gone, completed copy stands
    shutil.rmtree(f"{corpus}/batch_group=0")
    f = fsck.fsck_artifact(spark, corpus)
    assert "unrecovered_group_overwrite" in _codes(f, "warn")
    assert any("restart the sink" in x["repair"] for x in f)


def test_warehouse_interrupted_month_swap_and_leftovers(spark, tmp_path, monkeypatch):
    """The warehouse family: a month parked between its two renames is
    an error naming the rename repair; a parked copy whose month is
    back, or a staged copy, is a warn; the writer's own recovery
    (storage.finish_interrupted_swaps) clears exactly what fsck found."""
    import datetime as dt

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark import storage
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
        pipeline as sp,
    )

    schema = "event_id long, event_ts timestamp, v long"
    wh = str(tmp_path / "wh")
    sp.merge_upsert_parquet(
        spark.createDataFrame([(1, dt.datetime(2024, 1, 10), 5)], schema),
        wh, key="event_id", version="event_ts",
    )
    f = fsck.fsck_artifact(spark, wh)
    assert f[0]["family"] == "warehouse" and f[0]["level"] == "ok"

    # crash after the only month was parked (rename 0 done, rename 1 fails)
    calls = []

    def crash_second(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise RuntimeError("injected crash")
        os.rename(src, dst)

    monkeypatch.setattr(storage, "_rename", crash_second)
    batch = spark.createDataFrame([(1, dt.datetime(2024, 1, 11), 6)], schema)
    try:
        sp.merge_upsert_parquet(batch, wh, key="event_id", version="event_ts")
    except RuntimeError:
        pass
    monkeypatch.setattr(storage, "_rename", os.rename)
    assert not any(e.startswith("event_month=") for e in os.listdir(wh))
    before = _tree_snapshot(wh)
    f = fsck.fsck_artifact(spark, wh)
    assert f[0]["family"] == "warehouse"  # detected through the stage
    assert "interrupted_month_swap" in _codes(f, "error")
    assert any(x["repair"].startswith("rename ") for x in f)
    assert _tree_snapshot(wh) == before  # read-only

    # the month back in place by hand, parked + staged copies left over
    stage = next(p.stage for p in storage.pending_swaps(wh))
    os.rename(f"{stage}/event_month=202401", f"{wh}/event_month=202401")
    f = fsck.fsck_artifact(spark, wh)
    assert not _codes(f, "error")
    assert {"leftover_parked_copy", "leftover_staged_copy"} <= _codes(f, "warn")

    storage.finish_interrupted_swaps(wh)
    assert fsck.fsck_artifact(spark, wh)[0]["code"] == "healthy"
    assert [r["v"] for r in spark.read.parquet(wh).collect()] == [6]
