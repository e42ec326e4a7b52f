"""Single-writer ownership of stored artifacts (round-9 verdict #4).

Every artifact family's fold path threads the writer-identity token
(the sink's checkpoint path) through its manifest — the DSIR pattern
(operators/dsir.py) generalized by operators/ownership.py:

- first checkpointed fold stamps ``epoch_checkpoint``;
- a fold from a DIFFERENT checkpoint refuses loudly;
- an unattributed manual fold against a sink-owned artifact refuses
  loudly (pass the sink's checkpoint to act on its behalf);
- manual-only artifacts (never stamped) stay free;
- a sink's bootstrap build claims the artifact in the same epoch, so
  a manual fold can't slip between the build and the first streamed
  update.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
    ivf_index,
    lm_filter,
    lsh_index,
    multimodal,
    passage as psg,
    phash_index as pidx,
    retrieval,
)
from real_time_cdc_analytics_pipeline_with_clickhouse_spark.tables import load_table


def _docs(spark, sf_dir, lo=0, hi=40):
    return (
        load_table(spark, sf_dir, "documents")
        .where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        .select("doc_id", "text")
    )


def _vecs(spark, sf_dir, lo=0, hi=60):
    return (
        load_table(spark, sf_dir, "embeddings")
        .where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        .select("vec_id", "embedding")
    )


def _assert_owner_cycle(fold, read_meta):
    """The shared refusal contract: fold(ck) stamps; fold(other)
    refuses; fold(None) refuses; fold(ck) again works."""
    fold("/tmp/ck_a")
    assert read_meta()["epoch_checkpoint"] == "/tmp/ck_a"
    with pytest.raises(RuntimeError, match="owned by the streaming sink"):
        fold("/tmp/ck_b")
    with pytest.raises(RuntimeError, match="unattributed manual fold"):
        fold(None)
    fold("/tmp/ck_a")  # same writer keeps working


def test_text_index_writer_guard(spark, sf_dir, tmp_path):
    d = str(tmp_path / "tix")
    retrieval.build_text_index(_docs(spark, sf_dir, 0, 30), d)
    batches = iter(range(100, 110))

    def fold(ck):
        lo = 40 + 5 * next(batches)
        retrieval.update_text_index(
            _docs(spark, sf_dir, lo % 400, lo % 400 + 5), d, checkpoint=ck
        )

    _assert_owner_cycle(fold, lambda: retrieval.read_text_index_manifest(d))
    # upsert probes the guard BEFORE its tombstone half
    with pytest.raises(RuntimeError, match="owned by the streaming sink"):
        retrieval.upsert_text_index(
            spark, d, _docs(spark, sf_dir, 0, 5), checkpoint="/tmp/ck_b"
        )


def test_minhash_index_writer_guard(spark, sf_dir, tmp_path):
    d = str(tmp_path / "mh")
    lsh_index.build_minhash_index(_docs(spark, sf_dir, 0, 30), d)

    def fold(ck):
        lsh_index.update_minhash_index(_docs(spark, sf_dir, 30, 35), d, checkpoint=ck)

    _assert_owner_cycle(fold, lambda: lsh_index._lsh_manifest(d))
    with pytest.raises(RuntimeError, match="owned by the streaming sink"):
        lsh_index.upsert_minhash_index(
            spark, d, _docs(spark, sf_dir, 0, 5), checkpoint=None
        )


def test_ivf_index_writer_guard(spark, sf_dir, tmp_path):
    d = str(tmp_path / "ivf")
    ivf_index.build_ivf_index(_vecs(spark, sf_dir, 0, 60), d, 4, 7)

    def fold(ck):
        ivf_index.update_ivf_index(_vecs(spark, sf_dir, 60, 70), d, checkpoint=ck)

    _assert_owner_cycle(fold, lambda: ivf_index.read_manifest(d))
    with pytest.raises(RuntimeError, match="owned by the streaming sink"):
        ivf_index.upsert_ivf_index(
            spark, d, _vecs(spark, sf_dir, 0, 5), checkpoint="/tmp/ck_b"
        )
    # the refit carries the stamp (maintenance, not a new writer)
    ivf_index.refit_ivf_index(spark, d)
    assert ivf_index.read_manifest(d)["epoch_checkpoint"] == "/tmp/ck_a"


def test_phash_index_writer_guard(spark, sf_dir, tmp_path):
    d = str(tmp_path / "ph")
    assets = multimodal.assets_from_documents(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    )
    more = multimodal.assets_from_documents(
        load_table(spark, sf_dir, "documents").where(
            (F.col("doc_id") >= 40) & (F.col("doc_id") < 50)
        )
    )
    pidx.build_phash_index(assets, d)

    def fold(ck):
        pidx.update_phash_index(more, d, checkpoint=ck)

    _assert_owner_cycle(fold, lambda: pidx.read_phash_manifest(d))


def test_passage_index_writer_guard(spark, sf_dir, tmp_path):
    d = str(tmp_path / "psg")
    psg.build_passage_index(_docs(spark, sf_dir, 0, 30), d, n_centroids=4)
    n_pre = len(os.listdir(f"{d}/passages"))

    def fold(ck):
        psg.update_passage_index(_docs(spark, sf_dir, 30, 35), d, checkpoint=ck)

    _assert_owner_cycle(
        fold, lambda: ivf_index.read_manifest(f"{d}/vectors")
    )
    # the refusal probed BEFORE the passage rows landed: only the two
    # successful folds added batch dirs
    assert len(os.listdir(f"{d}/passages")) == n_pre + 2


def test_lm_writer_guard_and_rebuild_carries_stamp(spark, sf_dir, tmp_path):
    d = str(tmp_path / "lm")
    lm_filter.train_ngram_lm(_docs(spark, sf_dir, 0, 60), d)

    def fold(ck):
        lm_filter.update_ngram_lm(
            spark, d, _docs(spark, sf_dir, 60, 70), checkpoint=ck
        )

    _assert_owner_cycle(fold, lambda: lm_filter.read_lm_manifest(d))
    # a staged rebuild carries the stamp (like last_epoch) — ownership
    # transfer is an explicit fresh-dir build
    lm_filter.train_ngram_lm(_docs(spark, sf_dir, 0, 70), d)
    assert lm_filter.read_lm_manifest(d)["epoch_checkpoint"] == "/tmp/ck_a"
    with pytest.raises(RuntimeError, match="unattributed manual fold"):
        lm_filter.update_ngram_lm(spark, d, _docs(spark, sf_dir, 70, 80))


def test_manual_only_artifacts_stay_free(spark, sf_dir, tmp_path):
    """The pre-sink batch workflow is untouched: folds without a
    checkpoint against an unowned artifact keep working."""
    d = str(tmp_path / "tix")
    retrieval.build_text_index(_docs(spark, sf_dir, 0, 30), d)
    retrieval.update_text_index(_docs(spark, sf_dir, 30, 35), d)
    retrieval.update_text_index(_docs(spark, sf_dir, 35, 40), d)
    assert "epoch_checkpoint" not in retrieval.read_text_index_manifest(d)


def test_sink_bootstrap_claims_ownership(spark, sf_dir, tmp_path):
    """The document ingest sink's text-index bootstrap build stamps the
    manifest in the same epoch, so a manual fold cannot slip in before
    the first streamed update."""
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
        pipeline as sp,
    )

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    _docs(spark, sf_dir, 0, 30).select(
        "doc_id", "text", F.lit("en").alias("lang"), F.lit("s").alias("source")
    ).coalesce(1).write.mode("overwrite").parquet(f"{feed}/f0.parquet")
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string, source string")
        .option("maxFilesPerTrigger", "1")
        .parquet(feed + "/*.parquet")
    )
    d = str(tmp_path / "tix")
    ck = str(tmp_path / "ck")
    q = sp.start_document_ingest_sink(
        stream, str(tmp_path / "corpus"), str(tmp_path / "mh"), d,
        str(tmp_path / "ivf"), ck,
    )
    q.processAllAvailable()
    q.stop()
    assert retrieval.read_text_index_manifest(d)[
        "epoch_checkpoint"
    ] == os.path.abspath(ck)
    with pytest.raises(RuntimeError, match="unattributed manual fold"):
        retrieval.update_text_index(_docs(spark, sf_dir, 30, 35), d)
    # the sink's own checkpoint still folds (stream stopped)
    retrieval.update_text_index(_docs(spark, sf_dir, 30, 35), d, checkpoint=ck)
