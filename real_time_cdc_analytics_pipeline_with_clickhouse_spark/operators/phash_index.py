"""Incremental perceptual-hash dedup index — dedup a NEW batch of
media assets against a 100 TB asset corpus without re-decoding the
corpus.

The media twin of ``lsh_index`` (MinHash over text): ``dedup_assets``
(asset_embed.py) is the whole-corpus flow — every run re-decodes and
re-fingerprints everything.  An ingest pipeline instead PERSISTS the
fingerprints and joins each arriving batch against them:

- ``build_phash_index`` stores the fingerprint table
  ``(asset_id, modality, phash)`` — 8 bytes of hash per asset
  regardless of payload size, so the index is ~4 orders of magnitude
  smaller than the media it covers (the whole reason perceptual
  hashing is THE production answer for image dedup);
- ``dedup_assets_against_index`` decodes/fingerprints ONLY the new
  batch (cost ∝ batch — the corpus is never re-decoded), bands both
  sides and equi-joins on (modality, band_id, band_val)
  (pigeonhole-complete to hamming ``n_bands − 1``, exact
  ``bit_count`` verification — the same construction as
  ``asset_embed.phash_near_pairs``), and drops a new asset iff it
  near-dups an indexed asset or a smaller-id batch-mate;
- ``update_phash_index`` appends the batch's fingerprints (ALL its
  assets, kept or dropped — a dropped asset still outranks later
  copies of itself, the ``lsh_index`` precedent rule);
- ``upsert_phash_index`` is the CDC move (``upsert_ivf_index``'s
  media twin): when an asset is RE-ENCODED under its existing
  asset_id, the stale fingerprint must stop acting as dedup precedent
  immediately — tombstone any live fingerprint under the batch's
  asset_ids (no-op for genuinely-new ids), then fold the batch in;
- ``delete_from_phash_index`` / ``compact_phash_index`` carry the
  takedown + small-file lifecycle every stored artifact in this
  engine has.

Storage layout (round 8 — the artifact gained batch lineage):
``fingerprints/batch=<id>/`` directories, built at ``batch=-1`` and
folded one directory per batch/epoch, plus a JSON manifest.  The
lineage buys the IVF index's whole safety construction verbatim:

- batch-scoped tombstones ``(asset_id, batch)`` let an updated asset
  kill exactly its OLD versions while its new row (in a newer batch)
  survives the anti-join;
- a per-epoch fold is a deterministic whole-directory overwrite, so a
  crash-replayed epoch rewrites identical bytes instead of appending
  duplicates, and the manifest's ``last_epoch`` stamp (written IN the
  fold's commit) makes a fully-committed replay a no-op;
- compaction rewrites live rows under a FRESH batch id below every
  existing one and only then retires the tombstone table — a crash
  between the swap and the retirement leaves tombstones referencing
  batch dirs that no longer exist, which ``_read_phash_tombstones``
  treats as inert, so an already-applied tombstone can never re-fire
  against a later re-add (the round-7 ADVICE hazard of the flat
  layout, closed structurally).

Pre-round-8 indexes (flat parquet files, id-scoped tombstones) are a
different artifact version: the reader raises loudly and the
documented migration is a rebuild — fingerprints are DERIVED data,
one decode pass recreates them.

Equivalence contracts (tested): when every indexed asset precedes the
batch (ids below the batch's), the incremental survivors equal the
greedy pairwise rule over the full old∪new corpus; and a CDC history
of create/re-encode/delete/re-create folded through
``upsert_phash_index`` answers dedup exactly like a fresh index built
on the net final corpus.

Streaming form: ``streaming/pipeline.start_media_ingest_sink``
(``op_col=`` enables the CDC routing).
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .asset_embed import PHASH_BANDS, PHASH_BITS, perceptual_hashes

FP_TABLE = "fingerprints"
_PHASH_MANIFEST = "_phash_manifest.json"


def _banded(fp: DataFrame, n_bands: int) -> DataFrame:
    """(asset_id, modality, phash, band_id, band_val) — the same band
    algebra as ``phash_near_pairs`` (unsigned shifts: bit 63 must not
    smear sign across bands).  Banding is derived at JOIN time from
    the stored 8-byte fingerprints — re-deriving 4 rows over the tiny
    hash table beats storing the bands 4×."""
    if PHASH_BITS % n_bands != 0:
        raise ValueError(f"bits={PHASH_BITS} not divisible by n_bands={n_bands}")
    width = PHASH_BITS // n_bands
    mask = (1 << width) - 1
    return fp.select(
        "asset_id",
        "modality",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftrightunsigned(F.col("phash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(
        "asset_id",
        "modality",
        "phash",
        F.col("bk.band_id").alias("band_id"),
        F.col("bk.band_val").alias("band_val"),
    )


def read_phash_manifest(index_dir: str) -> dict:
    p = os.path.join(index_dir, _PHASH_MANIFEST)
    if not os.path.isfile(p):
        return {}
    with open(p) as fh:
        return json.load(fh)


def _write_phash_manifest(index_dir: str, meta: dict) -> None:
    os.makedirs(index_dir, exist_ok=True)
    tmp = os.path.join(index_dir, _PHASH_MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(index_dir, _PHASH_MANIFEST))


def _fp_root(index_dir: str) -> str:
    return f"{index_dir}/{FP_TABLE}"


def _require_batched(index_dir: str) -> None:
    root = _fp_root(index_dir)
    if not os.path.isdir(root):
        raise FileNotFoundError(
            f"no phash index at {index_dir} — run build_phash_index first"
        )
    if any(f.endswith(".parquet") for f in os.listdir(root)):
        raise ValueError(
            f"phash index at {index_dir} uses the pre-round-8 flat layout — "
            "rebuild with build_phash_index (fingerprints are derived data; "
            "one decode pass over the corpus recreates them with batch "
            "lineage, tombstone safety and upsert support)"
        )


def _live_batches(index_dir: str) -> list[int]:
    root = _fp_root(index_dir)
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(root)
        if d.startswith("batch=") and os.path.isdir(os.path.join(root, d))
    )


def build_phash_index(
    assets: DataFrame, index_dir: str, fingerprints: DataFrame | None = None
) -> None:
    """Materialize the fingerprint table from the current asset corpus
    (one full decode pass — paid once, then every batch is
    incremental; skipped entirely when the caller hands in an
    already-decoded ``fingerprints`` frame).  Rows land under
    ``batch=-1``; the manifest commit publishes the artifact."""
    fp = perceptual_hashes(assets) if fingerprints is None else fingerprints
    fp.select("asset_id", "modality", "phash").withColumn(
        "batch", F.lit(-1)
    ).write.mode("overwrite").partitionBy("batch").parquet(_fp_root(index_dir))
    _write_phash_manifest(index_dir, {"version": 1})


def _next_batch_id(index_dir: str, spark: SparkSession | None = None) -> int:
    """Self-allocated batch ids must exceed every existing batch AND
    every batch a surviving tombstone references — a compaction crash
    can leave tombstones outliving their batch dirs, and reusing such
    an id would resurrect the tombstone against the new rows (the
    ``ivf_index._next_batch_id`` rule)."""
    ids = _live_batches(index_dir)
    if spark is not None and os.path.isdir(_tomb_path(index_dir)):
        ids = ids + [
            r["batch"]
            for r in spark.read.parquet(_tomb_path(index_dir))
            .select("batch")
            .distinct()
            .collect()
        ]
    return (max(ids) + 1) if ids else 0


def update_phash_index(
    new_assets: DataFrame,
    index_dir: str,
    epoch: int | None = None,
    fingerprints: DataFrame | None = None,
    checkpoint: str | None = None,
) -> None:
    """Fold a batch's fingerprints in (all of them — see module
    docstring's precedent rule).  Pass the micro-batch ``epoch`` as
    the batch id for exactly-once streaming: fingerprinting is
    deterministic and the write is a whole-directory overwrite, so a
    crash-replayed epoch rewrites byte-identical content; the
    manifest's ``last_epoch`` stamp (the commit) lets
    ``upsert_phash_index`` no-op a fully-committed replay.  Batch
    callers may omit it (ids self-allocate).  ``fingerprints`` lets a
    caller that already decoded the batch (the unified media sink's
    one-decode-per-batch contract) hand the (asset_id, modality,
    phash) frame in instead of paying a second decode pass.
    ``checkpoint`` is the single-writer token (operators/ownership.py):
    a fold from a foreign checkpoint, or an unattributed manual fold
    against a sink-owned index, refuses loudly before touching any
    data."""
    from . import ownership

    _require_batched(index_dir)
    meta = read_phash_manifest(index_dir)
    ownership.claim_writer(meta, checkpoint, f"phash index at {index_dir}")
    spark = new_assets.sparkSession
    b = _next_batch_id(index_dir, spark) if epoch is None else int(epoch)
    fp = perceptual_hashes(new_assets) if fingerprints is None else fingerprints
    fp.select("asset_id", "modality", "phash").write.mode("overwrite").parquet(
        f"{_fp_root(index_dir)}/batch={b}"
    )
    if epoch is not None:
        meta["last_epoch"] = int(epoch)
    if epoch is not None or checkpoint is not None:
        _write_phash_manifest(index_dir, meta)


def _tomb_path(index_dir: str) -> str:
    return f"{index_dir}/tombstones"


def _read_phash_tombstones(spark: SparkSession, index_dir: str):
    """Tombstone rows whose victim ``batch`` dir still exists — rows
    referencing compacted-away batches are inert by construction, so a
    compaction crash between the swap and the tombstone retirement can
    never re-purge a later re-add (the flat layout's hazard)."""
    if not os.path.isdir(_tomb_path(index_dir)):
        return None
    live = _live_batches(index_dir)
    return spark.read.parquet(_tomb_path(index_dir)).where(
        F.col("batch").isin(live)
    )


def _live_fingerprints(spark: SparkSession, index_dir: str) -> DataFrame:
    """The fingerprint read every dedup path uses: all batch dirs with
    tombstoned victims anti-joined out (broadcast — the tombstone set
    is bounded between compactions)."""
    df = spark.read.parquet(_fp_root(index_dir))
    tomb = _read_phash_tombstones(spark, index_dir)
    if tomb is not None:
        df = df.join(
            F.broadcast(tomb.select("asset_id", "batch")),
            ["asset_id", "batch"],
            "left_anti",
        )
    return df


def delete_from_phash_index(
    spark: SparkSession, index_dir: str, asset_ids, exclude_batch: int | None = None
) -> None:
    """Takedown / old-version retirement by TOMBSTONE — one atomic
    swap of the (asset_id, batch)-scoped tombstone table commits the
    delete; a deleted fingerprint stops acting as dedup precedent
    immediately and ``compact_phash_index`` purges it physically.
    Batch-scoped victims let a re-encoded asset delete its old
    versions and re-enter via ``update_phash_index`` without waiting
    for a compaction (the flat layout's id-scoped tombstones killed
    re-adds too).  Idempotent; unknown ids no-op.

    ``exclude_batch`` exempts one batch dir from victimhood —
    ``upsert_phash_index``'s replay guard (a crash-replayed epoch must
    not tombstone the rows its own previous attempt appended)."""
    from .retrieval import _commit_tombstones, _ids_frame

    _require_batched(index_dir)
    ids = _ids_frame(spark, asset_ids, "asset_id")
    rows = spark.read.parquet(_fp_root(index_dir)).select("asset_id", "batch")
    if exclude_batch is not None:
        rows = rows.where(F.col("batch") != int(exclude_batch))
    tomb = _read_phash_tombstones(spark, index_dir)
    stale = (
        spark.read.parquet(_tomb_path(index_dir)) if tomb is not None else None
    )
    live = (
        rows.join(tomb.select("asset_id", "batch"), ["asset_id", "batch"], "left_anti")
        if tomb is not None
        else rows
    )
    victims = live.join(F.broadcast(ids), "asset_id", "left_semi")
    new_tomb = stale.unionByName(victims) if stale is not None else victims
    _commit_tombstones(new_tomb, _tomb_path(index_dir))


def upsert_phash_index(
    spark: SparkSession,
    index_dir: str,
    new_assets: DataFrame,
    epoch: int | None = None,
    checkpoint: str | None = None,
) -> None:
    """UPSERT semantics for the stored fingerprint table — the move a
    CDC-maintained media index needs when it can't know which arriving
    assets are new and which RE-ENCODE an indexed version
    (``upsert_ivf_index``'s media twin, ivf_index.py:431): tombstone
    ANY live fingerprint under the batch's asset_ids (no-op for
    genuinely-new ids), then fold the batch in.  The new fingerprints
    land in a batch NEWER than every tombstone, so they survive the
    anti-join; dedup verdicts equal an index built fresh where each
    asset appears once in its latest encoding (tested).

    Replay-safe at BOTH crash points: the manifest's ``last_epoch``
    stamp is checked BEFORE the delete, so a crash-replayed epoch
    whose fold fully committed is a no-op; and the delete exempts
    ``batch == epoch`` rows, so a replay after a crash BETWEEN the
    batch-dir write and the manifest commit cannot tombstone the rows
    the crashed attempt appended (the epoch's dir is rewritten
    byte-identically)."""
    from . import ownership

    meta = read_phash_manifest(index_dir)
    if epoch is not None and meta.get("last_epoch", -1) >= epoch:
        return
    # probe the writer guard BEFORE the tombstone half (the stamp
    # itself commits with update_phash_index's manifest flip)
    ownership.claim_writer(dict(meta), checkpoint, f"phash index at {index_dir}")
    delete_from_phash_index(
        spark, index_dir, new_assets.select("asset_id"), exclude_batch=epoch
    )
    update_phash_index(new_assets, index_dir, epoch=epoch, checkpoint=checkpoint)


def compact_phash_index(spark: SparkSession, index_dir: str) -> None:
    """Small-file + tombstone compaction: live rows (tombstoned
    victims purged, set-semantic duplicates squashed) re-lay under a
    FRESH batch id below every existing one — never reusing a batch a
    tombstone references — then the tombstone table retires.  Every
    crash window is consistent: before the swap the original bytes
    stand; after the swap any leftover tombstones reference batch dirs
    that no longer exist and are inert (``_read_phash_tombstones``),
    so a completed-swap crash can never re-apply a tombstone to a
    later re-add of the same asset_id."""
    import shutil

    from .retrieval import _swap_tree

    _require_batched(index_dir)
    live = _live_batches(index_dir)
    newb = min(live + [-1]) - 1
    df = _live_fingerprints(spark, index_dir)
    root = _fp_root(index_dir)
    stage = root + "__stage"
    (
        df.drop("batch")
        .distinct()
        .withColumn("batch", F.lit(newb))
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite")
        .partitionBy("batch")
        .parquet(stage)
    )
    _swap_tree(stage, root)
    shutil.rmtree(_tomb_path(index_dir), ignore_errors=True)


def asset_diff(old_assets: DataFrame, new_assets: DataFrame) -> DataFrame:
    """Snapshot diff between two ASSET corpora — the media twin of
    ``corpus.corpus_diff`` / ``ivf_index.embedding_diff``: (asset_id,
    change ∈ added | removed | changed), unchanged assets excluded.
    Content identity is an md5 over the payload bytes AND the typed
    metadata (modality, dims, rate, frame count — a re-encode that
    keeps bytes but reinterprets them must count as changed).  One
    full-outer digest join over (asset_id, digest) projections — the
    payload bytes never shuffle past their scan."""

    def dig(df):
        return df.select(
            "asset_id",
            F.md5(
                F.concat_ws(
                    "|",
                    F.coalesce(F.col("modality"), F.lit("␀")),
                    F.coalesce(F.md5(F.col("payload")), F.lit("␀")),
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit("␀"))
                        for c in ("width", "height", "sample_rate", "n_frames")
                    ],
                )
            ).alias("_dg"),
        )

    o = dig(old_assets).withColumn("_po", F.lit(1))
    n = dig(new_assets).withColumn("_pn", F.lit(1))
    j = o.withColumnRenamed("_dg", "_dgo").join(
        n.withColumnRenamed("_dg", "_dgn"), "asset_id", "full_outer"
    )
    return j.select(
        "asset_id",
        F.when(F.col("_po").isNull(), F.lit("added"))
        .when(F.col("_pn").isNull(), F.lit("removed"))
        .when(F.col("_dgo") != F.col("_dgn"), F.lit("changed"))
        .alias("change"),
    ).where(F.col("change").isNotNull())


def refresh_phash_index_from_diff(
    spark: SparkSession,
    index_dir: str,
    old_assets: DataFrame,
    new_assets: DataFrame,
    epoch: int | None = None,
    checkpoint: str | None = None,
) -> None:
    """Fold an asset-snapshot transition into the stored fingerprint
    table from ``asset_diff``'s work-list — the last stored artifact
    to gain the diff-refresh leg every other index already has
    (``refresh_text_index_from_diff`` / ``refresh_minhash_index_from_diff``
    / ``refresh_ivf_index_from_diff``): removed/changed assets
    tombstone out, added/changed assets decode ONCE and fold in.
    Cost ∝ diff — the unchanged corpus is never re-decoded.  Phash
    tombstones are batch-scoped (round 8), so a changed asset's re-add
    lands in a newer batch its tombstone does not reference — no
    compaction needed between the halves (the IVF property, unlike the
    MinHash refresh).  The refreshed index answers dedup exactly as a
    fresh build on the new snapshot (tested)."""
    diff = asset_diff(old_assets, new_assets).persist()
    try:
        gone = diff.where(F.col("change").isin("removed", "changed")).select(
            "asset_id"
        )
        if not gone.isEmpty():
            delete_from_phash_index(spark, index_dir, gone)
        fresh = new_assets.join(
            diff.where(F.col("change").isin("added", "changed")).select("asset_id"),
            "asset_id",
            "left_semi",
        )
        if not fresh.isEmpty():
            update_phash_index(fresh, index_dir, epoch=epoch, checkpoint=checkpoint)
    finally:
        diff.unpersist()


def dedup_assets_against_index(
    spark: SparkSession,
    new_assets: DataFrame,
    index_dir: str,
    max_hamming: int = PHASH_BANDS - 1,
    n_bands: int = PHASH_BANDS,
) -> DataFrame:
    """Survivors of the new batch against corpus + batch (module
    docstring contract).  Does NOT update the index — call
    ``update_phash_index`` after persisting survivors, the same
    stage-then-publish discipline as ``dedup_against_index``.

    Scale shape per batch: one decode pass over the BATCH, then
    fingerprint-table equi-joins — the corpus side ships only the
    (modality, band) rows matching the batch's bands; exact hamming
    verification is an expression on the joined 8-byte pair.  Returns
    the surviving asset rows with every input column."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs > {max_hamming} bands (have {n_bands})"
        )
    _require_batched(index_dir)
    # one decode for the whole call: both the cross and within joins
    # (and the caller's later update) reuse the exchange
    par = spark.sparkContext.defaultParallelism
    new_fp = perceptual_hashes(new_assets).repartition(par, F.col("asset_id"))
    drops = dedup_drops_for_fingerprints(
        spark, new_fp, index_dir, max_hamming, n_bands
    )
    return new_assets.join(drops, "asset_id", "left_anti")


def _banded_drops(a: DataFrame, b: DataFrame, max_hamming: int) -> DataFrame:
    """Drop verdicts of batch side ``b`` against precedent side ``a``
    (banded frames): doc_a < doc_b enforces the indexed-ids-precede-
    batch contract AND makes a crash-replayed batch deterministic (the
    replay sees its own append in the index; self-pairs and larger-id
    mates are excluded exactly as within-batch)."""
    return (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.modality") == F.col("b.modality"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .where(
            F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
            <= max_hamming
        )
        .select(F.col("b.asset_id").alias("asset_id"))
        .distinct()
    )


def within_batch_drops(
    fingerprints: DataFrame,
    max_hamming: int = PHASH_BANDS - 1,
    n_bands: int = PHASH_BANDS,
) -> DataFrame:
    """Greedy within-batch drop set over an already-decoded
    fingerprint frame — the bootstrap gate of the ingest sinks (no
    index yet), same smaller-id-wins rule as the incremental path."""
    bands = _banded(fingerprints, n_bands)
    return _banded_drops(bands, bands, max_hamming)


def dedup_drops_for_fingerprints(
    spark: SparkSession,
    new_fp: DataFrame,
    index_dir: str,
    max_hamming: int = PHASH_BANDS - 1,
    n_bands: int = PHASH_BANDS,
) -> DataFrame:
    """Drop set (asset_id rows) of a batch's ALREADY-DECODED
    fingerprints against corpus index + batch — the core of
    ``dedup_assets_against_index``, exposed so a caller that computed
    the fingerprints itself (the unified media sink's one-decode
    contract) never pays a second decode pass."""
    new_bands = _banded(new_fp, n_bands)
    idx_bands = _banded(
        _live_fingerprints(spark, index_dir).select("asset_id", "modality", "phash"),
        n_bands,
    )
    return (
        _banded_drops(idx_bands, new_bands, max_hamming)
        .unionByName(_banded_drops(new_bands, new_bands, max_hamming))
        .distinct()
    )
