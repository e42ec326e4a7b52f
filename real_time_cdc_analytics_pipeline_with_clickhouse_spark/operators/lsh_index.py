"""Incremental MinHash-LSH dedup index — dedup a NEW batch against a
100 TB corpus without re-LSHing the corpus.

``fuzzy_dedup_keep`` (dedup.py) is the whole-corpus flow: every run
re-shingles, re-hashes and re-joins everything.  Real training-data
pipelines don't operate that way — the corpus is an accumulated
artifact and arrivals are incremental (a new crawl slice, a new source
dump).  The standard production answer (the RefinedWeb/SlimPajama-style
MinHash pipelines, and the same pattern ClickHouse users run with a
ReplacingMergeTree of signatures) is to PERSIST the LSH artifacts and
join each new batch against them:

- ``build_minhash_index`` writes the banded signature table
  ``(doc_id, band_id, band_key)`` plus the per-doc shingle table (for
  exact-Jaccard verification of candidates) — together ~tokens-sized,
  the storage cost every incremental-dedup deployment pays;
- ``dedup_against_index`` LSH-joins ONLY the new batch's bands
  against the index (cost ∝ batch, not corpus: the index side of the
  equi-join is shuffle-partitioned on the same (band_id, band_key)
  key and never rescanned in full per candidate), verifies candidates
  with exact Jaccard, and drops a new doc iff it near-dups an indexed
  doc or a smaller-id doc within its own batch;
- ``update_minhash_index`` appends the batch's artifacts so the next
  batch sees it;
- ``upsert_minhash_index`` is the CDC move (``upsert_phash_index`` /
  ``upsert_ivf_index``'s text twin): when a document is RE-INGESTED
  under its existing doc_id, the stale bands/shingles must stop acting
  as dedup precedent immediately — tombstone any live artifact rows
  under the batch's doc_ids (no-op for genuinely-new ids), then fold
  the batch in;
- ``delete_from_minhash_index`` / ``compact_minhash_index`` carry the
  takedown + small-file lifecycle every stored artifact in this
  engine has.

Storage layout (the artifact gained BATCH LINEAGE, the last of the
four stored indexes to get it): ``bands/batch=<id>/band_id=<b>/`` and
``shingles/batch=<id>/`` directories, built at ``batch=-1`` and folded
one directory per batch/epoch.  The lineage buys the IVF/phash
indexes' whole safety construction verbatim:

- batch-scoped tombstones ``(doc_id, batch)`` let an updated document
  kill exactly its OLD versions while its new rows (in a newer batch)
  survive the anti-join — the flat layout's id-scoped tombstones
  killed re-adds too, which forced ``refresh_minhash_index_from_diff``
  to run a FULL index compaction between the delete and re-add halves
  whenever any doc changed (a corpus-sized rewrite for a one-doc
  diff); with lineage the refresh is ∝ diff, no compaction;
- a per-epoch fold is a deterministic whole-directory overwrite, so a
  crash-replayed epoch rewrites identical bytes instead of appending
  duplicates, and the manifest's ``last_epoch`` stamp (written IN the
  fold's commit) makes a fully-committed replay a no-op;
- compaction rewrites live rows under a FRESH batch id below every
  existing one and only then retires the tombstone table — a crash
  between the swap and the retirement leaves tombstones referencing
  batch dirs that no longer exist, which ``_lsh_tombstones`` treats
  as inert, so an already-applied tombstone can never re-fire against
  a later re-add of the same doc_id.

Pre-lineage indexes (``bands/band_id=*`` directly, flat shingle files,
id-scoped tombstones) are a different artifact version: readers raise
loudly, and — unlike the phash index, whose migration is a rebuild —
the documented migration here is ``migrate_minhash_index_layout``, a
PURE-RENAME move of the existing partition dirs under ``batch=-1``
(O(directories), no data rewrite: re-shingling a 100 TB corpus to
rebuild would defeat the artifact's whole point).

Equivalence contracts (tested): when every indexed doc precedes the
batch (ids below the batch's), ``dedup_against_index`` keeps exactly
the batch rows ``fuzzy_dedup_keep`` would keep running on the full
old∪new corpus — same shingles, same signature family, same
verification threshold.  Indexed docs are immutable precedent under
plain appends; a CDC history of create/update/delete/re-create folded
through ``upsert_minhash_index`` answers dedup exactly like a fresh
index built on the net final corpus.

The manifest pins (n, k, band, hash_mode) for the artifact's lifetime
— a batch hashed with a different family would silently never collide
(every doc "survives"), the worst dedup failure mode.

KEY-BUCKETED LAYOUT (round 10): new builds add hash-bucket partition
dimensions — ``bands/batch=/band_id=/kbucket=`` with
``kbucket = crc32(band_key) % LSH_KBUCKETS`` and
``shingles/batch=/dbucket=`` with ``dbucket = crc32(doc_id) %
LSH_DBUCKETS`` — the ``retrieval`` text index's ``tbucket`` move
applied to the dedup artifact.  Why it matters at 100 TB: without it,
every ``dedup_against_index`` call SCANS the full accumulated bands
table (the join never shuffles the index side — the batch side
broadcasts — but the I/O is O(corpus) per fold, the one term in the
ingest sink's per-epoch cost that was ∝ corpus instead of ∝ batch).
With the buckets, the fold collects its batch's distinct
(band_id, kbucket) pairs (bounded by bands × LSH_KBUCKETS, a few
hundred, never by batch rows) and statically prunes the index read to
those partitions; candidate verification likewise prunes the corpus
shingle read to the candidates' ``dbucket`` dirs.  A small fold —
the CDC steady state — reads a small fraction of the corpus artifact;
a corpus-sized fold degrades gracefully to the full scan (the filter
is dropped when the pair set saturates).  Bucket counts (round 11):
the MANIFEST is authoritative for an existing artifact — every
fold/read/compaction resolves the counts it was built with from
there, so the modulus is identical across every batch dir by
construction and a deployment never edits this module to size its
grid.  New builds (and compaction, the migration cure) take the
session conf ``spark.cdcAnalytics.lsh.kbuckets`` /
``spark.cdcAnalytics.lsh.dbuckets`` when set, else the module
defaults ``LSH_KBUCKETS``/``LSH_DBUCKETS`` (sized for the local test
scale; a 100 TB deployment sets the confs to thousands).  A session
that pins a grid CONTRADICTING an artifact's manifest refuses loudly
(deployment intent vs artifact truth — pruned lookups under the
intended grid would silently miss matches; recompact to migrate).  A
bucketed tree WITHOUT manifest counts (a build crashed before its
manifest write, or an artifact of unknown provenance) is never
pruned — reads fall back to the full scan, folds append without
stamping, and the next compaction rewrites + stamps the whole tree.
The layout itself is probed from the DIRECTORIES (dirs
are ground truth through every crash window): pre-round-10 flat
artifacts keep working unpruned, folds match the existing layout, and
the first compaction upgrades the whole tree atomically (stage + swap,
per table).

Streaming form: ``streaming/pipeline.start_document_ingest_sink``
(``op_col=`` enables the CDC routing).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .concurrency import overlap_jobs
from .dedup import BAND_SIZE, N_MINHASH, _doc_shingles, minhash_signatures


# band-entry explode expression, memoized per (k, band) — the
# _minhash_aggs treatment (unresolved Columns are immutable and
# reusable; re-building the struct array costs driver py4j time on
# every incremental fold)
_BAND_EXPR_CACHE: dict[tuple[int, int], object] = {}


def _band_entries_expr(k: int, band: int):
    key = (k, band)
    if key not in _BAND_EXPR_CACHE:
        entries = [
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "_", *[F.col(f"mh_{b * band + j}") for j in range(band)]
                ).alias("band_key"),
            )
            for b in range(k // band)
        ]
        _BAND_EXPR_CACHE[key] = F.explode(F.array(*entries)).alias("bk")
    return _BAND_EXPR_CACHE[key]


def minhash_band_entries(
    documents: DataFrame,
    n: int = 3,
    k: int = N_MINHASH,
    band: int = BAND_SIZE,
    hash_mode: str = "md5",
) -> DataFrame:
    """(doc_id, band_id, band_key) — one row per doc per LSH band."""
    sig = minhash_signatures(documents, n, k, hash_mode)
    return sig.select("doc_id", _band_entries_expr(k, band)).select(
        "doc_id", F.col("bk.band_id").alias("band_id"), F.col("bk.band_key").alias("band_key")
    )


def _shingle_rows(documents: DataFrame, n: int) -> DataFrame:
    return _doc_shingles(documents, n).select("doc_id", F.explode("sh").alias("shingle"))


_LSH_MANIFEST = "_lsh_manifest.json"
_LSH_DEFAULTS = {"n": 3, "k": N_MINHASH, "band": BAND_SIZE, "hash_mode": "md5"}

# Default bucket counts for the key-bucketed layout (see the module
# docstring).  Sized for the local test scale; a 100 TB deployment
# sets the session confs below (thousands) so a fold's pruned read
# stays a small fraction of the artifact — existing artifacts resolve
# their build-time counts from the manifest, never from here.
LSH_KBUCKETS = 32
LSH_DBUCKETS = 16
KBUCKETS_CONF = "spark.cdcAnalytics.lsh.kbuckets"
DBUCKETS_CONF = "spark.cdcAnalytics.lsh.dbuckets"


def _conf_grid(spark: SparkSession | None) -> tuple[int | None, int | None]:
    """The session's explicitly-pinned grid, (None, None) when unset."""
    if spark is None:
        return None, None
    out = []
    for key in (KBUCKETS_CONF, DBUCKETS_CONF):
        v = spark.conf.get(key, None)
        out.append(int(v) if v is not None else None)
    return out[0], out[1]


def _build_grid(spark: SparkSession | None) -> tuple[int, int]:
    """Counts for a NEW bucketed tree (build, bootstrap fold, or a
    compaction rewrite): the session conf when set, else the module
    defaults."""
    ck, cd = _conf_grid(spark)
    return ck or LSH_KBUCKETS, cd or LSH_DBUCKETS


def _artifact_grid(
    index_dir: str, spark: SparkSession | None = None
) -> tuple[int | None, int | None]:
    """Authoritative counts for an EXISTING bucketed artifact — the
    manifest's, recorded when the tree was built or last recompacted.
    (None, None) means unannotated (a build crashed before its manifest
    write, or an artifact of unknown provenance): callers must NOT
    prune against it — the modulus its dirs were written with is
    unknowable, and pruning with a guessed one silently misses
    duplicates/contamination, the exact silent-survival failure mode
    this pinning exists to prevent.

    Passing ``spark`` arms the drift refusal: a session conf pinning a
    grid DIFFERENT from the manifest's raises — the deployment intends
    one grid, the artifact carries another, and the cure is
    ``compact_minhash_index`` under the conf (re-buckets the tree) or
    dropping the conf (follow the artifact)."""
    meta = _lsh_manifest(index_dir)
    mk, md = meta.get("kbuckets"), meta.get("dbuckets")
    mk = int(mk) if mk is not None else None
    md = int(md) if md is not None else None
    ck, cd = _conf_grid(spark)
    for name, pinned, conf in (("kbuckets", mk, ck), ("dbuckets", md, cd)):
        if pinned is not None and conf is not None and pinned != conf:
            raise ValueError(
                f"MinHash index at {index_dir} was bucketed with {name}="
                f"{pinned} but this session pins {name}={conf} — pruned "
                "lookups would silently miss matches; run "
                "compact_minhash_index to re-bucket it under the session's "
                "grid (or drop the conf to follow the artifact)"
            )
    return mk, md


def _kbucket_col(band_key, kbuckets: int):
    """Partition bucket of a band key.  crc32 (not the manifest's md5/
    xxh64 family) — this is LAYOUT, not dedup semantics: both sides of
    every pruned lookup compute it Spark-side with this one expression,
    so the only requirement is self-consistency under ONE modulus (the
    artifact's pinned count)."""
    return F.pmod(F.crc32(band_key), F.lit(int(kbuckets))).cast("int")


def _dbucket_col(doc_id, dbuckets: int):
    return F.pmod(F.crc32(doc_id.cast("string")), F.lit(int(dbuckets))).cast("int")


def _bands_layout(index_dir: str) -> str:
    """``'bucketed' | 'flat' | 'empty'`` — probed from the directories
    themselves.  Dirs are ground truth through every crash window (a
    manifest can be a step ahead of or behind the data; a partition
    tree cannot lie about its own shape), and Spark's partition
    discovery requires one consistent shape per read root, so writers
    MUST match what already exists."""
    root = _bands_root(index_dir)
    if not os.path.isdir(root):
        return "empty"
    for b in sorted(os.listdir(root)):
        bd = os.path.join(root, b)
        if not (b.startswith("batch=") and os.path.isdir(bd)):
            continue
        for band in sorted(os.listdir(bd)):
            inner = os.path.join(bd, band)
            if not (band.startswith("band_id=") and os.path.isdir(inner)):
                continue
            for e in sorted(os.listdir(inner)):
                if e.startswith("kbucket="):
                    return "bucketed"
                if e.endswith(".parquet"):
                    return "flat"
    return "empty"


def _shingles_layout(index_dir: str) -> str:
    root = _sh_root(index_dir)
    if not os.path.isdir(root):
        return "empty"
    for b in sorted(os.listdir(root)):
        bd = os.path.join(root, b)
        if not (b.startswith("batch=") and os.path.isdir(bd)):
            continue
        for e in sorted(os.listdir(bd)):
            if e.startswith("dbucket="):
                return "bucketed"
            if e.endswith(".parquet"):
                return "flat"
    return "empty"


def _lsh_manifest(index_dir: str) -> dict:
    """The index's pinned parameters.  Pre-manifest indexes carry no
    manifest — they were all built with the module defaults in md5
    mode, so the fallback IS their true geometry."""
    import json

    p = os.path.join(index_dir, _LSH_MANIFEST)
    if not os.path.isfile(p):
        return dict(_LSH_DEFAULTS)
    with open(p) as fh:
        meta = json.load(fh)
    return {**_LSH_DEFAULTS, **meta}


def _write_lsh_manifest(index_dir: str, meta: dict) -> None:
    import json

    os.makedirs(index_dir, exist_ok=True)
    tmp = os.path.join(index_dir, _LSH_MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(index_dir, _LSH_MANIFEST))


def _resolve_lsh_params(index_dir: str, n, k, band, hash_mode) -> tuple[int, int, int, str]:
    """Resolve per-call LSH params against the index manifest: ``None``
    means "the index's value"; an explicit value that CONTRADICTS the
    manifest raises — a batch hashed with the wrong family or band
    geometry would silently never collide with the stored corpus
    (every doc "survives"), which is the worst possible failure mode
    for a dedup gate."""
    meta = _lsh_manifest(index_dir)
    out = []
    for name, given in (("n", n), ("k", k), ("band", band), ("hash_mode", hash_mode)):
        pinned = meta[name]
        if given is not None and given != pinned:
            raise ValueError(
                f"index at {index_dir} pins {name}={pinned!r} but the call "
                f"passed {name}={given!r} — mixed LSH families never collide; "
                "rebuild the index to change its geometry"
            )
        out.append(pinned)
    return out[0], out[1], out[2], out[3]


def _bands_root(index_dir: str) -> str:
    return f"{index_dir}/bands"


def _sh_root(index_dir: str) -> str:
    return f"{index_dir}/shingles"


def _tomb_path(index_dir: str) -> str:
    return f"{index_dir}/tombstones"


def _is_legacy_layout(index_dir: str) -> bool:
    """Pre-lineage layout: band_id= dirs (or bare parquet files)
    directly under bands/ instead of batch= dirs."""
    root = _bands_root(index_dir)
    return any(
        d.startswith("band_id=") or d.endswith(".parquet") for d in os.listdir(root)
    )


def _require_batched(index_dir: str) -> None:
    root = _bands_root(index_dir)
    if not os.path.isdir(root):
        # distinguish "never built" from "compaction crashed in the
        # two-rename _swap_tree window" — the latter leaves the data
        # intact under a __old/__stage sibling, and telling the
        # operator to rebuild would throw away a recoverable index
        for suffix, hint in (
            ("__old", "rename it back over the missing root"),
            ("__stage", "rename the staged rewrite into place"),
        ):
            if os.path.isdir(root + suffix):
                raise RuntimeError(
                    f"MinHash index at {index_dir} is mid-compaction: the "
                    f"bands root is absent but {root + suffix} exists "
                    f"(compact_minhash_index crashed between its two "
                    f"renames) — {hint}; do NOT rebuild, the data is intact"
                )
        raise FileNotFoundError(
            f"no MinHash index at {index_dir} — run build_minhash_index first"
        )
    # the shingle half swaps first during compaction — its crash
    # window leaves the bands root intact, so check it explicitly
    sh = _sh_root(index_dir)
    if not os.path.isdir(sh) and any(
        os.path.isdir(sh + s) for s in ("__old", "__stage")
    ):
        raise RuntimeError(
            f"MinHash index at {index_dir} is mid-compaction: the shingles "
            f"root is absent but a {sh}__old/__stage sibling exists — rename "
            f"it back into place; do NOT rebuild, the data is intact"
        )
    if _is_legacy_layout(index_dir):
        raise ValueError(
            f"MinHash index at {index_dir} uses the pre-lineage flat layout — "
            "run migrate_minhash_index_layout (a pure-rename move under "
            "batch=-1; no data rewrite) to gain batch lineage, tombstone "
            "safety and upsert support"
        )


def live_batch_ids(index_dir: str) -> list[int]:
    root = _bands_root(index_dir)
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(root)
        if d.startswith("batch=") and os.path.isdir(os.path.join(root, d))
    )


def migrate_minhash_index_layout(spark: SparkSession, index_dir: str) -> None:
    """One-time, OFFLINE migration of a pre-lineage index to the
    batched layout: every existing ``bands/band_id=*`` dir renames
    under ``bands/batch=-1/``, flat shingle files move under
    ``shingles/batch=-1/``, and any id-scoped tombstone table rewrites
    as (doc_id, batch=-1) rows — at migration time every live row IS
    in batch -1, so the scoping is exactly equivalent (the one
    semantic change: a post-migration re-add of a tombstoned doc_id
    lands in a newer batch and SURVIVES, which is the lineage
    contract; the flat layout blocked re-adds until compaction).
    Pure directory renames — O(partition dirs), never a data rewrite,
    because re-shingling a 100 TB corpus to rebuild would defeat the
    artifact's point.  Idempotent PER HALF: the bands move, the
    shingles move and the tombstone rewrite each detect their own
    remaining legacy state and skip only what is already done — a
    crash after the bands half moved must not make a re-run early-out
    while shingles stay flat and the tombstone table keeps its
    id-scoped schema (round-8 advisor finding: gating everything on
    the bands-root check alone left such an index permanently stuck,
    every reader failing on the unresolved ``batch`` column while the
    documented cure — re-running this migration — no-op'd)."""
    from .retrieval import _commit_tombstones

    root = _bands_root(index_dir)
    if not os.path.isdir(root):
        raise FileNotFoundError(
            f"no MinHash index at {index_dir} — run build_minhash_index first"
        )
    # bands half: move any flat band_id= dirs / bare parquet files
    if _is_legacy_layout(index_dir):
        bdst = os.path.join(root, "batch=-1")
        os.makedirs(bdst, exist_ok=True)
        for d in os.listdir(root):
            if d.startswith("band_id=") or d.endswith(".parquet"):
                os.rename(os.path.join(root, d), os.path.join(bdst, d))
    # shingles half: ALWAYS scanned (not gated on the bands check) —
    # anything that is neither a batch= dir nor a Spark marker file is
    # pre-lineage flat content
    sh = _sh_root(index_dir)
    if os.path.isdir(sh):
        flat = [
            d
            for d in os.listdir(sh)
            if not (d.startswith("batch=") or d.startswith("_") or d.startswith("."))
        ]
        if flat:
            sdst = os.path.join(sh, "batch=-1")
            os.makedirs(sdst, exist_ok=True)
            for d in flat:
                os.rename(os.path.join(sh, d), os.path.join(sdst, d))
    # tombstone half: rewrite the id-scoped schema to (doc_id, batch)
    # whenever the batch column is missing, regardless of which other
    # halves already ran
    tp = _tomb_path(index_dir)
    if os.path.isdir(tp):
        legacy = spark.read.parquet(tp)
        if "batch" not in legacy.columns:
            _commit_tombstones(
                legacy.select("doc_id").distinct().withColumn("batch", F.lit(-1)), tp
            )


def build_minhash_index(
    documents: DataFrame,
    index_dir: str,
    n: int = 3,
    k: int = N_MINHASH,
    band: int = BAND_SIZE,
    hash_mode: str = "md5",
    bucketed: bool = True,
) -> None:
    """Materialize the index from the current corpus (one full pass —
    paid once, then every batch is incremental).  Rows land under
    ``batch=-1`` (the reserved build id every fold sink's adoption
    guard accepts).  The manifest pins (n, k, band, hash_mode) for the
    artifact's lifetime — incremental updates and queries resolve
    their params from it, so a batch can never be hashed with a
    different family than the stored corpus (``hash_mode="xxh64"``
    builds the production-hash index; the md5 default keeps the DuckDB
    twin).  Manifest lands after the data — on a crashed build the
    next reader sees either the old manifest with old data or no
    manifest (legacy defaults), never new params over half-written
    tables the defaults can't read anyway (overwrite is atomic per
    table via Spark's commit protocol).

    ``bucketed=True`` (the default) writes the key-bucketed layout so
    incremental lookups prune the corpus read (module docstring);
    ``bucketed=False`` reproduces the pre-round-10 flat layout (kept
    for compat tests and for corpora so small the extra partition
    dirs cost more than the pruning saves)."""
    import shutil

    # a full rebuild supersedes all pending takedowns — stale
    # tombstones reference batch ids (notably -1, which the rebuild
    # REUSES) and would silently anti-join rebuilt rows of
    # previously-deleted doc_ids out of dedup precedent (round-8
    # advisor finding)
    shutil.rmtree(_tomb_path(index_dir), ignore_errors=True)
    bands = minhash_band_entries(documents, n, k, band, hash_mode).withColumn(
        "batch", F.lit(-1)
    )
    meta = {"n": int(n), "k": int(k), "band": int(band), "hash_mode": hash_mode}
    # the two table writes are independent (separate roots; the
    # manifest — the artifact's commit — lands strictly after both),
    # so they overlap from driver threads (guide §2.6): the shingle
    # write's scan/shuffle back-fills the band write's stage tails
    if bucketed:
        # grid for the new tree: session conf else module defaults; the
        # manifest stamp below is what every later fold/read resolves
        kb, db = _build_grid(documents.sparkSession)

        def _write_bands():
            # repartition on the leaf-dir keys: each (band_id, kbucket)
            # group lands wholly in one task → one file per leaf dir,
            # not tasks × dirs
            (
                bands.withColumn("kbucket", _kbucket_col(F.col("band_key"), kb))
                .repartition(F.col("band_id"), F.col("kbucket"))
                .write.mode("overwrite")
                .partitionBy("batch", "band_id", "kbucket")
                .parquet(_bands_root(index_dir))
            )

        def _write_shingles():
            # dbucket in the keys for dir-locality, doc_id alongside so
            # the corpus-sized shingle write keeps full parallelism
            (
                _shingle_rows(documents, n)
                .withColumn("batch", F.lit(-1))
                .withColumn("dbucket", _dbucket_col(F.col("doc_id"), db))
                .repartition(F.col("dbucket"), F.col("doc_id"))
                .write.mode("overwrite")
                .partitionBy("batch", "dbucket")
                .parquet(_sh_root(index_dir))
            )

        meta.update({"kbuckets": kb, "dbuckets": db})
    else:

        def _write_bands():
            bands.write.mode("overwrite").partitionBy("batch", "band_id").parquet(
                _bands_root(index_dir)
            )

        def _write_shingles():
            (
                _shingle_rows(documents, n)
                .withColumn("batch", F.lit(-1))
                .write.mode("overwrite")
                .partitionBy("batch")
                .parquet(_sh_root(index_dir))
            )

    overlap_jobs([_write_bands, _write_shingles], spark=documents.sparkSession)
    _write_lsh_manifest(index_dir, meta)


def _next_batch_id(index_dir: str, spark: SparkSession | None = None) -> int:
    """Self-allocated batch ids must exceed every existing batch AND
    every batch a surviving tombstone references — a compaction crash
    can leave tombstones outliving their batch dirs, and reusing such
    an id would resurrect the tombstone against the new rows (the
    ``ivf_index._next_batch_id`` rule)."""
    ids = live_batch_ids(index_dir)
    if spark is not None and os.path.isdir(_tomb_path(index_dir)):
        ids = ids + [
            r["batch"]
            for r in spark.read.parquet(_tomb_path(index_dir))
            .select("batch")
            .distinct()
            .collect()
        ]
    return (max(ids) + 1) if ids else 0


def update_minhash_index(
    new_documents: DataFrame,
    index_dir: str,
    n: int | None = None,
    k: int | None = None,
    band: int | None = None,
    hash_mode: str | None = None,
    epoch: int | None = None,
    checkpoint: str | None = None,
    _overlap_extra=(),
) -> None:
    """Fold a batch's artifacts in (ALL its docs, kept or dropped — a
    dropped doc still outranks later copies of itself, exactly as in
    the batch flow where the higher id of a pair drops even when the
    lower id was itself dropped).  Params default to the index
    manifest's pinned values; explicit values must match it (see
    ``_resolve_lsh_params``).

    Pass the micro-batch ``epoch`` as the batch id for exactly-once
    streaming: shingling is deterministic and the write is a
    whole-directory overwrite of ``batch=<epoch>``, so a
    crash-replayed epoch rewrites byte-identical content; the
    manifest's ``last_epoch`` stamp (the commit) lets
    ``upsert_minhash_index`` no-op a fully-committed replay.  Batch
    callers may omit it (ids self-allocate).  ``checkpoint`` is the
    single-writer token (operators/ownership.py): a fold from a
    foreign checkpoint, or an unattributed manual fold against a
    sink-owned index, refuses loudly before touching any data.

    ``_overlap_extra`` (module-private, for ``upsert_minhash_index``):
    additional independent jobs thrown into the table-write overlap
    pool; the manifest flip — the fold's commit — still happens only
    after ALL of them settle."""
    from . import ownership

    _require_batched(index_dir)
    ownership.claim_writer(
        dict(_lsh_manifest(index_dir)), checkpoint,
        f"MinHash index at {index_dir}",
    )
    n, k, band, hash_mode = _resolve_lsh_params(index_dir, n, k, band, hash_mode)
    spark = new_documents.sparkSession
    b = _next_batch_id(index_dir, spark) if epoch is None else int(epoch)
    # a fold MUST match the existing partition shape per table (Spark
    # partition discovery needs one shape per read root); an empty tree
    # takes the modern bucketed default.  Layout probing happens per
    # table: compact_minhash_index swaps the shingle tree before the
    # bands tree, so a fold landing in that window sees one bucketed
    # and one flat table — each write follows its own table's shape
    blay, slay = _bands_layout(index_dir), _shingles_layout(index_dir)
    bucket_bands = blay != "flat"
    bucket_sh = slay != "flat"
    # manifest-authoritative grid (+ conf-drift refusal); a fold that
    # CREATES a table (empty layout) writes the build grid and stamps
    # it below — a fold into an existing bucketed-but-unannotated tree
    # writes the build grid WITHOUT stamping (the old batches' modulus
    # is unknowable; pruning stays off until compaction rewrites all)
    mk, md = _artifact_grid(index_dir, spark)
    gk, gd = _build_grid(spark)
    kb = mk if mk is not None else gk
    db = md if md is not None else gd
    bands = minhash_band_entries(new_documents, n, k, band, hash_mode)
    sh = _shingle_rows(new_documents, n)

    # independent per-table batch-dir writes overlap from driver
    # threads (guide §2.6); the manifest flip below — the fold's
    # commit — still lands strictly after both, so a crash with one
    # table written replays exactly like the sequential schedule
    # crashing between the writes (deterministic shingling rewrites
    # byte-identical dirs)
    def _write_bands():
        if bucket_bands:
            (
                bands.withColumn("kbucket", _kbucket_col(F.col("band_key"), kb))
                .repartition(F.col("band_id"), F.col("kbucket"))
                .write.mode("overwrite")
                .partitionBy("band_id", "kbucket")
                .parquet(f"{_bands_root(index_dir)}/batch={b}")
            )
        else:
            bands.write.mode("overwrite").partitionBy("band_id").parquet(
                f"{_bands_root(index_dir)}/batch={b}"
            )

    def _write_shingles():
        if bucket_sh:
            (
                sh.withColumn("dbucket", _dbucket_col(F.col("doc_id"), db))
                .repartition(F.col("dbucket"))
                .write.mode("overwrite")
                .partitionBy("dbucket")
                .parquet(f"{_sh_root(index_dir)}/batch={b}")
            )
        else:
            sh.write.mode("overwrite").parquet(f"{_sh_root(index_dir)}/batch={b}")

    overlap_jobs([_write_bands, _write_shingles, *_overlap_extra], spark=spark)
    meta = _lsh_manifest(index_dir)
    if bucket_bands and blay == "empty":
        meta.setdefault("kbuckets", kb)
    if bucket_sh and slay == "empty":
        meta.setdefault("dbuckets", db)
    if epoch is not None:
        meta["last_epoch"] = int(epoch)
    ownership.claim_writer(meta, checkpoint, f"MinHash index at {index_dir}")
    # an index bootstrapped by appends (a streaming sink's first epoch)
    # pins its resolved params too, not just built ones
    _write_lsh_manifest(index_dir, meta)


def parquet_file_count(path: str) -> int:
    """Data files under ``path`` (recursive; parquet only) — the
    small-file health metric compaction is judged by."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(1 for f in files if f.endswith(".parquet"))
    return total


def _lsh_tombstones(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """(doc_id, batch) tombstone rows whose victim ``batch`` dir still
    exists — rows referencing compacted-away batches are inert by
    construction, so a compaction crash between the swap and the
    tombstone retirement can never re-purge a later re-add (the flat
    layout's hazard, closed structurally)."""
    if not os.path.isdir(_tomb_path(index_dir)):
        return None
    live = live_batch_ids(index_dir)
    return spark.read.parquet(_tomb_path(index_dir)).where(F.col("batch").isin(live))


def _live_bands(
    spark: SparkSession, index_dir: str, band_pairs=None
) -> DataFrame:
    """The band read every dedup/decontamination path uses: all batch
    dirs with tombstoned victims anti-joined out (broadcast — the
    tombstone set is bounded between compactions).

    ``band_pairs`` — an iterable of (band_id, kbucket) ints — statically
    prunes a bucketed tree to those partition dirs (the expression over
    the two partition columns lands in the scan's PartitionFilters;
    plan-asserted in tests).  Correctness: every index row that can
    equi-join a batch row on (band_id, band_key) shares its kbucket by
    construction, so pruning to the batch's pairs loses no candidate.
    Ignored on flat (pre-round-10) trees, which carry no kbucket."""
    df = spark.read.parquet(_bands_root(index_dir))
    if band_pairs is not None and "kbucket" in df.columns:
        df = df.where(
            F.concat_ws("/", F.col("band_id"), F.col("kbucket")).isin(
                [f"{int(b)}/{int(kb)}" for b, kb in band_pairs]
            )
        )
    tomb = _lsh_tombstones(spark, index_dir)
    if tomb is not None:
        df = df.join(
            F.broadcast(tomb.select("doc_id", "batch")), ["doc_id", "batch"], "left_anti"
        )
    return df.select("doc_id", "band_id", "band_key")


def _live_shingles(
    spark: SparkSession, index_dir: str, dbuckets=None
) -> DataFrame:
    """``dbuckets`` prunes a bucketed shingle tree to the listed
    ``dbucket`` partitions — pass the distinct buckets of the candidate
    doc ids (≤ the artifact's pinned dbuckets values) so exact-Jaccard
    verification reads only the dirs that can hold a candidate's
    shingles."""
    df = spark.read.parquet(_sh_root(index_dir))
    if dbuckets is not None and "dbucket" in df.columns:
        df = df.where(F.col("dbucket").isin([int(x) for x in dbuckets]))
    tomb = _lsh_tombstones(spark, index_dir)
    if tomb is not None:
        df = df.join(
            F.broadcast(tomb.select("doc_id", "batch")), ["doc_id", "batch"], "left_anti"
        )
    return df.select("doc_id", "shingle")


def delete_from_minhash_index(
    spark: SparkSession,
    index_dir: str,
    doc_ids,
    exclude_batch: int | None = None,
    victims_from_shingles: bool = False,
) -> None:
    """Remove documents from the dedup index by TOMBSTONE — the
    takedown / right-to-be-forgotten path AND the old-version
    retirement half of ``upsert_minhash_index``: a deleted doc stops
    acting as dedup PRECEDENT immediately (``dedup_against_index``
    anti-joins its bands and shingles out of the corpus side), and the
    next ``compact_minhash_index`` purges its rows physically and
    retires the tombstones.  One atomic tombstone-table swap commits
    the delete; idempotent, unknown ids are no-ops.

    Tombstones are (doc_id, batch)-scoped: a re-ingested doc_id's new
    rows land in a NEWER batch no tombstone references, so re-adds
    take effect immediately — no compaction required between a delete
    and a re-add (the flat layout's documented wart, gone).

    ``exclude_batch`` exempts one batch dir from victimhood —
    ``upsert_minhash_index``'s replay guard (a crash-replayed epoch
    must not tombstone the rows its own previous attempt appended).

    ``doc_ids``: a list of ids or a DataFrame with a ``doc_id``
    column.

    ``victims_from_shingles=True`` locates the victim (doc_id, batch)
    pairs from the SHINGLE table pruned to the ids' ``dbucket``
    partitions instead of a full bands scan — lossless, because bands
    and shingles are written per batch from the SAME post-shingling
    document set (``minhash_signatures`` aggregates over
    ``_doc_shingles``, so a doc has band rows iff it has shingle
    rows), and at 100 TB it turns the per-epoch CDC delete from an
    O(corpus) column scan into an O(ids' buckets) read.  It is the
    UPSERT path's option only: a fold's bands and shingles writes
    OVERLAP (either table can land first), so an EXTERNAL takedown
    racing an in-flight fold could miss that epoch's just-written rows
    in whichever table it scans — harmless for ``upsert`` (its
    ``exclude_batch == epoch`` already exempts the only batch that can
    be mid-write under the single-writer contract), a silent
    takedown-incompleteness for anyone else, so external callers keep
    the bands scan and the takedown entry points enforce the
    stream-stopped precondition before scanning anything."""
    from .retrieval import _commit_tombstones, _ids_frame

    _require_batched(index_dir)
    ids = _ids_frame(spark, doc_ids, "doc_id")

    def _victim_scan(root: str):
        """Read a victim table's (doc_id, batch) rows.  With
        ``exclude_batch`` the read enumerates the OTHER batch dirs
        explicitly (basePath keeps the partition columns) instead of
        listing the root and filtering: the excluded batch is the one
        dir a concurrent fold of that epoch may be writing or (on
        crash replay) overwriting, and never listing it makes this
        scan immune to that churn — which is what lets
        ``upsert_minhash_index`` overlap its delete half with the
        fold's table writes."""
        if exclude_batch is None:
            return spark.read.parquet(root)
        dirs = [
            f"{root}/{d}"
            for d in sorted(os.listdir(root))
            if d.startswith("batch=")
            and d != f"batch={int(exclude_batch)}"
        ]
        if not dirs:
            return spark.createDataFrame([], "doc_id long, batch int")
        return spark.read.option("basePath", root).parquet(*dirs)

    # victim (doc_id, batch) pairs: bands and shingles are written per
    # batch from the SAME document set, so a doc's shingle rows always
    # share a batch id with its band rows
    md = None
    if victims_from_shingles and _shingles_layout(index_dir) == "bucketed":
        md = _artifact_grid(index_dir, spark)[1]
    if md is not None:
        dbl = [
            r["db"]
            for r in ids.select(_dbucket_col(F.col("doc_id"), md).alias("db"))
            .distinct()
            .collect()
        ]
        sh_scan = _victim_scan(_sh_root(index_dir))
        rows = (
            (
                sh_scan.where(F.col("dbucket").isin(dbl))
                if "dbucket" in sh_scan.columns
                else sh_scan
            )
            .select("doc_id", "batch")
        )
    else:
        # flat tree, caller keeping the bands scan, or an unannotated
        # bucketed tree (modulus unknowable — pruning would silently
        # miss victims; the full scan is always correct)
        rows = _victim_scan(_bands_root(index_dir)).select("doc_id", "batch")
    tomb = _lsh_tombstones(spark, index_dir)
    stale = spark.read.parquet(_tomb_path(index_dir)) if tomb is not None else None
    live = (
        rows.join(tomb.select("doc_id", "batch"), ["doc_id", "batch"], "left_anti")
        if tomb is not None
        else rows
    )
    victims = (
        live.join(F.broadcast(ids), "doc_id", "left_semi")
        .select("doc_id", "batch")
        .distinct()
    )
    new_tomb = stale.unionByName(victims) if stale is not None else victims
    _commit_tombstones(new_tomb, _tomb_path(index_dir))


def upsert_minhash_index(
    spark: SparkSession,
    index_dir: str,
    new_documents: DataFrame,
    epoch: int | None = None,
    checkpoint: str | None = None,
) -> None:
    """UPSERT semantics for the stored LSH artifacts — the move a
    CDC-maintained text-dedup index needs when it can't know which
    arriving docs are new and which RE-INGEST an indexed version
    (``upsert_phash_index`` / ``upsert_ivf_index``'s text twin):
    tombstone ANY live artifact rows under the batch's doc_ids (no-op
    for genuinely-new ids), then fold the batch in.  The new rows land
    in a batch NEWER than every tombstone, so they survive the
    anti-join; dedup verdicts equal an index built fresh where each
    doc appears once in its latest text (tested).

    Replay-safe at BOTH crash points: the manifest's ``last_epoch``
    stamp is checked BEFORE the delete, so a crash-replayed epoch
    whose fold fully committed is a no-op; and the delete exempts
    ``batch == epoch`` rows, so a replay after a crash BETWEEN the
    batch-dir write and the manifest commit cannot tombstone the rows
    the crashed attempt appended (the epoch's dirs are rewritten
    byte-identically).

    With a known ``epoch`` the delete half OVERLAPS the fold's table
    writes (guide §2.6) instead of strictly preceding them: the two
    halves touch disjoint paths (tombstone table vs ``batch=epoch``
    dirs — the victim scan never even LISTS the epoch's dir, see
    ``delete_from_minhash_index``), and the manifest flip — the one
    commit point — still happens only after both settle, so every
    crash window replays exactly as the sequential schedule's.
    ``epoch=None`` keeps the sequential order: the fold self-allocates
    its batch id, so the victim scan has no stable dir to exclude."""
    from . import ownership

    meta = _lsh_manifest(index_dir)
    if epoch is not None and meta.get("last_epoch", -1) >= epoch:
        return
    # probe the writer guard BEFORE the tombstone half (the stamp
    # itself commits with update_minhash_index's manifest flip)
    ownership.claim_writer(dict(meta), checkpoint, f"MinHash index at {index_dir}")

    def _delete_half():
        delete_from_minhash_index(
            spark,
            index_dir,
            new_documents.select("doc_id"),
            exclude_batch=epoch,
            # safe HERE and only here: exclude_batch exempts the one
            # batch that can be mid-write under the single-writer
            # contract (see delete_from_minhash_index)
            victims_from_shingles=True,
        )

    if epoch is None:
        _delete_half()
        update_minhash_index(new_documents, index_dir, checkpoint=checkpoint)
    else:
        update_minhash_index(
            new_documents, index_dir, epoch=epoch, checkpoint=checkpoint,
            _overlap_extra=(_delete_half,),
        )


def compact_minhash_index(spark: SparkSession, index_dir: str) -> None:
    """Small-file + tombstone compaction for the appended index — the
    MergeTree background-merge analog ``warehouse.compact_warehouse``
    applies to facts, applied to the index artifacts.  Every
    ``update_minhash_index`` adds one file set per table; after N
    batches the band equi-join pays N× the file-open/footer overhead
    and row-group stats degrade.  Live rows (tombstoned victims
    purged, set-semantic duplicates squashed — a (doc, band, key) or
    (doc, shingle) row means membership, never a count, and
    ``_verified`` distinct's before counting) re-lay under a FRESH
    batch id below every existing one — never reusing a batch a
    tombstone references — bands as one sorted file per
    ``(band_id, kbucket)`` leaf, shingles one file per ``dbucket``;
    then the tombstone table retires.  Compaction ALWAYS emits the
    key-bucketed layout (module docstring): it is the upgrade path for
    pre-round-10 flat artifacts (the whole tree rewrites anyway, and
    the stage+swap makes the layout flip atomic per table) and the
    re-bucketing cure when the deployment's bucket constants changed
    (the full reads here never prune, so they are modulus-agnostic).
    Every crash window is consistent: before a swap the
    original bytes stand; between the two swaps the surviving
    tombstones still anti-join whatever table wasn't purged; after
    both, any leftover tombstones reference batch dirs that no longer
    exist and are inert (``_lsh_tombstones``).  Logical content is
    unchanged (tested: dedup results identical before/after) and any
    crash-replay append residue is squashed."""
    import shutil

    from .retrieval import _swap_tree

    _require_batched(index_dir)
    newb = min(live_batch_ids(index_dir) + [-1]) - 1
    broot, sroot = _bands_root(index_dir), _sh_root(index_dir)
    # the rewrite's target grid: the session conf when set (compaction
    # IS the grid-migration cure, so the conf wins over the manifest
    # here), else the artifact's own pinned counts, else the defaults.
    # The full reads below never prune, so they are modulus-agnostic —
    # safe against drifted AND unannotated trees alike.
    ck, cd = _conf_grid(spark)
    mk, md = _artifact_grid(index_dir)
    kb = ck or mk or LSH_KBUCKETS
    db = cd or md or LSH_DBUCKETS

    # BOTH stage trees materialize before EITHER swap: the live-row
    # reads resolve tombstones against the pre-compaction batch ids
    # (a swap first would re-home the bands under the fresh id and
    # turn the tombstones inert before the shingle purge ran)
    bands = (
        _live_bands(spark, index_dir)
        .distinct()
        .withColumn("batch", F.lit(newb))
        .withColumn("kbucket", _kbucket_col(F.col("band_key"), kb))
    )
    bstage = broot + "__stage"
    sh = (
        _live_shingles(spark, index_dir)
        .distinct()
        .withColumn("batch", F.lit(newb))
        .withColumn("dbucket", _dbucket_col(F.col("doc_id"), db))
    )
    sstage = sroot + "__stage"

    # the two stage writes read disjoint source trees and land in
    # disjoint stage dirs — overlap them (guide §2.6); the pool join
    # keeps the "both stages before either swap" invariant
    def _stage_bands():
        (
            bands.repartition(F.col("band_id"), F.col("kbucket"))
            .sortWithinPartitions("band_id", "kbucket", "band_key")
            .write.mode("overwrite")
            .partitionBy("batch", "band_id", "kbucket")
            .parquet(bstage)
        )

    def _stage_shingles():
        (
            sh.repartition(F.col("dbucket"))
            .write.mode("overwrite")
            .partitionBy("batch", "dbucket")
            .parquet(sstage)
        )

    overlap_jobs([_stage_bands, _stage_shingles], spark=spark)
    # grid MIGRATION hazard: if the rewrite changes the modulus, the
    # pre-compaction manifest counts would mislabel the newly-swapped
    # dirs through any crash window between the swaps and the final
    # stamp — pruned reads would silently miss matches, the exact
    # failure this pinning prevents.  Un-annotate the manifest FIRST:
    # an unannotated bucketed tree is never pruned (always-correct full
    # scans), so every window below degrades to unpruned, never wrong;
    # the stamp at the end (or the crash-recovery re-run's) restores
    # pruning.  Unchanged-grid compactions skip this (no hazard, no
    # pruning outage).
    meta = _lsh_manifest(index_dir)
    if (mk is not None and mk != kb) or (md is not None and md != db):
        meta.pop("kbuckets", None)
        meta.pop("dbuckets", None)
        _write_lsh_manifest(index_dir, meta)
    # shingles swap FIRST: candidacy is decided by the bands table, so
    # while the bands are unpurged the tombstones (which resolve
    # against the BANDS batch dirs) stay valid and victims still can't
    # candidate; a crash in this window re-runs cleanly.  Bands swap
    # second; after it any surviving tombstones reference batch dirs
    # that no longer exist and are inert
    _swap_tree(sstage, sroot)
    _swap_tree(bstage, broot)
    shutil.rmtree(_tomb_path(index_dir), ignore_errors=True)
    # record the grid the rewrite used — the authority every later
    # fold/read resolves
    meta["kbuckets"], meta["dbuckets"] = kb, db
    _write_lsh_manifest(index_dir, meta)


def _verified(cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs; shingle frames
    may come from different places (index parquet vs freshly
    computed).  Cost ∝ candidates — the shingle frames are semi-joined
    down to candidate docs BEFORE any aggregation (sh_a is the
    accumulated corpus index: counting it unrestricted would make
    every incremental batch pay a corpus-wide shuffle), and the
    shingle joins are equi-keyed on (doc, shingle), never
    corpus×corpus.  The candidate-restricted shingle rows are
    DISTINCT'd before counting: Jaccard is a SET ratio, and a
    crash-replayed index append that duplicated a doc's shingle rows
    must not corrupt it (duplicate-tolerance is half of the ingest
    sink's exactly-once story)."""
    ea = (
        sh_a.join(
            cand.select(F.col("doc_a").alias("doc_id")).distinct(), "doc_id", "left_semi"
        )
        .select(F.col("doc_id").alias("doc_a"), "shingle")
        .distinct()
    )
    eb = (
        sh_b.join(
            cand.select(F.col("doc_b").alias("doc_id")).distinct(), "doc_id", "left_semi"
        )
        .select(F.col("doc_id").alias("doc_b"), "shingle")
        .distinct()
    )
    common = (
        cand.join(ea, "doc_a")
        .join(eb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    na = ea.groupBy("doc_a").agg(F.count("*").alias("n_a"))
    nb = eb.groupBy("doc_b").agg(F.count("*").alias("n_b"))
    return (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            >= threshold
        )
        .select("doc_a", "doc_b")
    )


def dedup_against_index(
    spark: SparkSession,
    new_documents: DataFrame,
    index_dir: str,
    n: int | None = None,
    k: int | None = None,
    band: int | None = None,
    threshold: float = 0.5,
    hash_mode: str | None = None,
) -> DataFrame:
    """Survivors of the new batch against corpus + batch (see module
    docstring for the contract).  Does NOT update the index — call
    ``update_minhash_index`` after persisting the survivors, so a
    failed run retries cleanly (the same stage-then-publish discipline
    as the warehouse sink).  LSH params resolve from the index
    manifest (``None`` = pinned value; a contradiction raises)."""
    _require_batched(index_dir)
    n, k, band, hash_mode = _resolve_lsh_params(index_dir, n, k, band, hash_mode)
    new_bands = minhash_band_entries(new_documents, n, k, band, hash_mode)
    new_sh = _shingle_rows(new_documents, n)

    # bucketed index: prune the corpus reads to the batch's partitions
    # (module docstring — the term that makes fold I/O ∝ batch instead
    # of ∝ corpus).  The pair/bucket collects are bounded by the bucket
    # grids (bands × LSH_KBUCKETS and LSH_DBUCKETS), never by batch
    # rows, and the frames they force are persisted for reuse; the
    # final drop set is localCheckpoint'ed (≤ batch rows) so the
    # intermediates can unpersist and downstream actions on the
    # returned survivors never replay the verdict
    # the artifact's pinned grid is the pruning modulus; an unannotated
    # bucketed tree (None counts) is never pruned — the modulus its
    # dirs were written with is unknowable, and the full scan is
    # always correct
    mk, md = (
        _artifact_grid(index_dir, spark)
        if _bands_layout(index_dir) == "bucketed"
        or _shingles_layout(index_dir) == "bucketed"
        else (None, None)
    )
    bucket_bands = mk is not None and _bands_layout(index_dir) == "bucketed"
    bucket_sh = md is not None and _shingles_layout(index_dir) == "bucketed"
    # the eager pruning machinery (persist, two bounded collects, a
    # localCheckpoint of the drop set) pays for itself only when the
    # batch's bucket coverage is a small fraction of the grid — a
    # corpus-sized batch saturates every bucket and would pay the
    # extra jobs to prune nothing, so it takes the plain lazy path
    # (identical to the pre-bucketing flow).  One cheap batch-sized
    # job decides.
    pruned = False
    pairs = None
    if bucket_bands:
        new_bands = new_bands.persist()
        pairs = [
            (r["band_id"], r["kb"])
            for r in new_bands.select(
                "band_id", _kbucket_col(F.col("band_key"), mk).alias("kb")
            )
            .distinct()
            .collect()
        ]
        if len(pairs) > ((k // band) * mk) // 2:
            pairs = None  # saturated — the filter would prune little
            new_bands.unpersist()
        else:
            pruned = True
    bucket_sh = bucket_sh and pruned
    idx_bands = _live_bands(spark, index_dir, band_pairs=pairs)

    # batch × index candidates: indexed doc is always doc_a (precedent).
    # doc_a < doc_b ENFORCES the module contract (indexed docs precede
    # the batch — ids below it) instead of trusting it; it also makes a
    # crash-REPLAYED batch deterministic: the replay sees its own
    # append in the index, but self-pairs and larger-id batch-mates are
    # excluded here exactly as the within-batch rule excludes them, so
    # the replayed keep set is identical to the original
    cross = (
        idx_bands.alias("a")
        .join(
            new_bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    if bucket_sh:
        cross = cross.persist()
        dbl = [
            r["db"]
            for r in cross.select(_dbucket_col(F.col("doc_a"), md).alias("db"))
            .distinct()
            .collect()
        ]
        idx_sh = _live_shingles(
            spark, index_dir, dbuckets=dbl if len(dbl) < md else None
        )
    else:
        idx_sh = _live_shingles(spark, index_dir)

    # batch-internal candidates: smaller id wins, as in fuzzy_dedup_keep
    a, b = new_bands.alias("a"), new_bands.alias("b")
    within = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    # ONE fused verification over cross ∪ within (round 11): the two
    # halves used to run _verified separately — ~12 shuffle stages
    # where 6 suffice, and at small-batch scale the per-query-stage
    # scheduling overhead IS the fold's cost (measured: the verify
    # step was 5-7 s of a 10 s 5-doc fold).  The doc_a shingle source
    # becomes idx_sh ∪ new_sh, which resolves per pair exactly as the
    # split verification did because doc_a ids are disjoint across the
    # sources by the module contract (indexed docs precede the batch;
    # doc_a < doc_b enforces it): a cross pair's doc_a is indexed-only,
    # a within pair's doc_a is batch-only.  The one overlap case — a
    # crash-REPLAYED epoch sees its own append under the batch's ids —
    # is harmless: the replayed rows are byte-identical to the batch's
    # fresh shingles (deterministic overwrite) and _verified DISTINCTs
    # its shingle sets, so the union collapses to the same set.
    cand = cross.unionByName(within).distinct()
    drops = _verified(
        cand, idx_sh.unionByName(new_sh), new_sh, threshold
    ).select(F.col("doc_b").alias("doc_id")).distinct()
    if pruned:
        drops = drops.localCheckpoint(eager=True)
        new_bands.unpersist()
        if bucket_sh:
            cross.unpersist()
    return new_documents.join(drops, "doc_id", "left_anti").select("doc_id", "lang", "source")


def refresh_minhash_index_from_diff(
    spark: SparkSession,
    index_dir: str,
    old_documents: DataFrame,
    new_documents: DataFrame,
    n: int | None = None,
    k: int | None = None,
    band: int | None = None,
    hash_mode: str | None = None,
    checkpoint: str | None = None,
) -> None:
    """Fold a corpus-snapshot transition into the stored MinHash index
    from ``corpus_diff``'s work-list — the same incremental contract
    as ``retrieval.refresh_text_index_from_diff``: removed/changed
    docs tombstone out (they stop acting as dedup/decontamination
    precedent), added/changed docs append their bands+shingles, and
    the result answers ``dedup_against_index`` /
    ``decontaminate_against_index`` exactly as a fresh build on the
    new snapshot (tested).  Cost ∝ diff, never a re-LSH of the corpus:
    tombstones are batch-scoped, so a changed doc's re-add lands in a
    newer batch its tombstone does not reference — no compaction
    needed between the halves (the property the flat layout lacked,
    where this helper had to run a full index rewrite whenever any
    doc changed)."""
    from .corpus import corpus_diff

    diff = corpus_diff(old_documents, new_documents).persist()
    try:
        gone = diff.where(F.col("change").isin("removed", "changed")).select("doc_id")
        fresh = new_documents.join(
            diff.where(F.col("change").isin("added", "changed")).select("doc_id"),
            "doc_id",
            "left_semi",
        )
        if not gone.isEmpty():
            delete_from_minhash_index(spark, index_dir, gone)
        if not fresh.isEmpty():
            update_minhash_index(
                fresh, index_dir, n, k, band, hash_mode, checkpoint=checkpoint
            )
    finally:
        diff.unpersist()
