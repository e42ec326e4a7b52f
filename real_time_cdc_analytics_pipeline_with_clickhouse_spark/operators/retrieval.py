"""Lexical retrieval over the document corpus (north-star extension).

``bm25_topk`` ranks documents against a bag-of-terms query with the
BM25 weighting (Robertson/Spärck Jones probabilistic relevance — the
default lexical ranker in Lucene/Elasticsearch), complementing the
embedding-side ANN operators: hybrid pipelines retrieve lexically AND
semantically, then fuse (``rrf_fuse``).

Scale shape at 100 TB:

- the query-term filter lands BEFORE any aggregation, so the only
  per-corpus work is the tokenize+filter scan — the shuffled
  term-frequency table holds just (candidate doc × query term) rows;
- per-term document frequencies are |query| rows → broadcast join;
- corpus stats (N, avgdl) are a one-row aggregate → broadcast
  cross join (a length scan the warehouse would keep as a stored
  per-doc column anyway — pass ``doc_lengths`` to skip the recount);
- the final ranking sorts only candidate docs (bounded by term
  selectivity), never the corpus.

Everything is native Catalyst expressions (explode, groupBy, ln) —
no Python in the row path — and scores round to 4 dp before ranking
so the DuckDB oracle (tests/test_consolidated.py) is bit-stable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions.text import tokens
from ..storage import _swap_tree  # the one rename commit; index writers import it from here

BM25_K1 = 1.2
BM25_B = 0.75


def doc_lengths(documents: DataFrame) -> DataFrame:
    """(doc_id, dl) token lengths — store this next to the corpus at
    scale; every retrieval call needs it."""
    return documents.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("dl")
    )


def bm25_topk(
    documents: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    lengths: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query under BM25.

    score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
    idf(t)   = ln((N − df(t) + 0.5) / (df(t) + 0.5) + 1)

    Terms are matched against the same normalized token stream every
    text operator uses (lowercase, alnum runs), so feed lowercase
    query terms.  Deterministic total order: (rounded score DESC,
    doc_id) — the k-boundary never depends on engine sort stability.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    qt = [t.lower() for t in query_terms]
    dlen = lengths if lengths is not None else doc_lengths(documents)
    stats = dlen.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        documents.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("term")
        )
        .where(F.col("term").isin(qt))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    part = F.col("tf") * (k1 + 1.0) / (
        F.col("tf")
        + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(dft), "term")
        .join(dlen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * part), 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(k)
    )


_TIX_MANIFEST = "_text_index_manifest.json"
_TIX_SEED = "tix:"


def _term_bucket_py(term: str, buckets: int) -> int:
    """Python twin of the posting-list bucket key — md5-derived like
    ``portable_hash64`` so driver-side query planning and the stored
    layout always agree."""
    import hashlib

    return int(hashlib.md5((_TIX_SEED + term).encode()).hexdigest()[:15], 16) % buckets


def _tix_paths(index_dir: str):
    return f"{index_dir}/postings", f"{index_dir}/lengths", f"{index_dir}/{_TIX_MANIFEST}"


def _write_tix_manifest(index_dir: str, meta: dict) -> None:
    import json
    import os

    os.makedirs(index_dir, exist_ok=True)
    tmp = f"{index_dir}/{_TIX_MANIFEST}.tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, f"{index_dir}/{_TIX_MANIFEST}")


def read_text_index_manifest(index_dir: str) -> dict:
    import json
    import os

    path = f"{index_dir}/{_TIX_MANIFEST}"
    if not os.path.isfile(path):
        raise FileNotFoundError(
            f"no text index at {index_dir} — build_text_index first"
        )
    with open(path) as f:
        return json.load(f)


def _require_positional(index_dir: str, meta: dict) -> None:
    """Refuse to mix schemas: an index persisted before postings grew
    the ``positions`` column must be rebuilt, not appended to or
    compacted — a mixed-schema postings tree would crash or silently
    null-fill depending on which footer drives schema inference."""
    if not meta.get("positions"):
        raise ValueError(
            f"text index at {index_dir} predates positional postings — "
            "rebuild with build_text_index before updating or compacting"
        )


def _postings(documents: DataFrame, buckets: int) -> DataFrame:
    """(doc_id, term, tf, positions, tbucket) — POSITIONAL postings:
    ``positions`` holds the term's 1-based token offsets (sorted), so
    the index answers phrase queries too; ``tf`` stays the
    ranking-path column (= size(positions)) and BM25 reads never
    touch the positions bytes (column pruning, plan-asserted)."""
    from ..functions.scalar import portable_hash64
    from ..functions.text import doc_token_col

    return (
        documents.select(
            "doc_id", F.posexplode(doc_token_col(documents)).alias("pos", "term")
        )
        .groupBy("doc_id", "term")
        .agg(
            F.count("*").alias("tf"),
            F.sort_array(F.collect_list((F.col("pos") + 1).cast("int"))).alias(
                "positions"
            ),
        )
        .withColumn(
            "tbucket",
            F.pmod(
                portable_hash64(F.col("term"), seed=_TIX_SEED), F.lit(buckets)
            ).cast("int"),
        )
    )


def build_text_index(
    documents: DataFrame, index_dir: str, buckets: int = 64
) -> None:
    """Persist the inverted text index — the stored-artifact form of
    ``bm25_topk``, mirroring ``lsh_index``/``ivf_index``: tokenize the
    corpus ONCE at build, answer queries forever after without
    touching document text.

    Layout: ``postings/batch=/tbucket=`` — (doc_id, term, tf) rows
    partitioned by a term-hash bucket, so a query prunes its scan to
    |query| partition directories; ``lengths/batch=`` — the per-doc
    token lengths every BM25 call needs; a manifest holding the
    ADDITIVE corpus stats (n_docs, sum_dl) so incremental updates
    never rescan history.  Per-term document frequencies are NOT
    stored: the query recounts them from its own pruned postings
    (|candidates| rows), which keeps updates append-only.  Every
    batch owns its whole ``batch=`` directory (written as an
    overwrite of deterministic content), so a crash-replayed batch
    rewrites identical bytes instead of appending twice."""
    post, lens, _ = _tix_paths(index_dir)
    n, s = _write_tix_batch(documents, post, lens, -1, buckets)
    _write_tix_manifest(
        index_dir,
        {
            "n_docs": n,
            "sum_dl": s,
            "buckets": int(buckets),
            "seed": _TIX_SEED,
            "last_epoch": -1,
            "positions": True,
        },
    )


def _write_tix_batch(
    documents: DataFrame, post: str, lens: str, batch_id: int, buckets: int
) -> tuple[int, int]:
    """Write one batch's postings, then derive its lengths table FROM
    the same materialized postings (|d| = Σ_t tf(t,d) — the normalized
    token stream has no token outside a posting row), so each batch
    tokenizes exactly once.  Returns the batch's (n_docs, sum_dl).

    Round 11: the postings persist for the lengths derivation (the
    pre-round-11 code re-READ the just-written batch dir from disk)
    and the manifest stats ride the lengths write as an
    ``Observation`` (the second read-back job, gone) — two jobs per
    fold instead of three, no disk round-trips.  The two writes are
    independent consumers of the persisted postings (tokenization is
    deterministic, so even a racing first materialization of the cache
    yields identical blocks) and their batch dirs are disjoint, so
    they OVERLAP from driver threads (guide §2.6); the caller's
    manifest fold — the commit — happens strictly after both."""
    from pyspark.sql import Observation

    from .concurrency import overlap_jobs

    post_df = (
        _postings(documents, buckets)
        .select("doc_id", "term", "tf", "positions", "tbucket")
        .persist()
    )
    obs = Observation()
    try:

        def _write_postings():
            post_df.write.mode("overwrite").partitionBy("tbucket").parquet(
                f"{post}/batch={batch_id}"
            )

        def _write_lengths():
            dl = post_df.groupBy("doc_id").agg(
                F.sum("tf").cast("int").alias("dl")
            )
            dl.observe(
                obs, F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
            ).write.mode("overwrite").parquet(f"{lens}/batch={batch_id}")

        overlap_jobs(
            [_write_postings, _write_lengths], spark=documents.sparkSession
        )
        stats = obs.get
    finally:
        post_df.unpersist()
    return int(stats["n"] or 0), int(stats["s"] or 0)


def update_text_index(
    new_documents: DataFrame, index_dir: str, epoch: int | None = None,
    checkpoint: str | None = None,
) -> None:
    """Fold a new batch in map-side: its postings and lengths land as
    whole-directory OVERWRITES of their own ``batch=`` dirs in the
    SAME term-bucket layout (no old posting is read or rewritten —
    proven by mtime in tests), then the manifest's additive stats
    fold the batch in.  Streaming callers pass ``epoch``: the batch
    dir is named by it (deterministic tokenization ⇒ a replay
    rewrites identical bytes) and the manifest's ``last_epoch`` stamp
    makes a replayed stats fold a no-op — exactly-once through every
    crash window.  Callers dedup doc_ids upstream (the document ingest
    sink does).  ``checkpoint`` is the single-writer token
    (operators/ownership.py): a fold from a foreign checkpoint, or an
    unattributed manual fold against a sink-owned index, refuses
    loudly before touching any data."""
    import os

    from . import ownership

    meta = read_text_index_manifest(index_dir)
    _require_positional(index_dir, meta)
    if epoch is not None and meta.get("last_epoch", -1) >= epoch:
        return
    ownership.claim_writer(meta, checkpoint, f"text index at {index_dir}")
    post, lens, _ = _tix_paths(index_dir)
    if epoch is not None:
        bid = epoch
    else:
        # self-allocated ids must exceed every existing batch AND every
        # batch a surviving tombstone references — a compaction crash
        # can leave tombstones outliving their batch dirs, and reusing
        # such an id would resurrect the tombstone against the new rows
        taken = [
            int(d.split("=", 1)[1])
            for d in os.listdir(post)
            if d.startswith("batch=")
        ]
        if os.path.isdir(_tomb_path(index_dir)):
            taken += [
                r["batch"]
                for r in new_documents.sparkSession.read.parquet(
                    _tomb_path(index_dir)
                )
                .select("batch")
                .distinct()
                .collect()
            ]
        bid = max(taken, default=-1) + 1
    n, s = _write_tix_batch(new_documents, post, lens, bid, meta["buckets"])
    meta["n_docs"] += n
    meta["sum_dl"] += s
    meta["last_epoch"] = max(meta.get("last_epoch", -1), bid)
    _write_tix_manifest(index_dir, meta)


def compact_text_index(spark, index_dir: str) -> None:
    """Small-file compaction for the appended text index — the
    MergeTree background-merge analog the other artifacts already
    have (``lsh_index.compact_minhash_index``): after N streamed
    epochs the postings tree holds N ``batch=`` dirs × buckets files
    and every query pays N× the footer overhead.  Rewrite all batches
    into a single fresh-batch tree, one file per ``tbucket``
    partition (the batch level must survive — partition discovery
    needs a uniform directory depth, and later updates keep landing
    as ``batch=<epoch>`` siblings).  Batches hold disjoint doc_ids
    (the ingest sinks dedup upstream; batch dirs are deterministic
    overwrites, so no crash residue either) — the rewrite is a pure
    re-layout: queries identical before/after, manifest untouched
    (``last_epoch`` survives, so replayed old epochs stay inert)."""
    post, lens, _ = _tix_paths(index_dir)
    meta = read_text_index_manifest(index_dir)
    _require_positional(index_dir, meta)
    # the compacted tree gets a FRESH batch id below every existing
    # one — never reusing a batch a tombstone might reference, so a
    # changed-then-re-added doc's surviving rows can't be killed by a
    # stale tombstone in any crash window (stale rows go inert the
    # moment their batch dir vanishes in the swap)
    newb = min(_live_batches(post) + [-1]) - 1
    tomb = _read_live_tombstones(spark, index_dir)
    posts_df = spark.read.parquet(post).select(
        "doc_id", "term", "tf", "positions", "tbucket", "batch"
    )
    lens_df = spark.read.parquet(lens).select("doc_id", "dl", "batch")
    if tomb is not None:
        pairs = F.broadcast(tomb.select("doc_id", "batch"))
        posts_df = posts_df.join(pairs, ["doc_id", "batch"], "left_anti")
        lens_df = lens_df.join(pairs, ["doc_id", "batch"], "left_anti")
    stage = post + "__stage"
    (
        posts_df.drop("batch")
        .withColumn("batch", F.lit(newb))
        .repartition(F.col("tbucket"))
        .write.mode("overwrite")
        .partitionBy("batch", "tbucket")
        .parquet(stage)
    )
    _swap_tree(stage, post)
    lstage = lens + "__stage"
    (
        lens_df.drop("batch")
        .withColumn("batch", F.lit(newb))
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite")
        .partitionBy("batch")
        .parquet(lstage)
    )
    _swap_tree(lstage, lens)
    # ground-truth stats from the compacted lengths (tombstoned mass
    # now physically gone); between a crashed swap and this retryable
    # write, queries use slightly-stale stats — never wrong candidates
    row = spark.read.parquet(lens).agg(
        F.count("*").alias("n"), F.sum("dl").alias("s")
    ).first()
    meta["n_docs"], meta["sum_dl"] = int(row["n"]), int(row["s"] or 0)
    _write_tix_manifest(index_dir, meta)
    import shutil

    shutil.rmtree(_tomb_path(index_dir), ignore_errors=True)


def _tomb_path(index_dir: str) -> str:
    return f"{index_dir}/tombstones"


def _ids_frame(spark, ids, col: str) -> DataFrame:
    """Normalize a list-of-ids or DataFrame into a distinct one-column
    frame — shared by every delete entry point."""
    if not isinstance(ids, DataFrame):
        ids = spark.createDataFrame([(int(i),) for i in ids], f"{col} long")
    return ids.select(col).distinct()


def _commit_tombstones(df: DataFrame, path: str) -> None:
    """The one atomic commit every tombstone table uses: stage the new
    set, then a single directory swap (or rename on first delete) —
    a crash leaves the old or the new set, never a half-delete."""
    import os

    stage = path + "__stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    if os.path.isdir(path):
        _swap_tree(stage, path)
    else:
        os.rename(stage, path)


def _live_batches(post_dir: str) -> list[int]:
    import os

    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(post_dir)
        if d.startswith("batch=") and os.path.isdir(os.path.join(post_dir, d))
    )


def _read_live_tombstones(spark, index_dir: str):
    """Tombstone rows whose victim batch dir still exists — rows
    referencing compacted-away batches are INERT by construction (they
    can match no posting and must not adjust stats), which is what
    makes every compaction crash window consistent without a
    multi-directory atomic commit.

    Liveness is the UNION of the postings and lengths trees: a
    compaction crash between the two swaps leaves the old lengths
    batches on disk, and their tombstones must stay live so the
    retry still purges the victims' dl rows (postings-side anti-joins
    of such rows match nothing — harmless)."""
    import os

    p = _tomb_path(index_dir)
    if not os.path.isdir(p):
        return None
    post, lens, _ = _tix_paths(index_dir)
    live = sorted(
        set(_live_batches(post)) | set(_live_batches(lens) if os.path.isdir(lens) else [])
    )
    return spark.read.parquet(p).where(F.col("batch").isin(live))


def delete_from_text_index(
    spark, index_dir: str, doc_ids, exclude_batch: int | None = None
) -> None:
    """Delete documents from the stored text index by TOMBSTONE — the
    one commit is an atomic swap of the tombstones table, so a crash
    leaves either the old or the new delete set, never a half-delete.

    A tombstone row is an exact victim: (doc_id, batch, dl) for each
    LIVE posting batch the doc currently occupies.  Queries anti-join
    the pairs out of the pruned postings read AND net the (count, Σdl)
    out of the manifest's gross corpus stats, so BM25 df/idf/avgdl
    behave exactly as if the index were rebuilt without the docs
    (tested: delete ≡ rebuild).  Batch-scoping is what lets a CHANGED
    doc be deleted and re-added: the re-add lands in a NEWER batch the
    tombstone does not reference.  Idempotent — re-deleting an already
    tombstoned or unknown doc adds no victim.  Tombstones accumulate
    only between compactions; ``compact_text_index`` removes the
    victims physically and retires the table.

    ``doc_ids``: a list of ids or a DataFrame with a ``doc_id``
    column.  ``exclude_batch`` exempts one batch's rows from
    tombstoning — ``upsert_text_index`` passes its epoch so a replay
    after a crash-before-manifest cannot tombstone the very rows the
    crashed attempt appended (they are about to be overwritten
    byte-identically, not deleted)."""
    import os

    meta = read_text_index_manifest(index_dir)
    _require_positional(index_dir, meta)
    post, lens, _ = _tix_paths(index_dir)
    lens_only = set(_live_batches(lens) if os.path.isdir(lens) else []) - set(
        _live_batches(post)
    )
    if lens_only:
        # the compaction-crash signature: postings already swapped to
        # the fresh batch, lengths still under the old ones — a victim
        # stamped from the lengths tree would MISS the doc's postings,
        # an undeletable zombie.  The retry is idempotent: finish it,
        # then stamp victims against one batch space (read-repair).
        # The OTHER tree-disagreement (postings-only batch, from an
        # update crashed between its two dir writes) must NOT trigger
        # this — compacting would bake the partial batch in; the
        # epoch replay overwrites it deterministically instead.
        compact_text_index(spark, index_dir)
    ids = _ids_frame(spark, doc_ids, "doc_id")
    lengths = spark.read.parquet(lens).select("doc_id", "batch", "dl")
    tomb = _read_live_tombstones(spark, index_dir)
    stale = spark.read.parquet(_tomb_path(index_dir)) if tomb is not None else None
    live = (
        lengths.join(tomb.select("doc_id", "batch"), ["doc_id", "batch"], "left_anti")
        if tomb is not None
        else lengths
    )
    victims = live.join(F.broadcast(ids), "doc_id", "left_semi")
    if exclude_batch is not None:
        victims = victims.where(F.col("batch") != int(exclude_batch))
    new_tomb = stale.unionByName(victims) if stale is not None else victims
    _commit_tombstones(new_tomb, _tomb_path(index_dir))


def upsert_text_index(
    spark, index_dir: str, documents: DataFrame, epoch: int | None = None,
    checkpoint: str | None = None,
) -> None:
    """UPSERT semantics for the stored text index — the move a
    CDC-maintained search index needs when it can't know which
    arriving docs are new and which replace an indexed version:
    tombstone ANY live postings under the batch's doc_ids (a no-op
    for genuinely-new ids — ``delete_from_text_index`` finds no
    victims), then append the batch normally.  The new postings land
    in a batch NEWER than every tombstone, so they survive the
    anti-join; answers equal a rebuild where each doc appears once in
    its latest version (tested).  Replay-safe at BOTH crash points:
    the ``epoch`` stamp is checked BEFORE the delete, so a
    crash-replayed epoch whose append fully committed is a no-op; and
    the delete exempts ``batch == epoch`` rows, so a replay after a
    crash BETWEEN the batch-dir write and the manifest write cannot
    tombstone the rows the crashed attempt appended (the epoch's
    batch dir is rewritten byte-identically and the stats fold —
    which never happened — applies once).  Both windows tested."""
    from . import ownership

    meta = read_text_index_manifest(index_dir)
    if epoch is not None and meta.get("last_epoch", -1) >= epoch:
        return
    # probe the writer guard BEFORE the tombstone half (the stamp
    # itself commits with update_text_index's manifest flip)
    ownership.claim_writer(dict(meta), checkpoint, f"text index at {index_dir}")
    delete_from_text_index(
        spark, index_dir, documents.select("doc_id"), exclude_batch=epoch
    )
    update_text_index(documents, index_dir, epoch=epoch, checkpoint=checkpoint)


def refresh_text_index_from_diff(
    spark,
    index_dir: str,
    old_documents: DataFrame,
    new_documents: DataFrame,
    epoch: int | None = None,
    checkpoint: str | None = None,
) -> None:
    """Fold a corpus-snapshot transition into the stored index using
    ``corpus_diff``'s work-list — never a rebuild: removed and changed
    docs tombstone their old postings, added and changed docs append
    as a normal update batch.  The result answers EXACTLY like an
    index built fresh on the new snapshot (tested — scores included,
    because the tombstones net the old versions out of the corpus
    stats while the update batch folds the new ones in)."""
    from .corpus import corpus_diff

    # persist the diff: the work-list feeds four consumers (two
    # emptiness probes, the delete's victim scan, the update's write)
    # and recomputing the full-snapshot comparison per consumer would
    # quadruple the dominant cost
    diff = corpus_diff(old_documents, new_documents).persist()
    try:
        gone = diff.where(F.col("change").isin("removed", "changed")).select("doc_id")
        if not gone.isEmpty():
            delete_from_text_index(spark, index_dir, gone)
        fresh = new_documents.join(
            diff.where(F.col("change").isin("added", "changed")).select("doc_id"),
            "doc_id",
            "left_semi",
        )
        if not fresh.isEmpty():
            update_text_index(fresh, index_dir, epoch=epoch, checkpoint=checkpoint)
    finally:
        diff.unpersist()


def _bm25_batch_core(
    spark,
    index_dir: str,
    qpairs: list[tuple[int, str]],
    k: int,
    k1: float,
    b: float,
    require_all: bool,
) -> DataFrame:
    """Shared index-backed BM25 engine for the solo and batch entry
    points: ``qpairs`` is the driver-side (query_id, lowered term)
    list (bounded by the broadcast contract).  One pruned postings
    read for the union of terms; per-term df and per-doc length are
    computed ONCE and shared — df is a property of the term, not the
    query.  Returns (query_id, doc_id, bm25), top-k per query under
    the (score DESC, doc_id) total order."""
    meta = read_text_index_manifest(index_dir)
    qpairs = sorted(set(qpairs))
    qt = sorted({t for _, t in qpairs})
    if not qt:
        raise ValueError("queries must carry at least one term")
    tb = sorted({_term_bucket_py(t, meta["buckets"]) for t in qt})
    post, lens, _ = _tix_paths(index_dir)
    tf = (
        spark.read.parquet(post)
        .where(F.col("tbucket").isin(tb) & F.col("term").isin(qt))
        .select("doc_id", "term", "tf", "batch")
    )
    dlen = spark.read.parquet(lens).select("doc_id", "dl", "batch")
    n_docs, sum_dl = meta["n_docs"], meta["sum_dl"]
    tomb = _read_live_tombstones(spark, index_dir)
    if tomb is not None:
        # net the tombstoned victims out of candidates, df, lengths,
        # and the gross corpus stats — scores then equal a rebuild
        # without the deleted docs (tested)
        adj = tomb.agg(F.count("*").alias("n"), F.sum("dl").alias("s")).first()
        if adj["n"]:
            n_docs -= int(adj["n"])
            sum_dl -= int(adj["s"])
        pairs = F.broadcast(tomb.select("doc_id", "batch"))
        tf = tf.join(pairs, ["doc_id", "batch"], "left_anti")
        dlen = dlen.join(pairs, ["doc_id", "batch"], "left_anti")
    tf = tf.drop("batch")
    dlen = dlen.drop("batch")
    if n_docs <= 0:
        # a full takedown leaves nothing to rank — empty result, not
        # a division by zero
        return spark.createDataFrame([], "query_id long, doc_id long, bm25 double")
    dft = tf.groupBy("term").agg(F.count("*").alias("df"))
    qmap = spark.createDataFrame(qpairs, "query_id long, term string")
    scored = tf.join(F.broadcast(qmap), "term")
    if require_all:
        counts: dict[int, int] = {}
        for qid, _ in qpairs:
            counts[qid] = counts.get(qid, 0) + 1
        qn = spark.createDataFrame(sorted(counts.items()), "query_id long, _qn int")
        ok = (
            scored.groupBy("query_id", "doc_id")
            .agg(F.count_distinct("term").alias("_nt"))
            .join(F.broadcast(qn), "query_id")
            .where(F.col("_nt") == F.col("_qn"))
            .select("query_id", "doc_id")
        )
        scored = scored.join(ok, ["query_id", "doc_id"], "left_semi")
    avgdl = sum_dl / n_docs
    idf = F.log((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    part = F.col("tf") * (k1 + 1.0) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
    )
    out = (
        scored.join(F.broadcast(dft), "term")
        .join(dlen, "doc_id")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(idf * part), 4).alias("bm25"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(), "doc_id")
    return (
        out.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= k)
        .select("query_id", "doc_id", "bm25")
    )


def bm25_topk_from_index(
    spark,
    index_dir: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    require_all: bool = False,
) -> DataFrame:
    """BM25 top-k off the stored index: no tokenization anywhere in
    the plan — the postings scan statically prunes to the query
    terms' ``tbucket`` partitions (driver-computed from the same
    md5 hash the build used), corpus stats come from the manifest,
    and document frequencies are recounted from the pruned postings.
    Same corpus, same params → identical rows to ``bm25_topk``
    (tested).  The one-query case of ``_bm25_batch_core`` — the term
    list is already driver-side, so no collect job precedes the plan.

    ``require_all=True`` switches OR semantics to conjunctive
    (must-match-every-term) retrieval — the boolean AND filter of a
    search engine's default mode: one extra combinable per-doc
    distinct-term count over the already-pruned postings, a semi-join
    shaped restriction BEFORE ranking, so scoring work only ever
    shrinks.  df stays the OR-candidate count (the document frequency
    of the term in the corpus, which conjunction does not change)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    out = _bm25_batch_core(
        spark,
        index_dir,
        [(0, t.lower()) for t in query_terms],
        k,
        k1,
        b,
        require_all,
    )
    return out.select("doc_id", "bm25").orderBy(F.col("bm25").desc(), "doc_id")


def bm25_topk_batch_from_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    require_all: bool = False,
) -> DataFrame:
    """Per-query BM25 top-k for a whole QUERY SET in one job — the
    throughput form of ``bm25_topk_from_index``: at serving scale you
    run one Spark job for a million queries, not a million jobs.

    ``queries`` is (query_id, terms array<string>).  The (query_id,
    term) map is bounded by the broadcast contract — it is collected
    once to drive static ``tbucket`` pruning for the UNION of all
    query terms, then broadcast into the scoring join of
    ``_bm25_batch_core`` (shared with the solo path, so the two can
    never drift).  Output: (query_id, doc_id, bm25), top-k per query
    (tested: batch ≡ per-query loop, incl. require_all)."""
    qpairs = [
        (r["query_id"], r["term"])
        for r in queries.select(
            "query_id",
            F.explode(F.transform("terms", lambda t: F.lower(t))).alias("term"),
        )
        .distinct()
        .collect()
    ]
    return _bm25_batch_core(spark, index_dir, qpairs, k, k1, b, require_all)


def hybrid_topk_batch_from_indexes(
    spark,
    text_index_dir: str,
    ivf_index_dir: str,
    queries: DataFrame,
    k: int = 10,
    k_each: int = 10,
    n_probe: int = 4,
    c: int = 60,
) -> DataFrame:
    """Batch hybrid retrieval off the two stored artifacts — one job
    for the whole query set: the lexical leg is
    ``bm25_topk_batch_from_index`` (one pruned postings read for the
    union of query terms), the semantic leg is the already-batched
    ``ivf_index.ivf_index_topk`` (one pruned inverted-list read for
    the union of probed cells), and RRF fusion runs per query under
    one query-partitioned window — never a per-query Spark job.
    ``queries`` is (query_id, terms array<string>, query_vec).
    Query ids matching corpus vec_ids self-exclude on the semantic
    leg (the ``default_queries`` convention); use ids outside the
    corpus id space for external queries.  Per query, rows equal the
    one-query ``hybrid_topk_from_indexes`` (tested)."""
    from .ivf_index import ivf_index_topk

    lex = bm25_topk_batch_from_index(
        spark, text_index_dir, queries.select("query_id", "terms"), k=k_each
    )
    sem = ivf_index_topk(
        spark,
        queries.select(
            "query_id", F.col("query_vec").cast("array<double>").alias("query_vec")
        ),
        ivf_index_dir,
        k=k_each,
        n_probe=n_probe,
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "cos_sim")
    return _rrf_core(lex, sem, k, c, keys=["query_id"])


def phrase_match_from_index(
    spark,
    index_dir: str,
    phrase_terms: list[str],
    k: int | None = None,
) -> DataFrame:
    """Exact phrase search off the positional postings — the
    proximity operator a bag-of-terms ranker can't express: a document
    matches when the phrase's terms occur at CONSECUTIVE token
    positions, and ``n_occurrences`` counts the anchors.

    Position algebra, all native array expressions: term i's postings
    are shifted by −i (``transform(positions, p → p − i)``), so every
    occurrence of the full phrase collapses to one shared anchor
    position; the per-doc match set is the running ``array_intersect``
    across terms.  Repeated terms in the phrase just re-join the same
    posting list under a different shift — overlapping occurrences
    ("a a a" in "a a a a") fall out naturally.

    Scale shape: the postings scan statically prunes to the phrase
    terms' ``tbucket`` dirs and reads (doc_id, term, positions) only;
    matching is |phrase|−1 doc_id equi-joins between candidate-sized
    sides (each bounded by the rarest term's document frequency —
    every join strictly shrinks the candidate set), never a corpus
    scan.  Position arrays are doc-length-bounded.  Deterministic
    output: (n_occurrences DESC, doc_id), optional top-k."""
    if not phrase_terms:
        raise ValueError("phrase_terms must be non-empty")
    meta = read_text_index_manifest(index_dir)
    if not meta.get("positions"):
        raise ValueError(
            f"text index at {index_dir} stores no positions — rebuild with "
            "build_text_index to get positional postings"
        )
    qt = [t.lower() for t in phrase_terms]
    tb = sorted({_term_bucket_py(t, meta["buckets"]) for t in set(qt)})
    post, _, _ = _tix_paths(index_dir)
    posts = (
        spark.read.parquet(post)
        .where(F.col("tbucket").isin(tb) & F.col("term").isin(sorted(set(qt))))
        .select("doc_id", "term", "positions", "batch")
    )
    tomb = _read_live_tombstones(spark, index_dir)
    if tomb is not None:
        posts = posts.join(
            F.broadcast(tomb.select("doc_id", "batch")), ["doc_id", "batch"], "left_anti"
        )
    posts = posts.drop("batch")
    acc = None
    for i, t in enumerate(qt):
        shifted = F.transform(F.col("positions"), lambda p: p - i)
        p_i = posts.where(F.col("term") == t).select("doc_id", shifted.alias("_s"))
        if acc is None:
            acc = p_i.withColumnRenamed("_s", "anchors")
        else:
            acc = (
                acc.join(p_i, "doc_id")
                .select(
                    "doc_id", F.array_intersect("anchors", "_s").alias("anchors")
                )
                .where(F.size("anchors") > 0)
            )
    out = (
        acc.select("doc_id", F.size("anchors").alias("n_occurrences"))
        .where(F.col("n_occurrences") > 0)
        .orderBy(F.col("n_occurrences").desc(), "doc_id")
    )
    return out.limit(k) if k is not None else out


def hybrid_topk_from_indexes(
    spark,
    text_index_dir: str,
    ivf_index_dir: str,
    query_terms: list[str],
    query_vec: list[float],
    k: int = 10,
    k_each: int = 10,
    n_probe: int = 4,
    c: int = 60,
    use_pq: bool = False,
    pq_rerank: int = 50,
) -> DataFrame:
    """End-to-end hybrid retrieval entirely off the STORED artifacts —
    the serving-path composition of ``bm25_topk_from_index`` (inverted
    text index, term-bucket partition pruning) and
    ``ivf_index.ivf_index_topk`` (persistent IVF, centroid-partition
    pruning, no KMeans in the plan), fused by RRF.  Neither side
    tokenizes, fits, or scans the corpus: total work is two pruned
    index reads plus list-sized fusion, which is what a query node
    would run per request at 100 TB.  One query per call (RRF ranks
    are per-query); batch callers loop — each call is index-pruned
    and bounded, not corpus-sized.

    ``use_pq=True`` routes the semantic leg through the IVF-PQ/ADC
    tier (``ivf_index_topk_pq`` with exact reranking of the top
    ``pq_rerank``): probed cells are scanned through their 1-byte
    codes instead of float vectors — the memory-bound serving
    configuration; requires an index built with ``pq_m=...``."""
    from .ivf_index import ivf_index_topk, ivf_index_topk_pq

    lex = bm25_topk_from_index(spark, text_index_dir, query_terms, k=k_each)
    queries = spark.createDataFrame(
        [(-1, [float(x) for x in query_vec])],
        "query_id long, query_vec array<double>",
    )
    if use_pq:
        sem = ivf_index_topk_pq(
            spark, queries, ivf_index_dir, k=k_each, n_probe=n_probe, rerank=pq_rerank
        )
        if not pq_rerank:
            # RRF consumes ranks, not scores, so the un-reranked ADC
            # ordering fuses just as well — surface it under the
            # column name the fusion contract expects
            sem = sem.withColumnRenamed("adc_cos", "cos_sim")
    else:
        sem = ivf_index_topk(spark, queries, ivf_index_dir, k=k_each, n_probe=n_probe)
    sem = sem.select(F.col("neighbor_id").alias("doc_id"), "cos_sim")
    return rrf_fuse(lex, sem, k=k, c=c)


def rrf_fuse(
    lexical: DataFrame,
    semantic: DataFrame,
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of a lexical and a semantic result list
    (Cormack et al. SIGIR'09): fused(d) = Σ_lists 1/(c + rank_d) —
    the standard score-free hybrid-retrieval combiner (scores from
    BM25 and cosine are not commensurable; ranks are).

    Inputs: ``lexical`` with (doc_id, bm25), ``semantic`` with
    (doc_id, cos_sim) — both already top-n lists, so everything here
    is list-sized; ranks come from one window per list with the same
    deterministic tie-break the producers use."""
    return _rrf_core(lexical, semantic, k, c, keys=[])


def _rrf_core(
    lexical: DataFrame,
    semantic: DataFrame,
    k: int,
    c: int,
    keys: list[str],
) -> DataFrame:
    """Shared RRF engine for the solo (keys=[]) and batch
    (keys=["query_id"]) fusers: rank each list per key group under
    its producer's deterministic tie-break, union, fold
    Σ 1/(c + rank), keep the top k per group.  Everything here is
    list-sized (both inputs are already top-n lists)."""
    lw = Window.partitionBy(*keys).orderBy(F.col("bm25").desc(), "doc_id")
    sw = Window.partitionBy(*keys).orderBy(F.col("cos_sim").desc(), "doc_id")
    both = lexical.select(*keys, "doc_id", F.row_number().over(lw).alias("r")).unionByName(
        semantic.select(*keys, "doc_id", F.row_number().over(sw).alias("r"))
    )
    fused = both.groupBy(*keys, "doc_id").agg(
        F.round(F.sum(1.0 / (c + F.col("r"))), 6).alias("rrf")
    )
    if not keys:
        return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(k)
    fw = Window.partitionBy(*keys).orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.withColumn("_r", F.row_number().over(fw))
        .where(F.col("_r") <= k)
        .select(*keys, "doc_id", "rrf")
    )


def mmr_rerank(
    candidates: DataFrame,
    vectors: DataFrame,
    k: int = 10,
    lam: float = 0.5,
    score_col: str = "rrf",
    keys: list[str] | None = None,
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """Maximal-marginal-relevance diversification of a retrieval
    result list (Carbonell & Goldstein, SIGIR 1998): greedily pick
    argmax ``lam·rel − (1−lam)·max_cos_to_already_selected`` so the
    top-k answers are RELEVANT AND MUTUALLY DISTINCT — the standard
    fix for near-duplicate documents crowding a result page, riding
    on the same embeddings the ANN leg already uses.

    ``candidates``: (keys…, doc_id, ``score_col``) — any producer's
    top-n list (``bm25_topk*``, ``rrf_fuse``, ``hybrid_*``); pass
    ``keys=["query_id"]`` for batch lists.  ``vectors``: (vec_id,
    embedding).  Relevance is min-max normalized per group (cosine
    and BM25/RRF scores are not commensurable; ranks within the list
    are); similarity is cosine.  Candidates with no vector (or a
    zero vector, e.g. a tokenless doc under ``embed_documents``)
    never collide with anything — they diversify for free.  All ties
    break to the smaller doc_id, so the output is deterministic.

    Scale shape: the greedy loop is inherently sequential, but only
    over the BOUNDED candidate list — Python runs per list
    (``applyInPandas``, the engine's custom-operator tier), never per
    corpus row; the corpus-sized ``vectors`` table is touched by one
    broadcast-pruned equi-join that ships just the candidates'
    vectors.  Returns (keys…, doc_id, ``score_col``, mmr_score 6dp,
    mmr_rank 1..k)."""
    import numpy as np
    import pandas as pd

    if k <= 0:
        raise ValueError(f"k must be >= 1, got {k}")
    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    keys = list(keys or [])
    cand = candidates.select(*keys, "doc_id", score_col)
    # corpus side: ONE inner equi-join against the broadcast candidate
    # id list prunes map-side (the corpus never shuffles); the small
    # result then broadcast-left-joins back so vectorless candidates
    # survive
    cand_vecs = vectors.select(
        F.col(vec_id_col).alias("doc_id"), F.col("embedding").alias("_v")
    ).join(F.broadcast(cand.select("doc_id").distinct()), "doc_id")
    withv = cand.join(F.broadcast(cand_vecs), "doc_id", "left")
    grp = keys or [F.lit(1).alias("_g")]
    key_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in candidates.select(*keys).schema.fields
    )
    # doc_id / score types are the CALLER's, not hard-coded long/double:
    # any producer's candidate list (int ids, float32 scores, …) passes
    # through with its own types instead of failing or silently casting
    cand_types = {f.name: f.dataType.simpleString() for f in cand.schema.fields}
    out_schema = (key_fields + ", " if key_fields else "") + (
        f"doc_id {cand_types['doc_id']}, {score_col} {cand_types[score_col]}, "
        "mmr_score double, mmr_rank int"
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["doc_id"]).reset_index(drop=True)
        n = len(pdf)
        rel = pdf[score_col].astype(float).to_numpy()
        lo, hi = rel.min(), rel.max()
        rel = np.ones(n) if hi == lo else (rel - lo) / (hi - lo)
        dim = next((len(v) for v in pdf["_v"] if v is not None), 1)
        V = np.zeros((n, dim))
        for i, v in enumerate(pdf["_v"]):
            if v is not None:
                V[i] = np.asarray(v, dtype=float)
        nrm = np.linalg.norm(V, axis=1)
        nz = nrm > 0
        V[nz] = V[nz] / nrm[nz, None]
        out: list[dict] = []
        max_sim = np.zeros(n)
        remaining = list(range(n))
        while remaining and len(out) < k:
            mmr = lam * rel - (1 - lam) * max_sim
            best = min(remaining, key=lambda i: (-mmr[i], pdf["doc_id"][i]))
            remaining.remove(best)
            max_sim = np.maximum(max_sim, V @ V[best])
            row = {
                "doc_id": pdf["doc_id"][best],  # caller's dtype, uncoerced
                score_col: pdf[score_col][best],
                "mmr_score": round(float(mmr[best]), 6),
                "mmr_rank": len(out) + 1,
            }
            for kcol in keys:
                row[kcol] = pdf[kcol][best]
            out.append(row)
        res = pd.DataFrame(
            out, columns=keys + ["doc_id", score_col, "mmr_score", "mmr_rank"]
        )
        if len(res):  # empty frames keep object dtype; Arrow accepts those
            res["doc_id"] = res["doc_id"].astype(pdf["doc_id"].dtype)
            res[score_col] = res[score_col].astype(pdf[score_col].dtype)
        return res

    return (
        withv.groupBy(*grp)
        .applyInPandas(pick, schema=out_schema)
        .select(*keys, "doc_id", score_col, "mmr_score", "mmr_rank")
    )
