"""Data selection via importance resampling (DSIR) — Xie et al.,
NeurIPS 2023, "Data Selection for Language Models via Importance
Resampling": pick raw-corpus documents whose hashed-n-gram
distribution looks like a (small, high-quality) target corpus, by
sampling with probability proportional to the importance weight
p_target(doc) / p_raw(doc) under bag-of-hashed-n-grams unigram
models.  This is the selection rung between the heuristic gate
(``quality.quality_signals``) and the trained classifier
(``classifier.score_quality_from_model``): no labels, no training —
just two bucket histograms and one weighted pass over the corpus.

Spark-first shape, sized for the 100 TB raw side:

- Features reuse the classifier's featurization
  (``classifier._occurrences``: hashed unigrams + word bigrams,
  ``portable_hash64`` md5 buckets, hashed after the explode because a
  hash inside a ``transform`` lambda runs outside WholeStageCodegen)
  so every number in this module is recomputable by DuckDB — the
  weights are oracle-twinned in tests/test_dsir.py.
- Each bucket model is ONE combinable aggregation whose result is
  bounded by ``n_buckets`` (the raw corpus reduces to ≤ n_buckets
  rows before anything joins); the log-ratio table is therefore
  always broadcastable, like classifier weights.
- The raw corpus is featurized ONCE: the persisted per-doc
  (doc_id, bucket, cnt) table feeds both the raw histogram and the
  weight sum (broadcast log-ratio join + doc-keyed combinable aggs).
  The corpus never shuffles its text.
- Selection is Gumbel top-k (the without-replacement sampling trick:
  argmax_k of logw/temperature + Gumbel noise samples ∝ w^(1/T)),
  with hash-derived noise so runs are deterministic and the oracle
  can replay them; the cut is ``orderBy().limit(k)`` →
  TakeOrderedAndProject (per-partition heaps, no global sort).
"""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from ..functions.scalar import portable_hash64
from .classifier import _occurrences

# 2^52: portable_hash64 is 60-bit; mod 2^52 keeps every intermediate
# exactly representable as a double in BOTH engines (< 2^53), so the
# Gumbel noise is bit-identical under the DuckDB twin.
_U_MOD = 1 << 52


def hashed_ngram_counts(
    documents: DataFrame,
    n_buckets: int = 1024,
    seed: str = "dsir:",
    hash_mode: str = "md5",
) -> DataFrame:
    """(bucket, cnt) — occurrence counts of hashed unigram+bigram
    features over a corpus.  One combinable shuffle; the result is
    bounded by ``n_buckets`` regardless of corpus size.  The
    featurization IS the classifier's ``_occurrences`` — one plan to
    keep in lockstep, which is what makes every number here
    DuckDB-recomputable under the classifier twin's SQL (md5 mode;
    ``hash_mode="xxh64"`` is the untwinned production hash)."""
    return (
        _occurrences(documents, n_buckets, seed, hash_mode)
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )


def dsir_log_ratio(
    target: DataFrame,
    raw: DataFrame,
    n_buckets: int = 1024,
    seed: str = "dsir:",
    alpha: float = 1.0,
    hash_mode: str = "md5",
) -> DataFrame:
    """(bucket, log_ratio) over the FULL bucket domain 0..n_buckets-1:
    ``ln p_target(b) − ln p_raw(b)`` under add-alpha smoothing
    (p(b) = (cnt_b + alpha) / (total + alpha·n_buckets)), so buckets
    unseen on either side stay finite and a doc can never score
    ±inf.  Exactly ``n_buckets`` rows — broadcastable by
    construction; the totals fold in with a window over that bounded
    table (never over a corpus)."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0 for finite smoothing, got {alpha}")
    t = hashed_ngram_counts(target, n_buckets, seed, hash_mode)
    r = hashed_ngram_counts(raw, n_buckets, seed, hash_mode)
    return _log_ratio_from_counts(target.sparkSession, t, r, n_buckets, alpha)


def _log_ratio_from_counts(
    spark: SparkSession,
    t_hist: DataFrame,
    r_hist: DataFrame,
    n_buckets: int,
    alpha: float,
    t_total: int | None = None,
    r_total: int | None = None,
) -> DataFrame:
    """Smoothed per-bucket log-ratio from two (bucket, cnt) histograms
    — the ONE place the smoothing formula lives (the stored-model path
    passes its manifest totals; the inline path folds totals with a
    window over the BOUNDED ≤ n_buckets joined table, never over a
    corpus)."""
    dom = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    j = (
        dom.join(t_hist.withColumnRenamed("cnt", "t_cnt"), "bucket", "left")
        .join(r_hist.withColumnRenamed("cnt", "r_cnt"), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("t_cnt", F.lit(0)).cast("double").alias("t_cnt"),
            F.coalesce("r_cnt", F.lit(0)).cast("double").alias("r_cnt"),
        )
    )
    w = Window.partitionBy(F.lit(1))
    denom = float(alpha) * n_buckets
    t_tot = F.lit(float(t_total)) if t_total is not None else F.sum("t_cnt").over(w)
    r_tot = F.lit(float(r_total)) if r_total is not None else F.sum("r_cnt").over(w)
    p_t = (F.col("t_cnt") + F.lit(float(alpha))) / (t_tot + denom)
    p_r = (F.col("r_cnt") + F.lit(float(alpha))) / (r_tot + denom)
    # p_t rides along for the KL diagnostic; weight consumers prune it
    return j.select(
        "bucket",
        (F.log(p_t) - F.log(p_r)).alias("log_ratio"),
        p_t.alias("p_t"),
    )


# Persisted featurization handles from inline dsir_weights/dsir_select
# calls — tracked so callers can release exactly these (and nothing
# else) between repeated selections in one session.
_LIVE_CACHES: list[DataFrame] = []


def release_dsir_caches() -> int:
    """Unpersist every featurization this module cached via inline
    ``dsir_weights``/``dsir_select`` calls; returns how many were
    released.  Safe to call at any time — downstream DataFrames just
    recompute if re-executed."""
    n = len(_LIVE_CACHES)
    for df in _LIVE_CACHES:
        df.unpersist()
    _LIVE_CACHES.clear()
    return n


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 1024,
    seed: str = "dsir:",
    alpha: float = 1.0,
    log_ratio: DataFrame | None = None,
    hash_mode: str = "md5",
) -> DataFrame:
    """(doc_id, n_feats, logw) — per-document log importance weight
    ``Σ_occurrences log_ratio(bucket)`` (the bag-of-hashed-n-grams
    log p_target/p_raw of the doc, additive over occurrences so no
    per-doc count vector ever materializes).  Docs whose text yields
    no features surface with logw = 0 (an empty bag is equally likely
    under both models) instead of vanishing.

    Pass a precomputed ``log_ratio`` to amortize the model across
    calls (e.g. scoring shards of the same raw corpus).

    CACHE NOTE: when ``log_ratio`` is None this call ``persist()``s
    the per-doc featurization so the raw histogram and the weight sum
    share one featurization pass; the cache lives until
    ``release_dsir_caches()`` (or session end).  Long-lived sessions
    making repeated inline selections should call it between rounds —
    it releases exactly the handles this module persisted, unlike
    ``spark.catalog.clearCache()`` which drops unrelated caches too."""
    occ_cnt = (
        _occurrences(raw, n_buckets, seed, hash_mode)
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    if log_ratio is None:
        # featurize the raw corpus ONCE: the per-doc (doc_id, bucket,
        # cnt) table feeds BOTH the raw histogram and the weight sum —
        # without the persist, each consumer would re-run the md5
        # featurization over the full corpus (measured ~2× on the 10×
        # bench probe).  This is the checkpoint a 100 TB run would
        # write anyway before reusing a featurization.
        occ_cnt = occ_cnt.persist()
        _LIVE_CACHES.append(occ_cnt)
        r_hist = occ_cnt.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
        t_hist = hashed_ngram_counts(target, n_buckets, seed, hash_mode)
        log_ratio = _log_ratio_from_counts(
            raw.sparkSession, t_hist, r_hist, n_buckets, alpha
        )
    sums = (
        occ_cnt.join(F.broadcast(log_ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("log_ratio")).alias("logw"),
            F.sum("cnt").alias("n_feats"),
        )
    )
    return raw.select("doc_id").join(sums, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
        F.coalesce("logw", F.lit(0.0)).alias("logw"),
    )


def gumbel_noise(doc_id: Column, seed: str = "dsir-g:") -> Column:
    """Deterministic standard-Gumbel noise per key: u = hash-uniform
    in (0,1), g = −ln(−ln u).  The +0.5/2^52 construction keeps u
    strictly inside (0,1) (never 0 or 1 → never ±inf) and exactly
    reproducible in DuckDB from the same md5 arithmetic."""
    u = (
        (portable_hash64(doc_id.cast("string"), seed=seed) % F.lit(_U_MOD)).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(_U_MOD))
    return -F.log(-F.log(u))


def dsir_kl(
    target: DataFrame,
    other: DataFrame,
    n_buckets: int = 1024,
    seed: str = "dsir:",
    alpha: float = 1.0,
    hash_mode: str = "md5",
) -> DataFrame:
    """KL(p_target ‖ p_other) in nats over the smoothed hashed-n-gram
    models — the DSIR paper's own evaluation: a selected corpus is
    better the smaller its divergence from the target.  One row
    (kl_nats); always finite under the shared smoothing, exactly 0
    when ``other`` IS the target distribution.  Everything after the
    two bounded histogram aggs is a closed-form fold over ≤ n_buckets
    rows — use it to certify a selection:
    ``dsir_kl(target, selected) < dsir_kl(target, raw)``."""
    lr = dsir_log_ratio(target, other, n_buckets, seed, alpha, hash_mode)
    return lr.agg(
        F.sum(F.col("p_t") * F.col("log_ratio")).alias("kl_nats")
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    n_buckets: int = 1024,
    seed: str = "dsir:",
    alpha: float = 1.0,
    temperature: float | None = 1.0,
    gumbel_seed: str = "dsir-g:",
    log_ratio: DataFrame | None = None,
    hash_mode: str = "md5",
) -> DataFrame:
    """Select ``k`` raw documents by importance resampling: Gumbel
    top-k over ``logw / temperature`` draws a without-replacement
    sample with P(doc) ∝ w^(1/temperature) (Gumbel-max trick; T=1 is
    the DSIR paper's sampler, T→0 approaches deterministic top-k).
    ``temperature=None`` IS deterministic top-k by logw (ties broken
    by doc_id) — the greedy variant.

    Returns the selected rows with every raw column plus (logw,
    score).  The cut is a distributed top-k (TakeOrderedAndProject);
    the k survivors broadcast back onto the raw corpus, so the only
    corpus-sized work is the weight pass itself."""
    if k <= 0:
        raise ValueError(f"k must be >= 1, got {k}")
    if temperature is not None and temperature <= 0:
        raise ValueError(
            f"temperature must be > 0 (or None for deterministic top-k), got {temperature}"
        )
    w = dsir_weights(
        raw, target, n_buckets, seed, alpha, log_ratio=log_ratio, hash_mode=hash_mode
    )
    if temperature is None:
        score = F.col("logw")
    else:
        score = F.col("logw") / F.lit(float(temperature)) + gumbel_noise(
            F.col("doc_id"), seed=gumbel_seed
        )
    sel = (
        w.select("doc_id", "logw", score.alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )
    return raw.join(F.broadcast(sel), "doc_id")


# --- persisted DSIR model artifact ------------------------------------------
#
# Same artifact discipline as the quality classifier / lsh_index /
# ivf_index (versioned data + manifest commit), with one property the
# classifier cannot have: the model IS two count histograms, and
# counts are ADDITIVE — so incremental updates are EXACT, not an
# approximation of retraining.  update ≡ rebuild-on-the-union is a
# tested identity.

_MANIFEST = "_dsir_manifest.json"


def save_dsir_model(
    target: DataFrame,
    raw: DataFrame,
    model_dir: str,
    n_buckets: int = 1024,
    seed: str = "dsir:",
    alpha: float = 1.0,
    hash_mode: str = "md5",
) -> None:
    """Persist the bucket histograms: ``counts_v1/`` parquet (bucket,
    t_cnt, r_cnt — only buckets either side observed) + a manifest
    (n_buckets, seed, alpha, hash_mode, totals, version).  The
    manifest write is the commit: a crash mid-write leaves the
    previous version live.  ``hash_mode`` travels in the manifest so
    every later fold/score hashes under the SAME scheme as the
    history."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0 for finite smoothing, got {alpha}")
    t = hashed_ngram_counts(target, n_buckets, seed, hash_mode).withColumnRenamed(
        "cnt", "t_cnt"
    )
    r = hashed_ngram_counts(raw, n_buckets, seed, hash_mode).withColumnRenamed(
        "cnt", "r_cnt"
    )
    counts = (
        t.join(r, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("t_cnt", F.lit(0)).cast("long").alias("t_cnt"),
            F.coalesce("r_cnt", F.lit(0)).cast("long").alias("r_cnt"),
        )
    )
    _commit_counts(
        target.sparkSession, counts, model_dir, 1, n_buckets, seed, alpha,
        hash_mode=hash_mode,
    )


def _commit_counts(
    spark: SparkSession,
    counts: DataFrame,
    model_dir: str,
    version: int,
    n_buckets: int,
    seed: str,
    alpha: float,
    last_epoch: int | None = None,
    epoch_checkpoint: str | None = None,
    hash_mode: str = "md5",
) -> None:
    counts = counts.coalesce(1)  # ≤ n_buckets rows by construction
    counts.write.mode("overwrite").parquet(f"{model_dir}/counts_v{version}")
    # totals from the WRITTEN file (bounded read), not the lineage —
    # recomputing the counts plan would scan the corpus a second time,
    # and the manifest must describe the stored bytes in any case
    tot = (
        spark.read.parquet(f"{model_dir}/counts_v{version}")
        .agg(F.sum("t_cnt").alias("t"), F.sum("r_cnt").alias("r"))
        .first()
    )
    manifest = {
        "n_buckets": n_buckets,
        "seed": seed,
        "alpha": alpha,
        "hash_mode": hash_mode,
        "t_total": int(tot.t or 0),
        "r_total": int(tot.r or 0),
        "version": version,
    }
    if last_epoch is not None:
        manifest["last_epoch"] = last_epoch
    if epoch_checkpoint is not None:
        manifest["epoch_checkpoint"] = epoch_checkpoint
    os.makedirs(model_dir, exist_ok=True)
    tmp = os.path.join(model_dir, _MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(model_dir, _MANIFEST))


def read_dsir_manifest(model_dir: str) -> dict:
    p = os.path.join(model_dir, _MANIFEST)
    if not os.path.isfile(p):
        raise FileNotFoundError(
            f"no DSIR model at {model_dir} — run save_dsir_model first"
        )
    with open(p) as f:
        return json.load(f)


def _model_counts(spark: SparkSession, model_dir: str, meta: dict) -> DataFrame:
    return spark.read.parquet(f"{model_dir}/counts_v{meta['version']}")


def update_dsir_model(
    spark: SparkSession,
    model_dir: str,
    target_batch: DataFrame | None = None,
    raw_batch: DataFrame | None = None,
    epoch: int | None = None,
    checkpoint: str | None = None,
) -> None:
    """Fold new documents into the stored histograms additively —
    EXACTLY the model a from-scratch rebuild on the unioned corpora
    would produce (tested identity).  Featurization params come from
    the manifest, so a batch can never be hashed under a different
    scheme than the history.  The new counts land in ``counts_v{N+1}``
    and the manifest flip commits them — a crash leaves v{N} live and
    the update retryable.

    ``epoch`` makes the fold idempotent for streaming replays: the
    manifest stamps ``last_epoch`` IN the same commit as the counts
    flip, so a replayed epoch ≤ the stamp is a no-op, and a crash
    between the counts write and the flip refolds from the still-live
    previous version (identical content, additive state applied once
    — the engine's standard two-layer exactly-once contract)."""
    if target_batch is None and raw_batch is None:
        raise ValueError("update_dsir_model needs a target_batch and/or raw_batch")
    meta = read_dsir_manifest(model_dir)
    if epoch is not None:
        stored_ck = meta.get("epoch_checkpoint")
        if checkpoint is not None and stored_ck is not None and (
            os.path.abspath(checkpoint) != stored_ck
        ):
            # epoch ids are only comparable within one checkpoint —
            # same loud-refusal contract as the sink epoch markers
            raise RuntimeError(
                f"DSIR model at {model_dir} was stamped by checkpoint "
                f"{stored_ck!r} but this query uses "
                f"{os.path.abspath(checkpoint)!r}; reuse the original "
                "checkpoint to resume, or rebuild the model to reprocess"
            )
        if meta.get("last_epoch", -1) >= epoch:
            return
    nb, seed = meta["n_buckets"], meta["seed"]
    h_mode = meta.get("hash_mode", "md5")  # pre-mode manifests were md5
    counts = _model_counts(spark, model_dir, meta)
    zero = F.lit(0).cast("long")
    for df, col in ((target_batch, "t_cnt"), (raw_batch, "r_cnt")):
        if df is None:
            continue
        other = "r_cnt" if col == "t_cnt" else "t_cnt"
        delta = hashed_ngram_counts(df, nb, seed, h_mode).select(
            "bucket", F.col("cnt").cast("long").alias(col), zero.alias(other)
        )
        counts = (
            counts.unionByName(delta)
            .groupBy("bucket")
            .agg(F.sum("t_cnt").alias("t_cnt"), F.sum("r_cnt").alias("r_cnt"))
        )
    stamp = epoch if epoch is not None else meta.get("last_epoch")
    ck = (
        os.path.abspath(checkpoint)
        if checkpoint is not None
        else meta.get("epoch_checkpoint")
    )
    _commit_counts(
        spark, counts, model_dir, meta["version"] + 1, nb, seed, meta["alpha"],
        last_epoch=stamp, epoch_checkpoint=ck, hash_mode=h_mode,
    )
    # prune superseded versions so a long-running streaming sink does
    # not grow the model dir by one directory per epoch forever.  The
    # just-superseded version stays (a reader that loaded the previous
    # manifest may still be scanning it, and it is the crash-window
    # refold source); anything older is unreachable.
    for name in os.listdir(model_dir):
        if name.startswith("counts_v"):
            try:
                v = int(name[len("counts_v"):])
            except ValueError:
                continue
            if v < meta["version"]:
                shutil.rmtree(os.path.join(model_dir, name), ignore_errors=True)


def dsir_log_ratio_from_model(
    spark: SparkSession, model_dir: str, alpha: float | None = None
) -> DataFrame:
    """(bucket, log_ratio) over the full domain, from the stored
    histograms — no corpus scan.  ``alpha`` defaults to the manifest's
    (the smoothing is a read-time choice; the stored counts are raw)."""
    meta = read_dsir_manifest(model_dir)
    a = meta["alpha"] if alpha is None else alpha
    if a <= 0:
        raise ValueError(f"alpha must be > 0 for finite smoothing, got {a}")
    c = _model_counts(spark, model_dir, meta)
    return _log_ratio_from_counts(
        spark,
        c.select("bucket", F.col("t_cnt").alias("cnt")),
        c.select("bucket", F.col("r_cnt").alias("cnt")),
        meta["n_buckets"],
        a,
        t_total=meta["t_total"],
        r_total=meta["r_total"],
    )


def dsir_weights_from_model(
    raw: DataFrame, model_dir: str, alpha: float | None = None
) -> DataFrame:
    """Score a corpus (or a stream batch) off the stored model — the
    per-batch path: NO target scan, NO raw-history scan, just the
    broadcast log-ratio join + one doc-keyed combinable sum."""
    meta = read_dsir_manifest(model_dir)
    lr = dsir_log_ratio_from_model(raw.sparkSession, model_dir, alpha)
    return dsir_weights(
        raw, raw, meta["n_buckets"], meta["seed"], meta["alpha"], log_ratio=lr,
        hash_mode=meta.get("hash_mode", "md5"),
    )


def dsir_select_from_model(
    raw: DataFrame,
    model_dir: str,
    k: int,
    temperature: float | None = 1.0,
    gumbel_seed: str = "dsir-g:",
    alpha: float | None = None,
) -> DataFrame:
    """``dsir_select`` off the stored model (see ``dsir_select`` for
    the sampling semantics) — selection without re-deriving either
    histogram."""
    meta = read_dsir_manifest(model_dir)
    lr = dsir_log_ratio_from_model(raw.sparkSession, model_dir, alpha)
    return dsir_select(
        raw,
        raw,
        k,
        meta["n_buckets"],
        meta["seed"],
        meta["alpha"],
        temperature=temperature,
        gumbel_seed=gumbel_seed,
        log_ratio=lr,
        hash_mode=meta.get("hash_mode", "md5"),
    )
