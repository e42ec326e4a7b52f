"""Corpus-curation operators for training-data pipelines (north star).

Two operations every large-scale pretraining pipeline runs after
dedup/filtering and before tokenization:

- deterministic sampling — hash-Bernoulli keep/drop with per-language
  (stratum) rates.  Purely map-side: the keep decision is a hash of
  the *content*, so it is reproducible across runs, machines, and
  engine versions, and re-crawled duplicates get the same verdict.
  At 100 TB this is a free predicate on the scan — no shuffle at all.
- sequence packing — greedily fill fixed-size context windows with
  whole documents (the batch-shaping step before training).  Packing
  is a sequential fold (each doc's placement depends on the running
  fill), so it cannot be a window function; we shard the corpus by a
  deterministic key and run the fold per shard via ``applyInPandas``
  (Arrow-batched, one shuffle on the shard key).  Shards are
  independent, so parallelism = number of shards — at 100 TB you
  raise ``shards`` to O(cluster cores) and each task streams its
  shard once.

Both use md5-derived hashing / plain column expressions so each has
an exact DuckDB oracle (oracle.py: ``deterministic_sample``,
``pack_sequences`` — the packing twin is a recursive CTE running the
same fold).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions.scalar import portable_hash64
from ..functions.text import normalize_text, token_count, tokens

# Per-language keep rates for the stratified sampler: down-weight the
# over-represented strata (the classic data-mixing move).  Absent
# languages keep everything.
SAMPLE_RATES: dict[str, float] = {"en": 0.5, "zh": 0.25}

PACK_CAPACITY = 512
PACK_SHARDS = 32
PACK_SCHEMA = "doc_id long, shard int, n_tokens int, pack_id int, off_tokens int"


def deterministic_sample(
    documents: DataFrame,
    rates: dict[str, float] | None = None,
    denom: int = 10_000,
    min_tokens: int = 5,
) -> DataFrame:
    """Stratified hash-Bernoulli sample of the corpus.

    A doc is kept iff ``hash(normalized_text) mod denom`` falls under
    its language's rate threshold (and it passes the short-doc gate).
    Hashing the *content* (not the row id) makes the decision stable
    under re-ingestion and consistent for byte-identical duplicates.
    Unlike ``DataFrame.sample`` (partition-order dependent, not
    reproducible across engines), this is exact and portable.
    """
    rates = SAMPLE_RATES if rates is None else rates
    thr = None
    for lang, rate in rates.items():
        step = F.when(F.col("lang") == lang, F.lit(int(rate * denom)))
        thr = step if thr is None else thr.when(F.col("lang") == lang, F.lit(int(rate * denom)))
    thr = F.lit(denom) if thr is None else thr.otherwise(F.lit(denom))
    u = F.pmod(portable_hash64(normalize_text(F.col("text")), seed="sample:"), F.lit(denom))
    return (
        documents.select(
            "doc_id",
            "lang",
            F.size(tokens(F.col("text"))).alias("n_tokens"),
            u.alias("u"),
            thr.alias("_thr"),
        )
        .where((F.col("n_tokens") >= min_tokens) & (F.col("u") < F.col("_thr")))
        .drop("_thr")
    )


def _doc_len(length_col):
    """Length expression the packing/sharding family sizes docs with:
    whitespace token count of the text by default, or a caller-supplied
    column (e.g. ``n_pieces`` from ``bpe_encode_ids``) so placement
    budgets count the MODEL's tokens, not whitespace ones."""
    return (
        F.size(tokens(F.col("text")))
        if length_col is None
        else F.col(length_col).cast("int")
    )


def pack_sequences(
    documents: DataFrame,
    capacity: int = PACK_CAPACITY,
    shards: int = PACK_SHARDS,
    length_col: str | None = None,
) -> DataFrame:
    """Greedy whole-document packing into fixed token windows.

    Docs are sharded by ``doc_id mod shards`` and, within a shard in
    doc_id order, appended to the current pack while they fit; a doc
    that would overflow starts a new pack (a doc longer than
    ``capacity`` gets a pack to itself — truncation is the
    tokenizer's call, not the packer's).  Returns one row per doc
    with its (shard, pack_id, off_tokens) placement.

    The fold runs per shard inside ``applyInPandas`` — Arrow-batched,
    no driver collect; the only shuffle is the groupBy on the shard
    key.  Determinism: shard key and intra-shard order are pure
    functions of doc_id, so placement is reproducible anywhere.
    """

    docs = documents.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(shards)).cast("int").alias("shard"),
        _doc_len(length_col).alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_ids, offs = [], []
        pid, fill = 0, 0
        for t in pdf["n_tokens"]:
            t = int(t)
            if fill > 0 and fill + t > capacity:
                pid += 1
                fill = 0
            pack_ids.append(pid)
            offs.append(fill)
            fill += t
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int32")
        pdf["off_tokens"] = pd.Series(offs, dtype="int32")
        return pdf

    return docs.groupBy("shard").applyInPandas(pack, schema=PACK_SCHEMA)


def pack_sequences_ffd(
    documents: DataFrame,
    capacity: int = PACK_CAPACITY,
    shards: int = PACK_SHARDS,
    length_col: str | None = None,
) -> DataFrame:
    """First-fit-decreasing sequence packing — the padding-efficiency
    upgrade over ``pack_sequences``' next-fit fold: docs are placed
    longest-first into the first open pack with room, so small docs
    backfill the gaps big ones leave instead of forcing new packs.
    FFD is the classic bin-packing heuristic (≤ 11/9·OPT + 1 packs);
    the next-fit fold has no constant-factor bound, so on real length
    distributions FFD cuts pad tokens substantially (pack counts
    asserted ≤ next-fit's on the fixtures).

    Same execution shape as ``pack_sequences``: shard by
    ``doc_id mod shards``, per-shard Arrow-batched fold in
    ``applyInPandas`` — one shuffle, parallelism = shards.  Placement
    is deterministic: sort is (n_tokens DESC, doc_id) and the
    first-fit scan order is pack_id.  An oversize doc (> capacity)
    still gets a pack to itself.  ``off_tokens`` is the doc's offset
    within its pack (docs in a pack laid out in placement order).
    Cross-checked against an independent Python model and the
    no-overflow/all-docs-placed invariants in tests/test_corpus.py.
    """

    docs = documents.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(shards)).cast("int").alias("shard"),
        _doc_len(length_col).alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        fills: list[int] = []  # fill level per pack_id
        pack_ids, offs = [], []
        for t in pdf["n_tokens"]:
            t = int(t)
            for pid, fill in enumerate(fills):
                if fill + t <= capacity:
                    break
            else:
                pid, fill = len(fills), 0
                fills.append(0)
            pack_ids.append(pid)
            offs.append(fill)
            fills[pid] = fill + t
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int32")
        pdf["off_tokens"] = pd.Series(offs, dtype="int32")
        return pdf

    return docs.groupBy("shard").applyInPandas(pack, schema=PACK_SCHEMA)


def shuffle_shard_by_tokens(
    documents: DataFrame,
    target_tokens: int = 2048,
    seed: str = "shuf:",
    buckets: int = 64,
    length_col: str | None = None,
) -> DataFrame:
    """Deterministic global corpus shuffle + token-balanced sharding —
    the step that turns a curated corpus into what a dataloader
    consumes: shards of ~``target_tokens`` tokens each, in a
    reproducible pseudo-random document order.

    Order: ``order_key = portable_hash64(seed || doc_id)`` (ties break
    on doc_id) — a content-independent shuffle that is identical
    across runs, engines, and partition layouts.  Shard: the doc's
    EXCLUSIVE prefix token count along that order, integer-divided by
    ``target_tokens`` (a boundary-straddling doc belongs to the shard
    its first token lands in), so every interior shard's token sum is
    within ±(max_doc_tokens − 1) of target.

    Scale shape — the global prefix sum is NOT a single-partition
    window (``Window.orderBy`` with no partition key collapses the
    corpus onto one task).  Because the order key is a uniform 60-bit
    hash, its top ``log2(buckets)`` bits are an order-PRESERVING
    range partitioner: per-bucket token totals (≤ ``buckets`` rows,
    map-side-combined) are collected once, their exclusive prefix
    becomes a broadcast per-bucket base offset, and the within-bucket
    window runs partitioned by bucket — the classic two-level
    distributed prefix sum, one bounded collect + one bucket-keyed
    shuffle.  The 3-column (id, count, key) projection is persisted
    across the two passes so the corpus text is tokenized exactly
    once; at 100 TB that projection is ~1% of corpus bytes (checkpoint
    it instead if memory is tight).  Raise ``buckets`` (any power of
    two ≤ 2^60) until a bucket's docs fit one task.

    DuckDB-twinned in tests/test_consolidated.py (the twin runs the
    plain global window — same answer, oracle scale doesn't need the
    decomposition), plus bucket-count and partition-layout invariance.
    """
    k = buckets.bit_length() - 1
    if buckets <= 0 or (1 << k) != buckets:
        raise ValueError(f"buckets must be a power of two, got {buckets}")
    docs = documents.select(
        "doc_id",
        _doc_len(length_col).alias("n_tokens"),
        portable_hash64(F.col("doc_id").cast("string"), seed=seed).alias("order_key"),
    ).withColumn("_b", F.shiftright(F.col("order_key"), 60 - k).cast("int"))
    docs.persist()
    totals = sorted(
        (r["_b"], r["t"])
        for r in docs.groupBy("_b").agg(F.sum("n_tokens").alias("t")).collect()
    )
    bases, run = [], 0
    for b, t in totals:
        bases.append((b, run))
        run += int(t)
    spark = documents.sparkSession
    base_df = spark.createDataFrame(bases, "_b int, _base long")
    w = (
        Window.partitionBy("_b")
        .orderBy("order_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.col("_base") + F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        docs.join(F.broadcast(base_df), "_b")
        .withColumn("_before", before)
        .select(
            "doc_id",
            "n_tokens",
            "order_key",
            F.expr(f"CAST(_before DIV {int(target_tokens)} AS INT)").alias("shard"),
            F.pmod(F.col("_before"), F.lit(int(target_tokens))).alias("shard_off"),
        )
    )


def write_training_shards(
    documents: DataFrame,
    out_dir: str,
    target_tokens: int = 2048,
    seed: str = "shuf:",
    buckets: int = 64,
) -> None:
    """Materialize the shuffled corpus as one ordered parquet file per
    shard — the physical dataloader handoff that
    ``shuffle_shard_by_tokens`` plans.

    Layout: ``shard=<n>/`` directories, each holding EXACTLY one file
    whose row order is the shuffle order (``repartition("shard")``
    puts a whole shard in one task; ``sortWithinPartitions`` orders it
    before the ``partitionBy`` writer splits directories, so each
    shard's file is written already sorted).  ``target_tokens`` is
    therefore the FILE granularity: the test-scale default is small,
    a real corpus wants O(10⁸) tokens per shard so file count =
    total_tokens/target stays cluster-reasonable — one task per
    shard is the scale knob, not a bottleneck, because shards are
    *sized in tokens*, not in documents.  Rows keep ``order_key`` and
    ``shard_off`` so a reader that cannot rely on split order can
    re-sort cheaply (``read_training_shard``)."""
    assign = shuffle_shard_by_tokens(documents, target_tokens, seed, buckets)
    (
        documents.join(assign, "doc_id")
        .repartition("shard")
        .sortWithinPartitions("shard", "order_key", "doc_id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )


def read_training_shard(spark, out_dir: str, shard: int) -> DataFrame:
    """One shard back in shuffle order (partition-pruned read; the
    explicit sort costs nothing on a single pre-sorted file but makes
    the order a contract, not a parquet-split accident)."""
    return (
        spark.read.parquet(out_dir)
        .where(F.col("shard") == shard)
        .orderBy("order_key", "doc_id")
    )


def mix_corpus(
    documents: DataFrame,
    recipe: dict[str, int],
    min_tokens: int = 5,
    denom: int = 10_000,
    totals: dict[str, int] | None = None,
) -> DataFrame:
    """Data-mixture recipe: hit a TARGET TOKEN COUNT per source — the
    "data recipe" step (cf. the mixture weights of the Pile/LLaMA-style
    pretraining sets) that sits between curation and tokenization.

    For each source with ``recipe[source] = target_tokens``:
    rate = target / actual; rate < 1 down-samples (content-keyed
    hash-Bernoulli, same determinism contract as
    ``deterministic_sample``), rate > 1 UP-samples: every doc repeats
    ``floor(rate)`` times and the fractional remainder is one more
    hash-selected repeat (epoch repetition for small high-quality
    sources).  Sources absent from the recipe are excluded — a recipe
    is a whitelist.

    Output: (doc_id, source, n_tokens, rep) with rep = 1..n_copies —
    one row per training occurrence, so downstream packing/shuffling
    treats repeats as independent documents.  E[tokens per source] =
    target (quantized to 1/denom); exact across engines
    (DuckDB-twinned in tests).

    Scale shape: one combinable per-source token-sum agg whose result
    (≤ #sources rows, a bounded driver collect) parameterizes a
    map-only CASE + ``explode(sequence(...))`` — no shuffle of the
    corpus itself, and repeats materialize at scan time, not storage.
    """
    base = (
        documents.select(
            "doc_id",
            "source",
            F.size(tokens(F.col("text"))).alias("n_tokens"),
            F.pmod(
                portable_hash64(normalize_text(F.col("text")), seed="mix:"), F.lit(denom)
            ).alias("u"),
        )
        .where(F.col("n_tokens") >= min_tokens)
        .where(F.col("source").isin(list(recipe)))
    )
    if totals is None:
        totals = {
            r["source"]: r["t"]
            for r in base.groupBy("source").agg(F.sum("n_tokens").alias("t")).collect()
        }
    else:
        # caller-supplied per-source token totals (same min_tokens
        # gate!) — lets mix_corpus_temperature reuse its share
        # aggregation instead of paying a second corpus scan
        totals = {s: t for s, t in totals.items() if s in recipe}
    whole = None
    thr = None
    for src, target in recipe.items():
        t = totals.get(src)
        if not t:
            continue  # nothing survives the gates for this source
        rate = target / t
        w, frac = int(rate), rate - int(rate)
        wc = F.when(F.col("source") == src, F.lit(w))
        tc = F.when(F.col("source") == src, F.lit(int(round(frac * denom))))
        whole = wc if whole is None else whole.when(F.col("source") == src, F.lit(w))
        thr = tc if thr is None else thr.when(F.col("source") == src, F.lit(int(round(frac * denom))))
    if whole is None:
        return base.select("doc_id", "source", "n_tokens", F.lit(1).alias("rep")).limit(0)
    n_copies = whole.otherwise(F.lit(0)) + F.when(
        F.col("u") < thr.otherwise(F.lit(0)), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        base.withColumn("n_copies", n_copies)
        .where(F.col("n_copies") > 0)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("rep"),
        )
    )


def mix_corpus_temperature(
    documents: DataFrame,
    alpha: float,
    total_tokens: int,
    min_tokens: int = 5,
    denom: int = 10_000,
) -> DataFrame:
    """Temperature-based mixture: derive the per-source token recipe
    FROM the corpus's own distribution instead of hand weights — the
    p^α re-weighting of multilingual/multi-source pretraining (Conneau
    & Lample 2019; XLM-R): source s gets ``total_tokens · p_s^α /
    Σ_t p_t^α`` where ``p_s`` is its empirical token share.  α = 1
    keeps the natural proportions, α = 0 flattens to uniform, values
    between up-weight small high-quality sources without letting any
    source dominate.

    One bounded per-source aggregation (≤ #sources rows collected)
    computes the shares; the recipe then rides the exact
    :func:`mix_corpus` machinery — same determinism, same scale shape
    (map-only CASE + scan-time repeats, the corpus never shuffles).
    Sources must clear the same ``min_tokens`` gate both here and in
    the delegate, so the shares and the sampling see the same corpus.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    base = documents.select(
        "source", F.size(tokens(F.col("text"))).alias("n_tokens")
    ).where(F.col("n_tokens") >= min_tokens)
    totals = {
        r["source"]: r["t"]
        for r in base.groupBy("source").agg(F.sum("n_tokens").alias("t")).collect()
    }
    if not totals:
        return mix_corpus(documents, {}, min_tokens, denom)
    grand = sum(totals.values())
    powed = {s: (t / grand) ** alpha for s, t in totals.items()}
    z = sum(powed.values())
    recipe = {s: int(round(total_tokens * p / z)) for s, p in powed.items()}
    # hand the delegate our totals — one corpus scan, not two
    return mix_corpus(documents, recipe, min_tokens, denom, totals=totals)


def prepare_training_corpus(
    documents: DataFrame,
    jaccard_threshold: float = 0.5,
    val_pct: int = 5,
    test_pct: int = 5,
    quality_model_dir: str | None = None,
    quality_threshold: float = 0.5,
    benchmark: DataFrame | None = None,
    decontam_threshold: float = 0.5,
    benchmark_excise_n: int | None = None,
    dedup_policy: str = "greedy",
    dsir_target: DataFrame | None = None,
    dsir_k: int | None = None,
    dsir_temperature: float | None = 0.5,
    dsir_buckets: int = 1024,
    lm_dir: str | None = None,
    max_ppl: float | None = None,
) -> DataFrame:
    """The full corpus-prep flow a pretraining pipeline runs, composed
    from the engine's stages:

        quality filter → [benchmark decontamination] → PII redaction →
        fuzzy (MinHash-LSH) dedup → content-hash split

    Returns one row per *surviving* document: doc_id, lang, split,
    n_tokens, redacted_md5.

    Composition notes (100 TB stance): the quality gate and redaction
    are scan-side; dedup is the banded-LSH sub-quadratic flow over
    only the quality survivors (filter FIRST — junk docs never pay
    shingle/minhash cost); the split is a free map-side column.  Each
    stage is individually oracle-checked (quality_signals, pii_redact,
    fuzzy_dedup_keep, hash_split); the composition itself is the
    ``corpus_prep`` driver-gate entry (full DuckDB twin in oracle.py)
    plus invariant tests (tests/test_corpus.py).

    The quality gate uses the ppm (integer micro-unit) form so the
    keep/drop flag is bit-identical to the DuckDB twin — the 6dp
    double form can disagree with integer floor division exactly at a
    threshold boundary.

    ``quality_model_dir`` swaps the heuristic gate for the TRAINED
    hashed linear classifier (``classifier.score_quality_from_model``,
    keep = prob ≥ ``quality_threshold``) — the production progression:
    heuristics label a sample, the model distills them, the corpus
    gate runs the model (a broadcast weight join instead of a
    histogram aggregation).  Survivor token counts still come from
    the ppm signals so downstream columns are unchanged.

    ``benchmark`` adds the eval-leakage gate (``decontam.
    fuzzy_decontaminate``): quality survivors that MinHash-near-dup a
    benchmark doc are dropped BEFORE dedup — decontamination first, so
    a contaminated doc can never be the dedup keeper that suppressed
    its clean near-copy.  The benchmark side broadcasts; the corpus
    side pays only its own (already-required) shingle/minhash pass.

    ``benchmark_excise_n`` (with ``benchmark``) additionally runs the
    SURGICAL pass first: exact benchmark n-gram spans are excised from
    every document (``decontam.excise_contaminated_spans``) before any
    gating, so a mostly-clean doc keeps its clean prose instead of
    dying whole — the two passes compose the production policy (cut
    exact leakage, then fuzzy-drop what still near-dups a benchmark
    doc).  Quality is judged on the EXCISED text (a doc that was 90 %
    benchmark should not pass on benchmark prose).  Because excision
    rewrites docs to their NORMALIZED token stream — which strips the
    punctuation the PII patterns match on — PII is scrubbed from the
    RAW text BEFORE excision in this mode (redaction placeholders
    normalize like ordinary tokens); the downstream ``pii_redact``
    then hashes the final already-scrubbed text.

    ``lm_dir`` + ``max_ppl`` insert the PERPLEXITY gate
    (``lm_filter.perplexity_filter`` against the stored reference
    n-gram LM) right after the quality gate — the CCNet rung: the
    heuristic/classifier gates judge a doc by its own surface
    statistics, this one by how well a trusted reference distribution
    predicts it (a same-vocabulary token scramble passes every
    frequency gate and dies here).  Tokenless docs pass through (no
    evidence is not a verdict; the quality gate already rules them).

    ``dsir_target`` + ``dsir_k`` append the data-SELECTION stage
    (``dsir.dsir_select``): importance-resample a ``dsir_k``-document
    budget, weighted toward the target corpus's hashed-n-gram
    distribution, from the deduped clean survivors — last in the
    flow, so duplicates and contaminated docs can never spend the
    budget.  ``dsir_temperature=None`` makes the cut deterministic
    top-k by weight.
    """
    from .dedup import fuzzy_dedup_keep, hash_split
    from .quality import pii_redact, quality_signals_ppm

    if benchmark_excise_n is not None:
        if benchmark is None:
            raise ValueError("benchmark_excise_n requires a benchmark corpus")
        from .decontam import excise_contaminated_spans

        scrubbed = pii_redact(documents, keep_text=True).select(
            "doc_id", F.col("redacted").alias("text")
        )
        documents = documents.drop("text").join(scrubbed, "doc_id")
        documents = excise_contaminated_spans(
            documents, benchmark, n=benchmark_excise_n
        ).select("doc_id", "text", "lang", "source")
    sig = quality_signals_ppm(documents)
    if quality_model_dir is not None:
        from .classifier import score_quality_from_model

        keep_ids = score_quality_from_model(
            documents.sparkSession,
            documents,
            quality_model_dir,
            threshold=quality_threshold,
        ).where(F.col("quality_keep")).select("doc_id")
        keep_quality = sig.join(keep_ids, "doc_id").select("doc_id", "n_tokens")
    else:
        keep_quality = sig.where(F.col("quality_ok")).select("doc_id", "n_tokens")
    gated = documents.join(keep_quality, "doc_id")
    if (lm_dir is None) != (max_ppl is None):
        raise ValueError(
            "lm_dir and max_ppl come together: the perplexity gate needs "
            "both the stored LM artifact and an explicit cut"
        )
    if lm_dir is not None:
        from .lm_filter import perplexity_filter

        gated = perplexity_filter(
            documents.sparkSession, gated, lm_dir, max_ppl, keep_tokenless=True
        )
    if benchmark is not None:
        from .decontam import fuzzy_decontaminate

        clean = (
            fuzzy_decontaminate(gated, benchmark, threshold=decontam_threshold)
            .where(~F.col("contaminated"))
            .select("doc_id")
        )
        gated = gated.join(clean, "doc_id", "left_semi")
    # cut the lineage before the self-joining dedup: the MinHash-LSH
    # band self-join and the Jaccard verification each embed MULTIPLE
    # copies of their input plan, so an unpersisted gate subplan
    # (quality agg + optional decontamination, itself self-joining)
    # re-evaluates combinatorially — measured ~5k stages on a 120-doc
    # fixture.  One materialization of the gated survivors is the
    # checkpoint a 100 TB run would write anyway (same trade as
    # shuffle_shard_by_tokens' persisted projection).
    gated = gated.persist()
    if dedup_policy == "greedy":
        kept = fuzzy_dedup_keep(gated, threshold=jaccard_threshold).select("doc_id")
    elif dedup_policy == "cluster_best":
        # one survivor per verified near-dup COMPONENT, chosen by
        # content mass (n_tokens; ties → smallest id) — the
        # keep-the-best-copy policy.  For model-scored merit, call
        # dedup.fuzzy_dedup_keep_by directly with the score column.
        from .dedup import fuzzy_dedup_keep_by

        kept = fuzzy_dedup_keep_by(
            gated, "n_tokens", threshold=jaccard_threshold
        ).select("doc_id")
    else:
        raise ValueError(
            f"unknown dedup_policy {dedup_policy!r} — use 'greedy' or 'cluster_best'"
        )
    survivors = gated.join(kept, "doc_id")
    if (dsir_target is None) != (dsir_k is None):
        # symmetric validation: a budget without a target (or vice
        # versa) silently skipping selection would ship an unselected
        # corpus believing the budget was applied
        raise ValueError(
            "dsir_target and dsir_k must be passed together (the selection "
            "target and its document budget)"
        )
    if dsir_target is not None:
        # importance-resample the doc BUDGET from the already-clean
        # survivors — selection runs LAST so near-dup clusters and
        # contaminated docs can never spend it (a 50-copy cluster
        # would otherwise fill the top-k with one document's text).
        from .dsir import dsir_select

        survivors = dsir_select(
            survivors,
            dsir_target,
            k=dsir_k,
            n_buckets=dsir_buckets,
            temperature=dsir_temperature,
        ).drop("logw", "score")
        # three consumers below (redact, split, final select) — one
        # materialization, same re-evaluation hazard the `gated`
        # persist above documents
        survivors = survivors.persist()
    red = pii_redact(survivors).select("doc_id", "redacted_md5")
    split = hash_split(survivors, val_pct=val_pct, test_pct=test_pct).select("doc_id", "split")
    return (
        survivors.select("doc_id", "lang", "n_tokens")
        .join(red, "doc_id")
        .join(split, "doc_id")
        .select("doc_id", "lang", "split", "n_tokens", "redacted_md5")
    )


def build_vocab(
    documents: DataFrame, max_size: int = 32768, min_count: int = 1
) -> DataFrame:
    """Frequency-ranked vocabulary over the normalized token stream —
    (token_id, term, n_occurrences), ids 1..max_size by (count DESC,
    term) so the assignment is deterministic across runs and engines;
    id 0 is reserved for OOV/UNK (``encode_tokens``).

    Scale shape: one combinable term-count aggregation, then the
    max_size cut runs as a distributed top-k
    (``orderBy().limit()`` → TakeOrderedAndProject — per-partition
    heaps, no global sort), and the ranking window touches only the
    BOUNDED max_size survivors.  The full distinct-term table is
    never single-partitioned."""
    counts = (
        documents.select(F.explode(tokens(F.col("text"))).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("n_occurrences"))
        .where(F.col("n_occurrences") >= min_count)
    )
    top = counts.orderBy(F.col("n_occurrences").desc(), "term").limit(max_size)
    w = Window.orderBy(F.col("n_occurrences").desc(), "term")
    return top.select(
        F.row_number().over(w).alias("token_id"), "term", "n_occurrences"
    )


def encode_tokens(documents: DataFrame, vocab: DataFrame) -> DataFrame:
    """Map each document to its token-id sequence under a built
    vocabulary — the tokenize step that makes the shard handoff
    (``shuffle_shard_by_tokens`` → ``write_training_shards``) carry
    model-ready ids instead of raw text.  Out-of-vocabulary tokens
    encode as 0 (the reserved UNK id); docs whose text normalizes to
    nothing surface with an EMPTY array rather than vanishing.

    Scale shape: posexplode → broadcast vocab join (the vocabulary is
    bounded by construction — always broadcastable) → one doc-keyed
    reassembly agg (``array_sort`` over (pos, id) structs restores
    token order without a sort shuffle).  Returns (doc_id, token_ids
    array<int>, n_tokens)."""
    pos_toks = documents.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "term")
    ).where(F.col("term") != "")
    joined = pos_toks.join(
        F.broadcast(vocab.select("term", "token_id")), "term", "left"
    )
    enc = joined.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "pos", F.coalesce("token_id", F.lit(0)).cast("int").alias("tid")
                    )
                )
            ),
            lambda s: s["tid"],
        ).alias("token_ids")
    )
    return (
        documents.select("doc_id")
        .join(enc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("token_ids"), F.array().cast("array<int>")).alias(
                "token_ids"
            ),
        )
        .withColumn("n_tokens", F.size("token_ids"))
    )


def corpus_diff(old_documents: DataFrame, new_documents: DataFrame) -> DataFrame:
    """Snapshot diff between two corpus versions — the incremental
    work-list for every downstream artifact (indexes fold in `added`,
    dedup/TTL drop `removed`, `changed` docs re-run the prep flow):
    (doc_id, change ∈ added | removed | changed), unchanged docs
    excluded.

    Scale shape: each side reduces to its (doc_id, content digest)
    projection — column-pruned scans, no text leaves the mapper — and
    the diff is ONE full-outer equi-join of digest tables keyed by
    doc_id.  Content equality by md5 over a null-coalesced text (a
    NULL-text doc digests to a sentinel, NOT to NULL — row presence
    is tracked by a separate marker, so a doc whose text is NULL in
    both snapshots correctly diffs to nothing, and NULL↔non-NULL
    edits report as ``changed``).  A byte-identical re-ingest diffs
    to nothing regardless of row order or partition layout."""
    digest = F.md5(F.coalesce(F.col("text"), F.lit("\u0000<null>")))
    o = old_documents.select("doc_id", digest.alias("_od"), F.lit(True).alias("_op"))
    n = new_documents.select("doc_id", digest.alias("_nd"), F.lit(True).alias("_np"))
    change = (
        F.when(F.col("_op").isNull(), F.lit("added"))
        .when(F.col("_np").isNull(), F.lit("removed"))
        .when(F.col("_od") != F.col("_nd"), F.lit("changed"))
    )
    return (
        o.join(n, "doc_id", "full_outer")
        .select("doc_id", change.alias("change"))
        .where(F.col("change").isNotNull())
    )


def _report_projection(documents: DataFrame) -> DataFrame:
    """(source, lang, digest, n_toks) — the map-side projection both
    the one-shot report and the mergeable card state aggregate."""
    return documents.select(
        "source",
        "lang",
        F.md5(normalize_text(F.col("text"))).alias("digest"),
        token_count(F.col("text")).alias("n_toks"),
    )


def corpus_report(documents: DataFrame) -> DataFrame:
    """The dataset-card summary a training pipeline publishes with
    every corpus snapshot — one row per (source, lang): document and
    token counts, EXACT-duplicate rate by normalized-content digest,
    and token-length distribution (mean, exact interpolated p50/p95).

    Scale shape: one projection computes (digest, n_tokens) map-side,
    then ONE (source, lang)-keyed aggregation — count_distinct and the
    exact percentiles are Spark's built-in partial-aggregating
    implementations, and the group-key domain (sources × langs) is
    bounded, so the result is always small.  Every number is
    DuckDB-recomputable (md5 digest, count distinct, quantile_cont) —
    twinned in tests/test_corpus_report.py.

    ``dup_rate`` counts exact duplicates only (1 − distinct/docs);
    near-dup rates come from the MinHash flow (``dedup_clusters``) —
    this report is the cheap always-on observability pass, not the
    dedup gate."""
    proj = _report_projection(documents)
    return proj.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.countDistinct("digest").alias("n_distinct"),
        F.round(
            F.lit(1.0) - F.countDistinct("digest") / F.count("*"), 6
        ).alias("dup_rate"),
        F.round(F.avg("n_toks"), 2).alias("mean_tokens"),
        F.expr("percentile(n_toks, 0.5)").alias("p50_tokens"),
        F.expr("percentile(n_toks, 0.95)").alias("p95_tokens"),
    )


def corpus_card_state(documents: DataFrame, lgk: int = 12) -> DataFrame:
    """MERGEABLE form of the dataset card's scalar half — per
    (source, lang): additive n_docs / n_tokens plus an HLL sketch of
    the content digests (``dup_rate`` becomes an estimate at read
    time).  HLL registers merge by max, so a union of per-batch
    sketches is BIT-IDENTICAL to sketching the whole corpus at once —
    the incremental card equals the one-shot card exactly (tested).
    The token-length quantile half lives in a companion
    ``sketches.log_histogram_state`` table (same keys)."""
    return _report_projection(documents).groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.hll_sketch_agg("digest", F.lit(lgk)).alias("digest_state"),
    )


def merge_corpus_card_increment(
    spark,
    path: str,
    documents: DataFrame,
    lgk: int = 12,
    epoch: int | None = None,
) -> None:
    """Fold a document batch into the stored card state — the same
    AggregatingMergeTree insert-trigger shape as the uniq/quantile
    states (bootstrap write, table-level ``last_epoch`` stamp, atomic
    stage-swap commit; re-delivered epochs no-op)."""
    import os

    from ..storage import finish_interrupted_swaps
    from ..warehouse import _stage_swap
    from .sketches import _epoch_done, _epoch_stamp

    state = corpus_card_state(documents, lgk)
    finish_interrupted_swaps(path)
    if not os.path.isdir(path):
        # stage-swap the bootstrap too: a crash mid-bootstrap must not
        # leave a partial directory the next call merges on top of
        _stage_swap(_epoch_stamp(state, epoch), path)
        return
    current = spark.read.parquet(path)
    if _epoch_done(current, epoch):
        return
    merged = (
        current.drop("last_epoch")
        .unionByName(state)
        .groupBy("source", "lang")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.hll_union_agg("digest_state").alias("digest_state"),
        )
    )
    _stage_swap(_epoch_stamp(merged, epoch), path)


def read_corpus_card(
    spark, base_dir: str, qs: tuple[float, float] = (0.5, 0.95)
) -> DataFrame:
    """Read-time dataset card from the stored state pair
    (``{base_dir}/card`` + ``{base_dir}/lenhist``): same columns as
    the one-shot ``corpus_report``, with ``n_distinct``/``dup_rate``
    as HLL estimates and the two quantiles within the log-histogram's
    relative-error bound.  Everything here is state-cardinality work —
    the corpus is never touched."""
    from .sketches import log_histogram_quantiles

    card = spark.read.parquet(f"{base_dir}/card").drop("last_epoch")
    est = F.least(F.col("n_docs"), F.hll_sketch_estimate("digest_state"))
    scal = card.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        est.cast("long").alias("n_distinct"),
        F.round(F.lit(1.0) - est / F.col("n_docs"), 6).alias("dup_rate"),
        F.round(F.col("n_tokens") / F.col("n_docs"), 2).alias("mean_tokens"),
    )
    hist = spark.read.parquet(f"{base_dir}/lenhist").drop("last_epoch")
    qlo, qhi = float(qs[0]), float(qs[1])
    quant = log_histogram_quantiles(hist, ["source", "lang"], [qlo, qhi])
    lo = quant.where(F.col("q") == qlo).select(
        "source", "lang", F.col("quantile").alias("p50_tokens")
    )
    hi = quant.where(F.col("q") == qhi).select(
        "source", "lang", F.col("quantile").alias("p95_tokens")
    )
    return scal.join(lo, ["source", "lang"], "left").join(
        hi, ["source", "lang"], "left"
    )


def heavy_hitter_terms(documents: DataFrame, support: float = 0.02) -> DataFrame:
    """Approximate corpus-level heavy hitters: terms appearing in more
    than ``support`` fraction of term occurrences, via Spark's
    single-pass ``freqItems`` (Karp-Papadimitriou-Shenker counters).

    Guarantee (and the test's invariant): the result is a SUPERSET of
    the true heavy hitters — false positives possible, false negatives
    not.  One pass, no shuffle beyond the explode; the exact
    verification rollup (groupBy term) is what you run when the
    candidate set must be confirmed — candidates first makes that
    second pass a semi-join instead of a full aggregation at 100 TB.
    """
    toks = documents.select(F.explode(tokens(F.col("text"))).alias("term")).where(
        F.col("term") != ""
    )
    hits = toks.freqItems(["term"], support=support).first()["term_freqItems"]
    return documents.sparkSession.createDataFrame(
        [(t,) for t in sorted(hits)], "term string"
    )


CDC_WINDOW = 8       # rolling window width (chars)
CDC_DIVISOR = 64     # expected chunk size ≈ divisor chars
CDC_SEGMENT = 32768  # max chars hashed per row — bounds the transient
# char-hash arrays at O(segment), not O(document)
CDC_CHUNK_SCHEMA = "doc_id long, chunk_idx int, chunk string"
_CDC_MOD = 1 << 56   # polynomial-hash modulus: keeps acc*31+h < 2^63
# so the fold never overflows a BIGINT (ANSI-safe)


def _char_array(txt, n):
    """The text as an array of 1-char strings (``split('')`` appends
    one trailing ``''`` — sliced off).  Everything positional downstream
    indexes THIS array at O(1); ``UTF8String.substr`` walks bytes from
    the string start, so per-position/per-chunk substr turns the whole
    operator O(n²) — measured 11 s for a single 27 kB doc."""
    return F.slice(F.split(txt, ""), 1, n)


def _char_hashes(ca):
    """Per-char xxhash64 (mod 2^56) over the char array — computed
    ONCE per row; window hashes combine these by array indexing."""
    return F.transform(ca, lambda c: F.pmod(F.xxhash64(c), F.lit(_CDC_MOD)))


def _cuts_from_hashes(ch, window: int, divisor: int):
    """Ascending cut positions (1-based, ``>= window``) where the
    polynomial combine of the trailing ``window`` char hashes ≡ 0
    (mod ``divisor``); empty when the text is shorter than the window
    (an unguarded ``sequence(window, n)`` DESCENDS when n < window,
    yielding out-of-range probes and unsorted bounds)."""
    n = F.size(ch)
    return F.when(
        n >= window,
        F.filter(
            F.transform(
                F.sequence(F.lit(window), n),
                lambda i: F.when(
                    F.aggregate(
                        F.slice(ch, i - window + 1, F.lit(window)),
                        F.lit(0).cast("long"),
                        lambda acc, h: F.pmod(acc * 31 + h, F.lit(_CDC_MOD)),
                    )
                    % divisor
                    == 0,
                    i,
                ),
            ),
            lambda x: x.isNotNull(),
        ),
    ).otherwise(F.expr("CAST(array() AS array<int>)"))


def _explode_chunks(df: DataFrame, cuts) -> DataFrame:
    """bounds = 0 ∪ cuts ∪ n → slice consecutive spans → posexplode.
    Spans are extracted by slicing the materialized ``_ca`` char array
    (O(chunk) each; a per-chunk substr on the original string would be
    O(chunk position) — quadratic over the doc).  Zero-length chunks
    are filtered, so a document whose normalized text is EMPTY yields
    no rows at all — deliberate, matching how the fingerprint
    operators drop token-less docs."""
    ca, n = F.col("_ca"), F.size(F.col("_ca"))
    bounds = F.concat(F.array(F.lit(0)), cuts, F.array(n))
    starts = F.slice(bounds, 1, F.size(bounds) - 1)
    chunks = F.zip_with(
        starts,
        F.slice(bounds, 2, F.size(bounds) - 1),
        lambda a, b: F.when(b > a, F.concat_ws("", F.slice(ca, a + 1, b - a))),
    )
    return df.select(
        "doc_id",
        F.posexplode(F.filter(chunks, lambda c: c.isNotNull())).alias("chunk_idx", "chunk"),
    )


def content_defined_chunks(
    documents: DataFrame,
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
    segment: int = CDC_SEGMENT,
) -> DataFrame:
    """Content-defined chunking: split each document at positions where
    the hash of the trailing ``window`` characters ≡ 0 (mod
    ``divisor``) — boundaries follow CONTENT, so an edit near the start
    moves only the chunks it touches, and identical passages chunk
    identically across documents (the property fixed-size chunking
    lacks, and why dedup/embedding pipelines chunk this way).

    Pure array expressions, no UDF: per-char xxhash64 array computed
    once per row (``_char_hashes`` — O(n)), then per-position window
    hashes combine ``window`` consecutive char hashes by O(1) array
    indexing (O(n·window) total), boundary filter, then slice between
    consecutive boundaries and explode.

    Memory shape: the per-row char/char-hash arrays cost well over
    8 bytes/char, so docs longer than ``segment`` chars take a
    SEGMENTED path in which NO expression ever materializes an
    O(document) — or O(total-chunks) — array: each row hashes one
    ``segment``-char slice (with ``window-1`` chars of left overlap: a
    boundary decision only sees the trailing window, so per-segment
    cuts equal global cuts exactly), and CHUNK EXTRACTION is also
    segment-local: a segment's piece boundaries are its own cuts, each
    piece slices out of the segment's O(segment) char array, the
    piece's global chunk index is a prefix sum of cut counts over the
    doc's preceding segments (one window function over slim per-segment
    rows), and a (doc, chunk)-keyed groupBy concatenates the ≥1 pieces
    of each chunk in segment order (a chunk spanning k segments
    assembles from its k owning pieces; the common ≪segment chunk is a
    single piece).  Peak per-row transient memory is O(segment)
    everywhere; only the output chunk strings themselves scale with
    chunk length.  Short docs (the overwhelming majority of any
    corpus) stay on the shuffle-free single-expression path; the two
    paths produce identical chunks (property-tested).
    """
    base = documents.select("doc_id", normalize_text(F.col("text")).alias("_t"))
    n = F.length(F.col("_t"))

    # char/char-hash arrays are materialized as real columns BEFORE
    # any lambda references them — inlined into a lambda they would
    # re-evaluate per element
    short = (
        base.where(n <= segment)
        .select("doc_id", _char_array(F.col("_t"), F.length(F.col("_t"))).alias("_ca"))
        .select("doc_id", "_ca", _char_hashes(F.col("_ca")).alias("_ch"))
    )
    short_out = _explode_chunks(short, _cuts_from_hashes(F.col("_ch"), window, divisor))

    long_docs = base.where(n > segment)
    nseg = F.ceil(n / F.lit(segment)).cast("int")
    g0 = F.col("k").cast("long") * segment          # 0-based global start of the segment
    s_start = F.greatest(g0 - (window - 1), F.lit(0))  # include left overlap
    seg_txt = F.col("_t").substr(s_start + 1, g0 + segment - s_start)
    segs = long_docs.select(
        "doc_id", "_t", F.explode(F.sequence(F.lit(0), nseg - 1)).alias("k")
    ).select(
        "doc_id",
        F.length("_t").cast("long").alias("_n"),
        s_start.alias("_s0"),
        g0.alias("_g0"),
        seg_txt.alias("_st"),
    )
    # char/char-hash/cut arrays are materialized as REAL columns before
    # any lambda references them (inlined they re-evaluate per element —
    # the quadratic trap _char_array documents); all are O(segment)
    hashed = segs.select(
        "doc_id", "_n", "_s0", "_g0", "_st",
        _char_array(F.col("_st"), F.length(F.col("_st"))).alias("_sca"),
    ).select(
        "doc_id", "_n", "_s0", "_g0", "_st", _char_hashes(F.col("_sca")).alias("_ch")
    )
    # local cut i (1-based in the segment) ↔ global position _s0 + i;
    # keep only cuts owned by this segment: global ∈ (_g0, _g0+segment]
    local = _cuts_from_hashes(F.col("_ch"), window, divisor)
    gcuts = F.filter(
        F.transform(local, lambda i: i.cast("long") + F.col("_s0")),
        lambda p: p > F.col("_g0"),
    )

    # --- segment-local chunk extraction -----------------------------
    # A segment's piece boundaries are its OWN cuts (plus its owned
    # range ends): piece p of this segment belongs to global chunk
    # (cuts-in-preceding-segments + p) — a prefix sum over segments,
    # not a per-doc cut assembly — so NO expression anywhere holds an
    # O(document) or O(total-chunks) array.  The window shuffle carries
    # the compact segment STRING + its small cut array (the ~16 B/char
    # char array is re-materialized map-side after); pieces then slice
    # out of that O(segment) char array and a (doc, chunk)-keyed
    # groupBy concatenates the ≥1 pieces of each chunk in segment order.
    wseg = Window.partitionBy("doc_id").orderBy("_g0")
    cut_counts = hashed.select(
        "doc_id", "_s0", "_g0", "_st", gcuts.alias("_gc"),
        F.least(F.col("_g0") + segment, F.col("_n")).alias("_ge"),
    ).select(
        "doc_id", "_s0", "_g0", "_st", "_gc", "_ge",
        F.coalesce(
            F.sum(F.size("_gc")).over(wseg.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("_prefix"),
    )
    # piece boundaries: g0 ∪ own cuts ∪ gend (ascending, all within the
    # segment's owned range) — materialized before the lambda probes it
    seg2 = cut_counts.select(
        "doc_id", "_s0", "_g0", "_prefix",
        F.concat(F.array(F.col("_g0")), F.col("_gc"), F.array(F.col("_ge"))).alias("_pb"),
        _char_array(F.col("_st"), F.length(F.col("_st"))).alias("_sca"),
    )

    def _piece(p):
        lo = F.element_at(F.col("_pb"), (p + 1).cast("int"))
        hi = F.element_at(F.col("_pb"), (p + 2).cast("int"))
        return F.when(
            hi > lo,  # only the trailing piece can be empty (cut == gend)
            F.struct(
                (F.col("_prefix") + p).cast("int").alias("cidx"),
                F.concat_ws(
                    "",
                    F.slice(
                        F.col("_sca"),
                        (lo - F.col("_s0") + 1).cast("int"),
                        (hi - lo).cast("int"),
                    ),
                ).alias("piece"),
            ),
        )

    pieces = F.filter(
        F.transform(
            F.sequence(F.lit(0).cast("long"), F.size(F.col("_pb")).cast("long") - 2), _piece
        ),
        lambda s: s.isNotNull(),
    )
    prows = seg2.select("doc_id", "_g0", F.explode(pieces).alias("p"))
    # a chunk's pieces concatenate in segment (_g0) order; _g0 is
    # unique per (doc, segment), so the struct sort is total
    long_out = (
        prows.groupBy("doc_id", F.col("p.cidx").alias("cidx"))
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("_g0").alias("g"), F.col("p.piece").alias("s")))
                    ),
                    lambda x: x["s"],
                ),
            ).alias("chunk")
        )
        .select("doc_id", F.col("cidx").alias("chunk_idx"), "chunk")
    )

    return short_out.unionByName(long_out)


def repeated_passages(
    documents: DataFrame,
    min_docs: int = 2,
    min_chunk_chars: int = 16,
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
    segment: int = CDC_SEGMENT,
) -> DataFrame:
    """Cross-document repeated-passage detection — the distributed
    analog of suffix-array substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"):
    boilerplate paragraphs, license headers and templated text that
    recur across otherwise-distinct documents, which document-level
    dedup (exact/MinHash/SimHash) cannot see.

    Why content-defined chunking makes this work: CDC boundaries
    follow CONTENT, so a passage shared by many documents chunks
    identically wherever it appears — at any byte offset, in any
    surrounding context (only the passage's first/last partial chunks
    differ, since they blend with neighboring text).  A repeated
    passage is therefore exactly a chunk digest with cross-document
    support ≥ ``min_docs`` — no suffix array, no all-pairs substring
    comparison.

    Returns (doc_id, chunk_idx, passage_md5, chunk_chars, n_docs,
    n_occurrences): one row per flagged occurrence, locating the
    passage inside each document so a downstream rewrite can excise
    it (the Lee-et-al. remove-repeated-substrings step).

    Scale shape: the chunk table is ~corpus-sized; support counting is
    ONE digest-keyed combinable shuffle, and flagged digests join back
    by the same key (the exchange is reusable).  ``min_chunk_chars``
    drops sub-window fragments whose collisions are noise, not shared
    prose.
    """
    chunks = content_defined_chunks(documents, window, divisor, segment)
    h = chunks.select(
        "doc_id",
        "chunk_idx",
        F.md5(F.col("chunk")).alias("passage_md5"),
        F.length(F.col("chunk")).alias("chunk_chars"),
    ).where(F.col("chunk_chars") >= min_chunk_chars)
    support = (
        h.groupBy("passage_md5")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
    )
    return h.join(support, "passage_md5").select(
        "doc_id", "chunk_idx", "passage_md5", "chunk_chars", "n_docs", "n_occurrences"
    )


def remove_repeated_passages(
    documents: DataFrame,
    min_docs: int = 2,
    min_chunk_chars: int = 16,
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
    segment: int = CDC_SEGMENT,
) -> DataFrame:
    """The excision half of the Lee-et-al. repeated-substring dedup:
    rewrite each document with its cross-document repeated chunks
    (``repeated_passages``) removed, keeping ONE canonical occurrence
    corpus-wide — the occurrence with the smallest (doc_id, chunk_idx)
    — so the passage's text survives in exactly one training document.

    Rebuild is chunk-concatenation in chunk order: CDC chunks
    partition the normalized text exactly (property-tested in the
    chunking suite), so dropping flagged chunks and concatenating the
    rest is a faithful rewrite of the remaining prose.  Returns
    (doc_id, lang, source, text) with the rewritten (normalized) text.

    Scale shape: chunking is map-heavy, flagged-digest support is one
    combinable shuffle, the canonical-keeper choice is a ``min_by``
    over the same digest key, and the rebuild is one (doc_id)-keyed
    aggregation — every stage keyed, nothing broadcast except nothing.
    """
    chunks = content_defined_chunks(documents, window, divisor, segment)
    h = chunks.withColumn("passage_md5", F.md5(F.col("chunk"))).withColumn(
        "chunk_chars", F.length(F.col("chunk"))
    )
    eligible = h.where(F.col("chunk_chars") >= min_chunk_chars)
    support = (
        eligible.groupBy("passage_md5")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min_by(
                F.struct("doc_id", "chunk_idx"), F.struct("doc_id", "chunk_idx")
            ).alias("keeper"),
        )
        .where(F.col("n_docs") >= min_docs)
        .select("passage_md5", "keeper")
    )
    kept = (
        h.join(support, "passage_md5", "left")
        .where(
            F.col("keeper").isNull()  # not a repeated passage
            | (
                (F.col("doc_id") == F.col("keeper.doc_id"))
                & (F.col("chunk_idx") == F.col("keeper.chunk_idx"))
            )
        )
        .select("doc_id", "chunk_idx", "chunk")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("chunk_idx").alias("i"), F.col("chunk").alias("s")))
                ),
                lambda x: x["s"],
            ),
        ).alias("text")
    )
    meta = documents.select("doc_id", "lang", "source")
    return meta.join(rebuilt, "doc_id", "left").select(
        "doc_id", "lang", "source", F.coalesce("text", F.lit("")).alias("text")
    )
