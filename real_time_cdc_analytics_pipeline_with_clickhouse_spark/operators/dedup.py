"""Deduplication operators for LLM training-data pipelines (north star).

Five families, each shuffle-aware for 100 TB:

- exact        — normalize → md5 → groupBy(hash).min(doc_id): one
  map-side-combinable shuffle keyed on the digest.
- n-gram Jaccard — shingle → explode → self-equi-join on shingle →
  per-pair overlap count → Jaccard filter.  The join key is the
  shingle, so co-occurrence is computed without a cartesian.
- MinHash + LSH — per-doc signature via k independent hashes, banded
  into buckets; only docs sharing a band bucket pair up.  Candidate
  generation is an equi-join on (band, bucket-key) — the classic
  sub-quadratic path.
- SimHash      — 32-bit weighted-bit fingerprint; near-dups share the
  fingerprint (or a band of it).
- embedding cosine — sign-LSH bucketing (8 hyperoctant bits) then
  in-bucket cosine; avoids the all-pairs cartesian.

Hashing uses ``portable_hash64`` (md5-based) so every operator has an
exact DuckDB oracle; swap for ``xxhash64`` in pure-production mode.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions.scalar import portable_hash64
from ..functions.text import normalize_text, shingles
from ..functions.vector import dot, norm

N_MINHASH = 16
BAND_SIZE = 4

# Unresolved Column expressions are immutable and reusable across
# queries; building the k min-of-permutation aggregates costs ~0.4 s of
# py4j round-trips PER CALL (measured — pure driver-side plan
# construction, the sign_lsh_bucket lesson), and incremental folds
# build them 2-3× per epoch.  Memoize per (k, hash_mode).
_MINHASH_AGGS_CACHE: dict[tuple[int, str], list] = {}


def _minhash_aggs(k: int, hash_mode: str) -> list:
    key = (k, hash_mode)
    if key not in _MINHASH_AGGS_CACHE:
        from ..functions.scalar import minhash_base, minhash_perm

        base = minhash_base(F.col("shingle"), mode=hash_mode)
        _MINHASH_AGGS_CACHE[key] = [
            F.min(minhash_perm(base, i)).alias(f"mh_{i}") for i in range(k)
        ]
    return _MINHASH_AGGS_CACHE[key]


def with_exact_duplicates(documents: DataFrame, every: int = 10, offset: int = 100000) -> DataFrame:
    """Test corpus with constructed duplicates: every ``every``-th doc
    reappears under ``doc_id + offset`` (the driver corpus is all
    distinct; dedup operators need positives to find)."""
    dup = documents.where(F.col("doc_id") % every == 0).select(
        (F.col("doc_id") + offset).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return documents.unionByName(dup)


def with_duplicate_vectors(embeddings: DataFrame, every: int = 20, offset: int = 100000) -> DataFrame:
    dup = embeddings.where(F.col("vec_id") % every == 0).select(
        (F.col("vec_id") + offset).alias("vec_id"), "embedding", "label"
    )
    return embeddings.unionByName(dup)


def exact_dedup_groups(documents: DataFrame) -> DataFrame:
    """Exact duplicate groups by normalized-text digest.

    Returns one row per digest with >1 member: (text_md5, n_dups,
    keeper) where keeper is the smallest doc_id.
    """
    h = documents.select(F.col("doc_id"), F.md5(normalize_text(F.col("text"))).alias("text_md5"))
    return (
        h.groupBy("text_md5")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keeper"))
        .where(F.col("n_dups") > 1)
    )


def _doc_shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    from ..functions.text import TOKENS_COL, shingles_from_tokens

    # single-file corpora arrive as 1-2 partitions; spread the
    # regex/shingle work across the cluster before the heavy map stage
    par = documents.sparkSession.sparkContext.defaultParallelism
    # the one-tokenize contract: derive shingles from a materialized
    # canonical token array when the frame carries one (identical
    # result — shingles(text) IS shingles_from_tokens(tokens(text)))
    sh = (
        shingles_from_tokens(F.col(TOKENS_COL), n)
        if TOKENS_COL in documents.columns
        else shingles(F.col("text"), n)
    )
    # hash-keyed on doc_id, not round-robin: a keyless repartition(n)
    # pays a local sort of its input first (guide §2.5), and the
    # doc_id partitioning is reusable by doc-keyed aggregations above.
    # CONDITIONAL on the scan being narrower than the cluster (round
    # 12, the passage.py:98 idiom — VERDICT r11 #5): a corpus-scale
    # multi-split table is already spread, and an unconditional
    # repartition there shuffles the full document text purely to
    # re-spread work that is already spread; the doc-keyed
    # aggregations above then pay their (partial-agg-shrunk) exchange
    # instead — far fewer bytes than the text.
    if documents.rdd.getNumPartitions() < par:
        documents = documents.repartition(par, F.col("doc_id"))
    return (
        documents
        .select("doc_id", F.array_distinct(sh).alias("sh"))
        .where(F.size("sh") > 0)
    )


MAX_SHINGLE_DF = 100


def ngram_jaccard_pairs(
    documents: DataFrame, n: int = 3, threshold: float = 0.5, max_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """Near-dup pairs by word-n-gram Jaccard similarity ≥ threshold.

    Scale guards (the self-equi-join on ``shingle`` is quadratic in
    each shingle's document frequency — one stop-phrase shingle with
    df=10⁶ would yield 10¹² candidate rows):

    - shingles with df > ``max_df`` are dropped *before* the join
      (standard stop-shingle removal; Jaccard is then computed over
      the filtered shingle universe on both sides, including the
      per-doc set sizes, so the statistic stays internally consistent).
      The df filter is a count-over-window partitioned by shingle —
      ONE shuffle on the join key itself (measured ~30% faster than
      groupBy-df + re-join, and the exchange is reusable by the pair
      join that follows on the same key);
    - the per-doc size tables join by plain equi-join — they are
      corpus-proportional, never broadcast.
    """
    exploded = _doc_shingles(documents, n).select("doc_id", F.explode("sh").alias("shingle"))
    w = Window.partitionBy("shingle")
    kept = exploded.withColumn("_df", F.count("*").over(w)).where(F.col("_df") <= max_df).drop("_df")
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = kept.alias("a")
    b = kept.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    j = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                4,
            ),
        )
    )
    return j.where(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "n_common", "jaccard")


def minhash_signatures(
    documents: DataFrame, n: int = 3, k: int = N_MINHASH, hash_mode: str = "md5"
) -> DataFrame:
    """k-permutation MinHash signature per doc (long columns mh_0..mh_{k-1}).

    One base hash per shingle (the expensive part), then k cheap
    integer affine permutations ``(a_i·h + b_i) mod p`` of the shared
    base — the classic universal-hash construction, ~k× less hashing
    than k seeded digests (subexpression elimination computes the base
    once per row across all k aggregates).  Constants live in
    ``functions.scalar`` so the DuckDB oracle generates the identical
    family.

    ``hash_mode="md5"`` (default) is the DuckDB-twinned oracle family;
    ``"xxh64"`` swaps the base to Spark's native xxhash64 (codegen'd —
    the md5+hex-conv chain is the first-order CPU cost of every
    MinHash operator) with identical geometry: same permutation
    family, same banding, DIFFERENT signature values, so the two modes
    never mix within one index (``lsh_index`` pins the mode in its
    manifest).
    """
    # NOTE (round 12, measured): a map-side array formulation
    # (transform the shingle array to base hashes, array_min over k
    # affine transforms — no explode, no HashAggregate, no exchange)
    # was built, verified bit-identical in both hash modes, and
    # A/B-measured SLOWER (0.72 vs 0.57 s min at sf0.1, interleaved
    # min-of-6): higher-order-function lambdas don't fuse into
    # WholeStageCodegen the way hash-aggregate update expressions do,
    # and the 16 intermediate arrays allocate per row.  The explode +
    # partial-agg form stays (guide §1.1 — the "ideal" plan lost to
    # the empirical one).
    exploded = _doc_shingles(documents, n).select("doc_id", F.explode("sh").alias("shingle"))
    return exploded.groupBy("doc_id").agg(*_minhash_aggs(k, hash_mode))


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    k: int = N_MINHASH,
    band: int = BAND_SIZE,
    hash_mode: str = "md5",
) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on at least one LSH band.

    Bands of ``band`` consecutive minhashes; equi-join on
    (band_id, band_key).  Returns distinct candidate pairs — the cheap
    sub-quadratic pre-filter one verifies with Jaccard downstream.
    """
    sig = minhash_signatures(documents, n, k, hash_mode)
    # one struct per band, exploded — a single pass over the signature
    # table (a union of per-band selects would recompute the whole
    # shingle→minhash pipeline once per band)
    entries = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws("_", *[F.col(f"mh_{b * band + j}") for j in range(band)]).alias("band_key"),
        )
        for b in range(k // band)
    ]
    all_bands = sig.select("doc_id", F.explode(F.array(*entries)).alias("bk")).select(
        "doc_id", F.col("bk.band_id").alias("band_id"), F.col("bk.band_key").alias("band_key")
    )
    a, b_ = all_bands.alias("a"), all_bands.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


SIMHASH_BITS = 60  # portable_hash64 is a 60-bit hash (15 hex chars);
# bits above 59 of h are identically 0, so a wider fingerprint would
# only add dead always-unset bits.  60 = 4 bands × 15 bits, and every
# fingerprint stays a positive BIGINT on both Spark and DuckDB (no
# sign-bit / 1<<63 overflow games on either engine).
SIMHASH_BANDS = 4


def simhash_fingerprints(
    documents: DataFrame, bits: int = SIMHASH_BITS, hash_mode: str = "md5"
) -> DataFrame:
    """Per-doc SimHash: bit b set iff the hash-bit-b majority over
    distinct tokens is positive.  Pure expression work — one groupBy.

    60-bit width (the full entropy of portable_hash64 in EITHER mode:
    15 hex chars of md5, or xxhash64 >> 4): birthday-bound random
    collisions need ~2^30 docs, vs ~5k docs for the 32-bit variant
    this replaced — see test_extensions' collision-rate property test.
    ``hash_mode="xxh64"`` swaps the per-token digest for the codegen'd
    production hash (same fingerprint construction, different bit
    values — never mix modes across a comparison)."""
    par = documents.sparkSession.sparkContext.defaultParallelism
    toks = documents.repartition(par, F.col("doc_id")).select(
        "doc_id", F.explode(F.array_distinct(F.split(normalize_text(F.col("text")), " "))).alias("tok")
    ).where(F.col("tok") != "")
    h = toks.select(
        "doc_id", portable_hash64(F.col("tok"), seed="simhash:", mode=hash_mode).alias("h")
    )
    bit_sums = h.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return bit_sums.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_dup_pairs(
    documents: DataFrame, bits: int = SIMHASH_BITS, hash_mode: str = "md5"
) -> DataFrame:
    """Docs sharing an identical SimHash fingerprint (hamming-0 LSH
    bucket; widen by banding the fingerprint for hamming>0)."""
    fp = simhash_fingerprints(documents, bits, hash_mode)
    a, b = fp.alias("a"), fp.alias("b")
    return a.join(
        b, (F.col("a.simhash") == F.col("b.simhash")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"), F.col("a.simhash").alias("simhash"))


def simhash_near_pairs(
    documents: DataFrame,
    bits: int = SIMHASH_BITS,
    max_hamming: int = SIMHASH_BANDS - 1,
    n_bands: int = SIMHASH_BANDS,
    hash_mode: str = "md5",
) -> DataFrame:
    """Near-dup pairs at hamming distance ≤ ``max_hamming`` via banded
    hamming search: the fingerprint splits into ``n_bands`` equal-width
    bands; by pigeonhole, two fingerprints within hamming
    ``n_bands - 1`` must agree exactly on at least one band, so an
    equi-join on (band_id, band_value) generates a COMPLETE candidate
    set for that radius (unlike the radius-1 bit-flip multiprobe this
    replaces, whose probe table also grew linearly in ``bits``).
    True distance is then verified with ``bit_count`` on the pair.

    Scale shape: one explode (n_bands rows per doc — rows over the tiny
    fingerprint table, never the corpus), one equi-join on the band
    key, no broadcast, no cartesian.
    """
    if bits % n_bands != 0:
        raise ValueError(f"bits={bits} not divisible by n_bands={n_bands}")
    if max_hamming >= n_bands:
        # pigeonhole only covers hamming <= n_bands - 1; refuse rather
        # than silently return an incomplete pair set
        raise ValueError(
            f"max_hamming={max_hamming} needs > {max_hamming} bands (have {n_bands})"
        )
    width = bits // n_bands
    mask = (1 << width) - 1
    fp = simhash_fingerprints(documents, bits, hash_mode)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band_id").alias("band_id"), F.col("bk.band_val").alias("band_val"))
    a, b_ = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def hash_split(
    documents: DataFrame, val_pct: int = 5, test_pct: int = 5, hash_mode: str = "md5"
) -> DataFrame:
    """Deterministic train/val/test assignment by content hash.

    Splits must be stable across runs and machines and must follow the
    *content*, not the row id (so re-crawled duplicates land in the
    same split and never leak train→test).  Bucket = content hash of
    the normalized text mod 100 (md5-derived by default for the DuckDB
    twin; ``hash_mode="xxh64"`` for production — a DIFFERENT but
    equally stable partition, so a corpus must pin one mode for its
    lifetime or docs would migrate splits); purely map-side — at
    100 TB this is a free column on the scan.
    """
    from ..functions.text import normalize_text

    bucket = F.pmod(
        portable_hash64(normalize_text(F.col("text")), seed="split:", mode=hash_mode),
        F.lit(100),
    )
    split = (
        F.when(bucket < test_pct, "test")
        .when(bucket < test_pct + val_pct, "val")
        .otherwise("train")
    )
    return documents.select("doc_id", "lang", bucket.alias("bucket"), split.alias("split"))


def cluster_hash_split(
    documents: DataFrame,
    val_pct: int = 5,
    test_pct: int = 5,
    n: int = 3,
    k: int = N_MINHASH,
    band: int = BAND_SIZE,
    threshold: float = 0.5,
    hash_mode: str = "md5",
) -> DataFrame:
    """NEAR-DUP-AWARE train/val/test assignment — the leakage-proof
    upgrade of ``hash_split``: content hashing keeps exact re-crawls
    together, but a lightly edited copy hashes elsewhere and leaks its
    twin's text across the split boundary (the classic eval-
    contamination path dedup-aware pipelines split by CLUSTER to
    close).  Here every verified near-dup component
    (``fuzzy_near_dup_pairs`` → connected components — exact-Jaccard
    edges, so membership is a real ≥ ``threshold`` relation, not just
    a band collision) is assigned AS A UNIT: the bucket comes from the
    normalized text of the component's canonical member (min doc_id),
    so all members land in one split by construction; singleton docs
    fall back to their own content hash — for them this IS
    ``hash_split``.

    Scale shape: the near-dup machinery's own cost (banded equi-joins,
    edge-sized CC shuffles) plus one keeper equi-join and the map-side
    bucket hash; no new shuffle class.  Returns (doc_id, lang,
    cluster_id, bucket, split) — ``cluster_id`` is the component's min
    doc_id (== doc_id for singletons)."""
    verified = fuzzy_near_dup_pairs(documents, n, k, band, threshold, hash_mode)
    comp = connected_components(verified)  # (doc_id, label) — paired docs only
    labeled = documents.join(comp, "doc_id", "left").select(
        "doc_id", "lang", "text", F.coalesce("label", F.col("doc_id")).alias("cluster_id")
    )
    # bucket by the CANONICAL member's normalized text: one row per
    # cluster (the keeper), hashed once, joined back — members of a
    # component inherit identical buckets by construction
    keeper_text = (
        labeled.where(F.col("doc_id") == F.col("cluster_id"))
        .select(
            "cluster_id",
            F.pmod(
                portable_hash64(
                    normalize_text(F.col("text")), seed="split:", mode=hash_mode
                ),
                F.lit(100),
            ).alias("bucket"),
        )
    )
    split = (
        F.when(F.col("bucket") < test_pct, "test")
        .when(F.col("bucket") < test_pct + val_pct, "val")
        .otherwise("train")
    )
    return (
        labeled.join(keeper_text, "cluster_id")
        .select("doc_id", "lang", "cluster_id", "bucket", split.alias("split"))
    )


def tfidf_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    Three additive aggregations (term counts, doc lengths, doc
    frequencies) + one ranking window — every stage partial-aggregates,
    and the corpus size joins in as a broadcast scalar (no driver-side
    constant).  The document-frequency table grows with the corpus
    vocabulary, so it joins by plain shuffle equi-join on ``term``
    (AQE coalesces/broadcasts it at small scale; at 100 TB a forced
    broadcast would be a multi-GB driver OOM).  Ranking happens on the
    6dp-rounded score with a term tiebreak (cross-engine determinism).
    """
    from ..functions.text import tokens

    par = documents.sparkSession.sparkContext.defaultParallelism
    toks = (
        documents.repartition(par, F.col("doc_id"))
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .where(F.col("term") != "")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("cnt"))
    # doc length and document frequency both derive from the (much
    # smaller) tf table — the exploded token stream is aggregated
    # exactly once
    doclen = tf.groupBy("doc_id").agg(F.sum("cnt").alias("dl"))
    docfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = documents.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(doclen, "doc_id")
        .join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("cnt").cast("double") / F.col("dl").cast("double"))
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("doc_id", "term", "tfidf", "rnk")
    )


def vocab_top_bigrams(documents: DataFrame, k: int = 20) -> DataFrame:
    """Corpus-level vocabulary construction: global top-k word bigrams
    by frequency (the table a tokenizer-training / vocab-pruning pass
    computes).  One partial-aggregated shuffle on the bigram, then a
    TakeOrdered top-k — no global sort of the full vocabulary.  Ties
    break on the bigram string for cross-engine determinism.
    """
    from ..functions.text import shingles

    par = documents.sparkSession.sparkContext.defaultParallelism
    grams = (
        documents.repartition(par, F.col("doc_id"))
        .select(F.explode(shingles(F.col("text"), 2)).alias("bigram"))
        .where(F.col("bigram") != "")
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram").asc())
        .limit(k)
    )


def training_data_prep(documents: DataFrame) -> DataFrame:
    """End-to-end training-data prep slice: normalize → quality filter
    (token count + punctuation ratio) → exact dedup (keep smallest
    doc_id per digest).  The composition a 100 TB corpus pipeline runs
    before tokenization; every stage is expression-level except the
    one dedup shuffle on the digest."""
    from ..functions.text import normalize_text, punct_ratio, tokens

    scored = documents.select(
        "doc_id",
        "lang",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        F.round(punct_ratio(F.col("text")), 6).alias("p_ratio"),
        F.md5(normalize_text(F.col("text"))).alias("text_md5"),
    ).where((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 1000) & (F.col("p_ratio") < 0.35))
    w = Window.partitionBy("text_md5").orderBy(F.col("doc_id").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", "lang", "n_tokens", "text_md5")
    )


def fuzzy_near_dup_pairs(
    documents: DataFrame,
    n: int = 3,
    k: int = N_MINHASH,
    band: int = BAND_SIZE,
    threshold: float = 0.5,
    hash_mode: str = "md5",
) -> DataFrame:
    """Exact-Jaccard-VERIFIED near-dup pairs (doc_a < doc_b): banded
    LSH candidates (``minhash_lsh_pairs``) filtered by true shingle
    Jaccard ≥ ``threshold`` — the shared core of every fuzzy-dedup
    keeper policy.

    Scale shape: candidate generation is the sub-quadratic banded
    equi-join; the exact-Jaccard step joins the shingle table only
    against the candidate pairs (cost ∝ candidates, not corpus²).
    """
    cand = minhash_lsh_pairs(documents, n, k, band, hash_mode)
    ex = _doc_shingles(documents, n).select("doc_id", F.explode("sh").alias("shingle"))
    ea = ex.select(F.col("doc_id").alias("doc_a"), "shingle")
    eb = ex.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        cand.join(ea, "doc_a")
        .join(eb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    return (
        common.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")), "doc_b")
        .where(
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            >= threshold
        )
        .select("doc_a", "doc_b")
    )


def fuzzy_dedup_keep(
    documents: DataFrame,
    n: int = 3,
    k: int = N_MINHASH,
    band: int = BAND_SIZE,
    threshold: float = 0.5,
    hash_mode: str = "md5",
) -> DataFrame:
    """The production near-dedup flow end-to-end: MinHash → banded LSH
    candidate pairs → exact Jaccard verification on candidates only →
    greedy keeper selection (a doc is dropped iff it is the higher id
    of a verified near-dup pair).

    Scale shape: ``fuzzy_near_dup_pairs`` plus one anti-join.  This is
    the fuzzy upgrade of ``training_data_prep``'s exact dedup — the
    composition a 100 TB corpus pipeline runs (cf. MinHash-LSH dedup
    in the RefinedWeb/SlimPajama-style pipelines).  Note the greedy
    pairwise policy keeps MORE than one doc per transitive near-dup
    component when some member pairs with neither extreme — use
    ``fuzzy_dedup_keep_by`` for one-survivor-per-component semantics.
    """
    verified = fuzzy_near_dup_pairs(documents, n, k, band, threshold, hash_mode)
    drops = verified.select(F.col("doc_b").alias("doc_id")).distinct()
    return documents.join(drops, "doc_id", "left_anti").select("doc_id", "lang", "source")


def fuzzy_dedup_keep_by(
    documents: DataFrame,
    priority: str,
    n: int = 3,
    k: int = N_MINHASH,
    band: int = BAND_SIZE,
    threshold: float = 0.5,
    hash_mode: str = "md5",
) -> DataFrame:
    """Quality-aware fuzzy dedup: connected components over the
    VERIFIED near-dup pairs, keeping the single highest-``priority``
    doc per component (tie → smallest doc_id) — the curation policy
    real pipelines want ("keep the best copy", not "keep the first
    crawled"), with ``priority`` any numeric column of ``documents``
    (a quality score, a length, a source weight).

    Differs from ``fuzzy_dedup_keep`` in two ways: transitive copies
    collapse to ONE survivor per component (the greedy pairwise rule
    can keep several), and the survivor is chosen by merit, not id.

    Scale shape: verification as in ``fuzzy_near_dup_pairs``;
    components via the large-star/small-star min-label iteration
    (edges-sized shuffles); keeper choice is one combinable ``max_by``
    per component; the final drop is one anti-join.
    """
    verified = fuzzy_near_dup_pairs(documents, n, k, band, threshold, hash_mode)
    comp = connected_components(verified)
    pri = documents.select("doc_id", F.col(priority).alias("_pri"))
    keepers = (
        comp.join(pri, "doc_id")
        .groupBy("label")
        .agg(
            F.max_by(
                "doc_id",
                F.struct(F.col("_pri"), (-F.col("doc_id")).alias("_tie")),
            ).alias("keep_id")
        )
    )
    drops = (
        comp.join(keepers, "label")
        .where(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id")
    )
    return documents.join(drops, "doc_id", "left_anti").select("doc_id", "lang", "source")


def _iteration_shuffle(spark, n_rows: int, rows_per_partition: int = 2_000_000):
    """Context manager sizing ``spark.sql.shuffle.partitions`` for an
    iterative loop from the ACTUAL working-set row count, restoring the
    session value on exit.

    The session-wide setting is sized for fact-table scans; a CC loop's
    working set is the edge list, usually orders of magnitude smaller.
    Without adaptive coalescing a (say) 200-partition cluster config
    schedules ~200 near-empty tasks per round per stage on a 150-edge
    graph — pure fixed cost; with AQE on (this engine's default) the
    shuffle reads already coalesce, so this guard mainly pins the
    ITERATION's partition count deterministically and protects AQE-off
    sessions.  At 10⁹ edges the formula yields the count the data needs
    (~2M longs ≈ 32 MB per task), capped at the session setting so a
    cluster-sized config is never exceeded.  Conf changes are
    session-global — concurrent queries on OTHER threads of the same
    session would momentarily see the reduced value."""
    import contextlib
    import math

    @contextlib.contextmanager
    def cm():
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        target = max(1, min(int(prev), math.ceil(n_rows / rows_per_partition)))
        spark.conf.set("spark.sql.shuffle.partitions", str(target))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    return cm()


def connected_components(
    pairs: DataFrame, max_iter: int = 25, fallback_to_star: bool = True
) -> DataFrame:
    """Connected components of an undirected pair graph by min-label
    propagation: every node starts labeled with itself; each round a
    node takes the min of its own and its neighbors' labels; at the
    fixpoint the label is the component's minimum node id.

    Scale shape: each round is one equi-join (edges × labels, both
    keyed on the node id) plus one combinable min-aggregation — no
    cartesian, no driver-side graph.  ``localCheckpoint`` truncates
    the growing lineage each round.  Convergence is detected from the
    global label sum — labels only ever decrease, so an unchanged sum
    IS the fixpoint — which costs one scalar action per round (the
    only driver materialization).  Rounds needed = graph diameter;
    dedup-cluster graphs are shallow (near-cliques of copies), so
    this converges in 2-3 rounds.  A graph deeper than ``max_iter``
    AUTO-SWITCHES to large-star/small-star
    (``connected_components_star``, O(log n) rounds, same join
    primitive) instead of failing — callers never hit a diameter
    error in production; pass ``fallback_to_star=False`` to get the
    loud RuntimeError instead (e.g. when the caller wants proof the
    graph is shallow).

    ``pairs``: (doc_a, doc_b) candidate edges, one direction.
    Returns (doc_id, label) for every node appearing in ≥1 pair.
    """
    und = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # LAZY localCheckpoint throughout (round 12): eager=True spends one
    # job per checkpoint and the convergence probe a second; marking
    # the frame for checkpoint and letting the probe's agg be the
    # materializing action fuses the two — the agg computes every
    # parent partition (sum needs them all), the RDD is persisted as a
    # side effect, and lineage is truncated exactly as before.  One
    # job per round instead of two; labels identical (the checkpoint
    # is a persistence boundary, not a computation change).
    und = und.localCheckpoint(eager=False)
    spark = pairs.sparkSession
    with _iteration_shuffle(spark, und.count()):
        # round 1 fused into the label init (round 11): labels start as
        # self, so the first propagation is min over each node's CLOSED
        # neighborhood — und is symmetric, so that is one groupBy over
        # the edge list, no join and no separate distinct-nodes
        # materialization.  Identical labels to the unfused round 1;
        # the loop below then runs the remaining max_iter-1 rounds, so
        # the total propagation-round bound (= graph diameter budget)
        # is unchanged.
        labels = (
            und.groupBy("src")
            .agg(F.min("dst").alias("_mn"))
            .select(
                F.col("src").alias("doc_id"),
                F.least("src", "_mn").alias("label"),
            )
        ).localCheckpoint(eager=False)
        prev_sum = labels.agg(F.sum("label")).first()[0]
        for _ in range(max_iter - 1):
            prop = und.withColumnRenamed("src", "doc_id").join(labels, "doc_id").select(
                F.col("dst").alias("doc_id"), "label"
            )
            labels = (
                labels.unionByName(prop).groupBy("doc_id").agg(F.min("label").alias("label"))
            ).localCheckpoint(eager=False)
            cur_sum = labels.agg(F.sum("label")).first()[0]
            if cur_sum == prev_sum:
                return labels
            prev_sum = cur_sum
    # graph diameter exceeds max_iter: a half-propagated labeling would
    # mislabel every deep component, so either hand off to the O(log n)
    # star variant (default) or fail loudly — never return silently
    if fallback_to_star:
        return connected_components_star(pairs)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(graph diameter exceeds max_iter); use connected_components_star "
        "for long-path graphs (O(log n) rounds)"
    )


def connected_components_star(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    O(log n) rounds regardless of graph DIAMETER, where min-label
    propagation needs diameter rounds (a 300-node path: 9 rounds vs
    299).

    Each half-round is one groupBy-min + one equi-join over the edge
    list — the same shuffle primitive as the propagation variant, no
    broadcast, no driver-side graph; ``localCheckpoint`` truncates
    lineage and the convergence probe is one scalar action per round.

    - large-star: every node's strictly-LARGER neighbors re-point to
      the minimum of its closed neighborhood (min(N(u) ∪ {u}));
    - small-star: its smaller-or-equal neighbors (and itself) re-point
      to that minimum.

    Both operations preserve connectivity; at the fixpoint every edge
    is (node → component-min).  Returns (doc_id, label) for every
    node appearing in ≥1 pair, label = the component's minimum id —
    the same contract as ``connected_components``.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        # lazy: the count() below (and per round, canonical_sig's agg)
        # is the materializing action — checkpoint rides the probe job
        .localCheckpoint(eager=False)
    )

    def canonical_sig(e: DataFrame):
        c = e.select(F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b")).distinct()
        # bit_xor: order-independent and cannot overflow (ANSI-safe,
        # unlike sum over 64-bit hashes); edges are distinct so xor
        # cancellation needs a hash collision
        row = c.agg(
            F.count("*").alias("n"), F.expr("bit_xor(xxhash64(a, b))").alias("h")
        ).first()
        return (row["n"], row["h"])

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = sym.groupBy("src").agg(F.min("dst").alias("_mn"))
        mins = mins.select("src", F.least("_mn", F.col("src")).alias("m"))
        return (
            sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        d = e.select(F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst"))
        mins = d.groupBy("src").agg(F.min("dst").alias("m"))
        re_pt = (
            d.join(mins, "src")
            .where(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        self_pt = mins.select("src", F.col("m").alias("dst"))
        return re_pt.unionByName(self_pt).distinct()

    spark = pairs.sparkSession
    with _iteration_shuffle(spark, edges.count()):
        sig = canonical_sig(edges)
        for _ in range(max_iter):
            edges = small_star(large_star(edges)).localCheckpoint(eager=False)
            new_sig = canonical_sig(edges)
            if new_sig == sig:
                break
            sig = new_sig
        else:
            raise RuntimeError(f"star CC did not converge in {max_iter} rounds")
    # fixpoint edges are (node → root); roots label themselves
    nodes = pairs.select(F.col("doc_a").alias("doc_id")).unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"))
    ).distinct()
    lbl = edges.groupBy("src").agg(F.min("dst").alias("label")).withColumnRenamed("src", "doc_id")
    return nodes.join(lbl, "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("label")
    )


def dedup_clusters(
    documents: DataFrame,
    n: int = 3,
    k: int = N_MINHASH,
    band: int = BAND_SIZE,
    hash_mode: str = "md5",
) -> DataFrame:
    """Duplicate *clusters* (not just pairs): connected components over
    the MinHash-LSH candidate graph, sized.

    Pairwise dedup under-drops transitive copies (a~b, b~c but a≁c
    keeps two of the three); clustering drops all but one per
    component.  Returns (doc_id, cluster_id, cluster_size) for every
    doc in at least one candidate pair, cluster_id = min doc_id of
    the component — the canonical keeper.
    """
    comp = connected_components(minhash_lsh_pairs(documents, n, k, band, hash_mode))
    # sizing via count-over-window on the SAME key instead of
    # groupBy + join-back (round 12, guide §2.4): one exchange of the
    # (tiny, checkpointed) label frame instead of an aggregate
    # exchange plus a join; rows identical (parity-collected), A/B
    # min 1.78 vs 1.91 s at sf0.1.
    w = Window.partitionBy("label")
    return comp.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        F.count("*").over(w).alias("cluster_size"),
    )


LSH_SEED = "signlsh-v1"
LSH_DIM = 64  # embeddings.parquet wire dim (TESTDATA.md)


def rademacher_planes(bits: int, dim: int = LSH_DIM, seed: str = LSH_SEED) -> list[list[int]]:
    """``bits`` random ±1 hyperplanes, derived from md5 of (seed, i, j).

    Pure Python, computed once at PLAN-BUILD time — the rows embed as
    literal constants into both the Spark expression and the DuckDB
    oracle SQL, so the two engines share identical planes with zero
    runtime hashing.  Plane ``i`` depends only on ``(seed, i, j)``:
    a ``bits=6`` table is exactly the first 6 rows of a ``bits=8``
    table, so widening the bucket space only splits buckets, never
    reshuffles them.
    """
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{seed}:{i}:{j}".encode()).digest()[0] & 1 else -1
            for j in range(dim)
        ]
        for i in range(bits)
    ]


def lsh_bits_for(n_rows: int, target_bucket: int = 128, lo: int = 4, hi: int = 24) -> int:
    """Bucket-count sizing: enough hyperplanes that the MEAN bucket holds
    ~``target_bucket`` vectors (``ceil(log2(n / target))``, clamped).
    In-bucket pairing is quadratic in occupancy, so at 10⁹ vectors a
    fixed 8-bit ceiling (256 buckets → ~4M/bucket → ~10¹³ pairs per
    bucket) is the scale-killer.  ``target_bucket`` is sized for
    THROUGHPUT, not just boundedness — the default has been measured
    down twice: 4096 caused the r5 bench regression (16 buckets over
    the 10× corpus → ~8M pairs/bucket), and 256 still sat one bit
    BELOW the hand-tuned value on the 20k-vector 10× probe (7 bits →
    occupancy 156 → consistently ~30% slower end-to-end than the
    pinned 8; interleaved min-of-3 measurement, round 7).  At 128 the
    formula reproduces the hand-tuned 8 bits on that corpus (mean
    occupancy ~78 → ~3k scored pairs per bucket — a skewed bucket at
    several × the mean still fits one task) and 10⁹ vectors pick 23
    bits.  The per-bit single-probe recall cost at cosine 0.9 is the
    Charikar factor 1−θ/π ≈ 0.86 — the multiprobe variant recovers
    boundary splits regardless of the sizing."""
    import math

    if n_rows <= target_bucket:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n_rows / target_bucket))))


_CORPUS_ROWS_CACHE: dict[int, int] = {}


def corpus_rows(df: DataFrame) -> int:
    """Corpus row count for LSH sizing, memoized by ``semanticHash``.

    ``lsh_bits_for`` needs n before the query plan builds, which costs
    an eager count job; benchmarks and services call the same operator
    on the same (re-constructed) DataFrame many times, and Spark's
    semantic hash is identical across those rebuilds — so each distinct
    corpus pays the count exactly once per session.  Collisions would
    only mis-SIZE the bucket space (bits is a log2 of this number),
    never change results."""
    key = df.semanticHash()
    if key not in _CORPUS_ROWS_CACHE:
        _CORPUS_ROWS_CACHE[key] = df.count()
    return _CORPUS_ROWS_CACHE[key]


def quantize_micro(vec):
    """Embedding → exact integer micro-units (``round(x·10⁶)`` as long).

    The LSH sign decision runs on these integers so it is bit-identical
    across engines: every |term| ≤ ~10⁷ and a 64-dim sum ≤ ~10⁹, exact
    in int64 (Spark) AND in float64 (DuckDB's ``list_dot_product``) —
    no summation-order or last-ulp hazard at the ``dot ≈ 0`` boundary.
    """
    return F.transform(vec, lambda x: F.round(x.cast("double") * 1_000_000).cast("long"))


def sign_lsh_bucket(vec, bits: int = 8, dim: int = LSH_DIM, seed: str = LSH_SEED):
    """Random-hyperplane (SRP/SimHash-for-vectors) bucket id.

    Bit ``i`` is the sign of the vector's projection onto the ``i``-th
    seeded Rademacher hyperplane — every dimension participates in
    every bit.  The previous scheme (signs of the FIRST ``bits``
    coordinates) collapsed under correlated real-world embeddings:
    early dims share sign across the corpus, so occupancy piled into a
    handful of the 2^bits buckets (see
    ``test_extensions.test_hyperplane_buckets_beat_coordinate_signs``).
    Mixed ±1 projections are invariant to which coordinates carry the
    signal, so occupancy tracks the 2^bits mean even when individual
    coordinates are heavily biased.  Size ``bits`` with
    ``lsh_bits_for(n)`` at scale; collision probability per bit is
    1 − θ/π (random-projection LSH, Charikar'02), so nearby vectors
    still share buckets at any ``bits``.

    ``dim`` must match the embedding width (rows narrower than ``dim``
    degrade to bucket-bit 0 via null propagation — they never error).

    ``vec`` should be a column NAME: the whole expression is then
    built as ONE SQL string (a single py4j call).  Building the same
    tree from ``bits × dim`` Column literals costs ~1 s of driver
    time per plan in py4j round-trips alone (measured: 1.4 s vs
    0.54 s end-to-end on the near-dup query) — pure plan-CONSTRUCTION
    overhead, identical JVM plan.  A Column argument still works via
    that slow constructor path (kept for expression composability).
    """
    planes = rademacher_planes(bits, dim, seed)
    if isinstance(vec, str):
        qx = f"transform({vec}, x -> cast(round(cast(x as double) * 1000000) as bigint))"
        terms = []
        for i, row in enumerate(planes):
            arr = "array(" + ",".join(f"{v}L" for v in row) + ")"
            proj = f"aggregate(zip_with({qx}, {arr}, (a, b) -> a * b), 0L, (acc, v) -> acc + v)"
            terms.append(f"(case when {proj} >= 0 then {2**i}L else 0L end)")
        return F.expr("cast((" + " + ".join(terms) + ") as bigint)")
    qx = quantize_micro(vec)
    out = F.lit(0).cast("long")
    for i, row in enumerate(planes):
        plane = F.array(*[F.lit(v).cast("long") for v in row])
        proj = F.aggregate(
            F.zip_with(qx, plane, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        out = out + F.when(proj >= 0, F.lit(2**i)).otherwise(F.lit(0))
    return out.cast("long")


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.9, bits: int | None = None
) -> DataFrame:
    """Embedding-cosine near-dup pairs, bucketed by random-hyperplane LSH.

    Only pairs inside the same hyperplane-sign bucket are scored — at
    100 TB the bucket key is the shuffle key and each bucket is small.
    The default ``bits=None`` sizes the bucket space from the corpus
    count (``lsh_bits_for``) so mean occupancy stays executor-bounded
    as the corpus grows (one extra count job) — the scale-safe path is
    the one you get without thinking; pass explicit ``bits`` only to
    pin a reproducible bucket space (the oracle gate queries do).  A high-cosine pair straddling
    one hyperplane (near-zero projection flips sign between the two
    vectors) lands in different buckets and is missed;
    ``multiprobe_embedding_near_dup_pairs`` recovers those.
    """
    if bits is None:
        bits = lsh_bits_for(corpus_rows(embeddings))
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    e = embeddings.repartition(par, F.col("vec_id")).select(
        "vec_id", "embedding",
        sign_lsh_bucket("embedding", bits).alias("bucket"),
        norm(F.col("embedding")).alias("nrm"),
    )
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.round(
            dot(F.col("a.embedding"), F.col("b.embedding")) / (F.col("a.nrm") * F.col("b.nrm")), 4
        ).alias("cos_sim"),
    )
    return pairs.where(F.col("cos_sim") >= threshold)


def multiprobe_embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.9, bits: int | None = None
) -> DataFrame:
    """Sign-LSH near-dup with radius-1 multi-probe: each vector also
    probes the ``bits`` buckets one sign-flip away, so a pair split by
    a single near-zero hyperplane projection still meets in a bucket
    (the classic recall fix for sign-LSH; radius 1 suffices because a
    ≥0.9-cosine pair rarely crosses two of the ``bits`` hyperplanes
    at once — and those would need radius 2 in ANY 1-table scheme).

    Shape: STRICT superset of ``embedding_near_dup_pairs`` at the same
    threshold (property-tested), still an equi-join on the bucket key —
    the probe side is (bits+1)× the vector count, never vectors², and
    each candidate is cosine-verified exactly.
    """
    if bits is None:
        bits = lsh_bits_for(corpus_rows(embeddings))
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    e = embeddings.repartition(par, F.col("vec_id")).select(
        "vec_id", "embedding",
        sign_lsh_bucket("embedding", bits).alias("bucket"),
        norm(F.col("embedding")).alias("nrm"),
    )
    probes = e.select(
        "vec_id", "embedding", "nrm",
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(bits)],
            )
        ).alias("bucket"),
    )
    a, b = probes.alias("a"), e.alias("b")
    pairs = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                dot(F.col("a.embedding"), F.col("b.embedding")) / (F.col("a.nrm") * F.col("b.nrm")), 4
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
        .distinct()
    )
    return pairs


def decontaminate(
    documents: DataFrame, benchmark: DataFrame, n: int = 3, min_overlap: int = 2
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at
    least ``min_overlap`` distinct word n-grams with an evaluation set
    (the standard guard against test-set leakage into training data).

    Scale shape: benchmark shingles are DISTINCT n-grams of the (small)
    eval corpus; the overlap count is one equi-join on the shingle key
    against the training side's exploded shingles + a doc-keyed count —
    sub-quadratic, no cartesian, and the training corpus never
    broadcasts.  Returns every input doc with ``n_overlap`` and a
    ``contaminated`` flag.
    """
    bench_sh = (
        _doc_shingles(benchmark, n)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    doc_sh = _doc_shingles(documents, n).select("doc_id", F.explode("sh").alias("shingle"))
    overlap = (
        doc_sh.join(bench_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        documents.select("doc_id", "lang")
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= min_overlap).alias("contaminated"),
        )
    )
