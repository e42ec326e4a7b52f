"""Headline benchmark: runs the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``.

Output contract (round 8 — the driver tail-captures only the LAST
~2000 chars of stdout, and round 7's single ever-growing JSON line
outgrew that window, losing the headline timings from the driver's
record): the FULL timing dict is written to ``BENCH_LOCAL.json`` at
the repo root and printed on an early line; the LAST stdout line is a
COMPACT JSON record — headline queries + the events/s trio only —
guaranteed to fit the tail window:

    {"metric": "bench_total", "value": N, "unit": "sec",
     "queries": {<headline only>}, "sf": ..., "full": "BENCH_LOCAL.json"}

Timing forces full execution with the noop sink (no driver-side
collect — we measure the engine, not py4j row transfer).  The CDC
slice timing also yields an events/s figure against the reference's
deployed 3,333 events/s envelope (BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

from real_time_cdc_analytics_pipeline_with_clickhouse_spark.session import get_spark

# Representative of every engine layer: CDC parse→enrich→rollup, heavy
# relational shapes, windowing, and the north-star extension operators.
BENCH_QUERIES = [
    "hourly_rollup",        # full CDC slice: feed build → parse → join → score → agg
    "dedup_latest",         # duplicate-delivery replay + last-write-wins compaction
    "trending_recent",      # windowed top-k ranking + retention predicate
    "pricing_summary",      # TPC-H Q1 shape (scan-heavy agg)
    "star_join_revenue",    # 6-way broadcast star join
    "top_revenue_orders",   # join + group + global top-k
    "window_analytics",     # 4 window functions over orders
    "asof_join",            # as-of union-ranking idiom
    "dedup_minhash_lsh",    # shingle → minhash → banded LSH join
    "dedup_ngram_jaccard",  # shingle self-join + Jaccard
    "ann_bruteforce_topk",  # exact cosine top-k
    "ann_quantized_topk",   # int8-quantized integer-dot top-k
    "embedding_near_dup",   # sign-LSH bucketed cosine pairs
    "tfidf_top_terms",      # 3-stage additive text aggregation + rank
    "multimodal_features",  # Arrow-batched mapInPandas feature extraction
    "dedup_clusters",       # connected components over the LSH graph
    "pack_sequences",       # sharded applyInPandas packing fold
    "quality_signals",      # explode + two-level additive agg + doc-keyed join
    "pii_redact",           # map-only regex scrub (scan-fused)
    "funnel_levels",        # windowFunnel dp fold (behavioral analytics layer)
]


def _cpus_from_env() -> int | None:
    """``SPARK_GRAFT_CPUS`` as a positive int (None when unset); a bad
    value stops the bench before any work instead of after the run."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if not raw:
        return None
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus < 1:
        raise SystemExit(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return cpus


def main() -> None:
    cpus = _cpus_from_env()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    # ann_quantized_topk ceded its driver-gate slot in round 10 (oracle
    # parity lives in tests/test_consolidated.py) but stays a headline
    # bench query for round-over-round comparability — same callable
    # the registry carried
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
        similarity as _SIM,
    )
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.tables import (
        load_table as _LT,
    )

    queries["ann_quantized_topk"] = lambda sp, sf: _SIM.quantized_topk(
        _LT(sp, sf, "embeddings"), _SIM.default_queries(_LT(sp, sf, "embeddings"))
    )

    # JVM/codegen warmup on a trivial plan
    spark.range(1000).selectExpr("sum(id)").write.mode("overwrite").format("noop").save()

    # three iterations, min per query: the first run pays JIT/codegen
    # warmup and min-of-3 rides out virtualized-host noise (steal time
    # was observed to inflate min-of-2 by ~30%); min is the
    # steady-state figure a long-running cluster job sees
    timings: dict[str, float] = {}
    for _ in range(3):
        for name in BENCH_QUERIES:
            # timer covers plan construction too: operators with eager
            # stages (e.g. dedup_clusters' label-propagation rounds) do
            # real work before the action fires
            t0 = time.time()
            df = queries[name](spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            dt = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)

    total = round(sum(timings.values()), 3)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    timings["_cdc_events_per_sec"] = round(n_events / timings["hourly_rollup"], 1)

    # scale probe: replicate the event stream 10× and push it through
    # the full parse→enrich→score→rollup slice (unique ids so the
    # dedup/group keys keep realistic cardinality)
    import pyspark.sql.functions as F

    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import cdc, enrich
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import rollups as RU
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.sources import cdc_feed
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    blown = (
        ev.crossJoin(spark.range(10).select(F.col("id").alias("_rep")))
        .select(
            (F.col("event_id") * 10 + F.col("_rep")).alias("event_id"),
            "ts", "user_id", "event_type", "value", "props",
        )
    )
    dim = enrich.compact_dim_latest(
        cdc.unwrap_content(cdc_feed.content_cdc_json(load_table(spark, sf_dir, "part")))
    )
    slice10 = RU.hourly_rollup(
        enrich.enrich_events(cdc.unwrap_engagement(cdc_feed.engagement_cdc_json(blown)), dim)
    )

    # --- engine-only wire replay (interleaved with the 10× slice) --------
    # _cdc_events_per_sec times the slice INCLUDING synthesizing the
    # JSON wire (to_json of the driver tables) — harness work a real
    # deployment never pays, since Kafka already holds serialized
    # bytes.  This probe materializes the wire once (untimed, the
    # topic-log analog) and times scan→parse→enrich→score→rollup —
    # the throughput figure actually comparable to the reference's
    # deployed events/s envelope.  The wire number swung >30% across
    # rounds 6-7 on untouched code (host steal), so the two probes now
    # run INTERLEAVED min-of-3 — the measurement discipline that
    # settled the round-7 LSH sizing question — and the three raw wire
    # samples are recorded alongside the min for per-round noise
    # auditing.
    import shutil as _sh
    import tempfile as _tf

    wire_dir = _tf.mkdtemp(prefix="graft_wire_")
    try:
        cdc_feed.engagement_cdc_json(ev).write.mode("overwrite").text(f"{wire_dir}/e")
        cdc_feed.content_cdc_json(load_table(spark, sf_dir, "part")).write.mode(
            "overwrite"
        ).text(f"{wire_dir}/c")
        wire_slice = RU.hourly_rollup(
            enrich.enrich_events(
                cdc.unwrap_engagement(spark.read.text(f"{wire_dir}/e")),
                enrich.compact_dim_latest(cdc.unwrap_content(spark.read.text(f"{wire_dir}/c"))),
            )
        )
        t10, wire_samples = None, []
        for _ in range(3):
            t0 = time.time()
            slice10.write.mode("overwrite").format("noop").save()
            t10 = min(t10 or 1e9, time.time() - t0)
            t0 = time.time()
            wire_slice.write.mode("overwrite").format("noop").save()
            wire_samples.append(round(time.time() - t0, 3))
        timings["_cdc_events_per_sec_10x"] = round(n_events * 10 / t10, 1)
        timings["_cdc_events_per_sec_wire"] = round(n_events / min(wire_samples), 1)
        timings["_cdc_wire_sec_samples"] = wire_samples
    finally:
        _sh.rmtree(wire_dir, ignore_errors=True)

    # --- query-level 10× scale probe (sf1-equivalent volume) -------------
    # The sf0.1 figures can hide plan regressions that only bite at
    # volume (LSH bucket skew, shuffle spill, quadratic candidate
    # growth), so the 5 most expensive queries also run against a 10×
    # materialized copy of their input tables: events replicated with
    # unique event_ids, documents replicated with unique doc_ids (clone
    # clusters are a *realistic* adversarial dedup workload — web-crawl
    # corpora carry exact-duplicate clusters far larger than 10).  The
    # blown tables are written once as parquet (so scans, pushdown and
    # partition sizing behave like a real warehouse read, not an
    # in-memory union) and the untouched dims are symlinked.
    if os.environ.get("SPARK_GRAFT_SCALE_PROBE", "1") == "1":
        import shutil
        import tempfile

        scale_dir = tempfile.mkdtemp(prefix="graft_scale10x_")
        try:
            blown.write.mode("overwrite").parquet(f"{scale_dir}/events.parquet")
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            (
                docs.crossJoin(spark.range(10).select(F.col("id").alias("_rep")))
                .select(
                    (F.col("doc_id") * 10 + F.col("_rep")).alias("doc_id"),
                    "text", "lang", "source", "n_chars",
                )
                .write.mode("overwrite")
                .parquet(f"{scale_dir}/documents.parquet")
            )
            embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            (
                # replicas get unique ids and a small deterministic
                # first-coordinate perturbation: near-identical clusters
                # (the web-crawl near-dup adversary) without the
                # degenerate 100%-identical case
                embs.crossJoin(spark.range(10).select(F.col("id").alias("_rep")))
                .select(
                    (F.col("vec_id") * 10 + F.col("_rep")).alias("vec_id"),
                    F.concat(
                        F.array((F.element_at("embedding", 1) + F.col("_rep") / 1000.0).cast("float")),
                        F.slice("embedding", 2, 10_000),
                    ).alias("embedding"),
                    "label",
                )
                .write.mode("overwrite")
                .parquet(f"{scale_dir}/embeddings.parquet")
            )
            for t in (
                "region", "nation", "customer", "supplier", "part",
                "orders", "lineitem",
            ):
                os.symlink(f"{sf_dir}/{t}.parquet", f"{scale_dir}/{t}.parquet")
            probe = [
                "hourly_rollup", "dedup_latest", "trending_recent",
                "dedup_clusters", "dedup_ngram_jaccard",
                # the round-3 verdict's LSH-skew flag: prove the
                # hyperplane buckets + clone clusters stay bounded
                "embedding_near_dup", "ann_ivf_topk",
            ]
            for name in probe:
                best = None
                for _ in range(2):  # min-of-2, same host-noise guard
                    t0 = time.time()
                    queries[name](spark, scale_dir).write.mode("overwrite").format(
                        "noop"
                    ).save()
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
                timings[f"_scale10x_{name}"] = round(best, 3)

            # adaptive-bits twin probes: the gate lambdas pin bits for
            # oracle reproducibility, so the corpus-sized default path
            # (lsh_bits_for) gets its own timing here — the r5 verdict's
            # requirement that adaptive sizing never regress the fixed
            # bucket space at bench scale
            from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
                dedup as DD,
                similarity as SIM,
            )

            emb10 = spark.read.parquet(f"{scale_dir}/embeddings.parquet")
            # warm the sizing count ONCE for both adaptive probes: a
            # service amortizes lsh_bits_for sizing across calls via
            # corpus_rows' semantic-hash memo; timing it inside the
            # first probe iteration would charge the near-dup probe
            # for work the ivf probe then gets free (r6 verdict #4 —
            # make the twin probes share the sized bits)
            DD.corpus_rows(emb10)
            adaptive = {
                "embedding_near_dup_adaptive": lambda: DD.embedding_near_dup_pairs(
                    emb10, threshold=0.9
                ),
                "ann_ivf_topk_adaptive": lambda: SIM.ivf_topk(
                    emb10, SIM.default_queries(emb10)
                ),
            }
            for name, build in adaptive.items():
                best = None
                for _ in range(2):
                    t0 = time.time()
                    build().write.mode("overwrite").format("noop").save()
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
                timings[f"_scale10x_{name}"] = round(best, 3)

            # stored-index vs fit-per-call learned IVF: the persistent
            # artifact (operators/ivf_index.py) pays the KMeans fit
            # ONCE at build; the query side should then beat the
            # self-contained operator that refits every call
            from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
                ivf_index as IVFX,
            )

            idx_dir = f"{scale_dir}/_ivf_index"
            # min-of-3 with raw samples (round-11, verdict #4: the two
            # IVF build probes read 15.7/22.1 s in one round-10 run vs
            # 10.2/11.9 s in another with zero code change — the same
            # host-drift class the other ~10 s probes graduated from);
            # each build overwrites the whole artifact, so iterations
            # are independent and the last build is the one the query
            # probes below read
            ib_samples = []
            for _ in range(3):
                t0 = time.time()
                IVFX.build_ivf_index(emb10, idx_dir, n_centroids=32, seed=7)
                ib_samples.append(round(time.time() - t0, 3))
            timings["_scale10x_ivf_index_build"] = min(ib_samples)
            timings["_scale10x_ivf_index_build_samples"] = ib_samples
            # PQ tier builds its own artifact (codes alongside floats)
            # so the plain build metric stays round-comparable
            idx_pq = f"{scale_dir}/_ivf_pq_index"
            # fit_fraction = the round-9 sample-bounded fit path (the
            # deployment stance at 100 TB): KMeans + the 8 PQ sub-fits
            # run on a pinned-seed 10% sample (shared, persisted once)
            # while assignment stays full-corpus; the
            # _frontier10x_pq_* recall probes below validate the
            # sampled codebooks against the same brute-force truth the
            # full fit was held to.  idx_dir above stays FULL-fit so
            # the float frontier remains the exact-fit reference.
            # min-of-3 + samples (round-11, verdict #4 — see the plain
            # build probe above)
            pb_samples = []
            for _ in range(3):
                t0 = time.time()
                IVFX.build_ivf_index(
                    emb10, idx_pq, n_centroids=32, seed=7, pq_m=8, pq_ks=16,
                    fit_fraction=0.1,
                )
                pb_samples.append(round(time.time() - t0, 3))
            timings["_scale10x_ivf_pq_build"] = min(pb_samples)
            timings["_scale10x_ivf_pq_build_samples"] = pb_samples
            q10 = SIM.default_queries(emb10)
            learned = {
                "ivf_index_topk": lambda: IVFX.ivf_index_topk(
                    spark, q10, idx_dir, k=5, n_probe=4
                ),
                "ivf_kmeans_topk": lambda: SIM.ivf_kmeans_topk(
                    emb10, q10, k=5, n_centroids=32, n_probe=4, seed=7
                ),
                # PQ/ADC tier: scans (vec_id, codes, nrm) only — the
                # scan-bytes story the 100 TB memory budget rides on
                "ivf_pq_topk": lambda: IVFX.ivf_index_topk_pq(
                    spark, q10, idx_pq, k=5, n_probe=4, rerank=50
                ),
            }
            for name, build in learned.items():
                best = None
                for _ in range(2):
                    t0 = time.time()
                    build().write.mode("overwrite").format("noop").save()
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
                timings[f"_scale10x_{name}"] = round(best, 3)

            # recall@5 vs exact brute force on a 50-query slice —
            # the speed numbers above are meaningless without the
            # quality they buy; tracked per-round like the timings
            qr = SIM.default_queries(emb10, every=1000)
            bf = {
                (r.query_id, r.neighbor_id)
                for r in SIM.brute_force_topk(emb10, qr, k=5).collect()
            }
            ivs = {
                (r.query_id, r.neighbor_id)
                for r in IVFX.ivf_index_topk(spark, qr, idx_dir, k=5, n_probe=4).collect()
            }
            pqs = {
                (r.query_id, r.neighbor_id)
                for r in IVFX.ivf_index_topk_pq(
                    spark, qr, idx_pq, k=5, n_probe=4, rerank=50
                ).collect()
            }
            timings["_recall10x_ivf_topk"] = round(len(ivs & bf) / len(bf), 3)
            timings["_recall10x_ivf_pq_topk"] = round(len(pqs & bf) / len(bf), 3)

            # recall/latency FRONTIER (r6 verdict #5): recall@5 = 1.0 at
            # the headline setting proves nothing about pruning — on
            # this corpus a query's top-5 is its own 10-clone cluster,
            # which always shares the query's cell.  At k=15 the true
            # neighbor list reaches PAST the clone cluster into other
            # cells, so the sweep shows recall degrading gracefully as
            # the probe budget shrinks (measured 0.66 → 0.90 over
            # n_probe 1 → 8) — proof the index actually prunes cells.
            # Latency is a single run per point (the shape, not the
            # min-of-2 headline, is the deliverable).
            fk = 15
            bf15 = {
                (r.query_id, r.neighbor_id)
                for r in SIM.brute_force_topk(emb10, qr, k=fk).collect()
            }
            for np_ in (1, 2, 4, 8):
                t0 = time.time()
                res = IVFX.ivf_index_topk(
                    spark, qr, idx_dir, k=fk, n_probe=np_
                ).collect()
                dt = time.time() - t0
                hits = {(r.query_id, r.neighbor_id) for r in res}
                timings[f"_frontier10x_ivf_p{np_}_sec"] = round(dt, 3)
                timings[f"_frontier10x_ivf_p{np_}_recall"] = round(
                    len(hits & bf15) / len(bf15), 3
                )
            for np_, rr in ((1, 30), (4, 30), (4, 150)):
                t0 = time.time()
                res = IVFX.ivf_index_topk_pq(
                    spark, qr, idx_pq, k=fk, n_probe=np_, rerank=rr
                ).collect()
                dt = time.time() - t0
                hits = {(r.query_id, r.neighbor_id) for r in res}
                timings[f"_frontier10x_pq_p{np_}_r{rr}_sec"] = round(dt, 3)
                timings[f"_frontier10x_pq_p{np_}_r{rr}_recall"] = round(
                    len(hits & bf15) / len(bf15), 3
                )

            # stored inverted text index at 10×: the build pays the
            # tokenize once; the BM25 query must then be pruned-scan
            # fast (term-bucket partition pruning, no tokenization in
            # the query plan)
            from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
                retrieval as RETR,
            )

            docs10_idx = f"{scale_dir}/_text_index"
            t0 = time.time()
            RETR.build_text_index(
                spark.read.parquet(f"{scale_dir}/documents.parquet"), docs10_idx
            )
            timings["_scale10x_text_index_build"] = round(time.time() - t0, 3)
            best = None
            for _ in range(2):
                t0 = time.time()
                RETR.bm25_topk_from_index(
                    spark, docs10_idx, ["spark", "vector", "window"], k=100
                ).write.mode("overwrite").format("noop").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings["_scale10x_bm25_index_topk"] = round(best, 3)

            # positional phrase query off the same index — anchor
            # algebra over pruned (doc_id, term, positions) reads
            best = None
            for _ in range(2):
                t0 = time.time()
                RETR.phrase_match_from_index(
                    spark, docs10_idx, ["spark", "vector"], k=100
                ).write.mode("overwrite").format("noop").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings["_scale10x_phrase_from_index"] = round(best, 3)

            # per-request hybrid retrieval entirely off the two stored
            # artifacts (text index + persistent IVF): this is the
            # serving-path latency a query node would pay — two pruned
            # index reads plus list-sized RRF fusion, never a corpus
            # scan
            qvec = emb10.where(F.col("vec_id") == 0).select("embedding").first()[0]
            best = None
            for _ in range(2):
                t0 = time.time()
                RETR.hybrid_topk_from_indexes(
                    spark,
                    docs10_idx,
                    idx_dir,
                    ["spark", "vector", "window"],
                    qvec,
                    k=20,
                ).write.mode("overwrite").format("noop").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings["_scale10x_hybrid_from_indexes"] = round(best, 3)

            # batch serving: 8 hybrid queries in ONE job vs the
            # per-request loop above — the throughput shape a query
            # node runs at scale (compare 8 × hybrid_from_indexes)
            qids = [0, 100, 200, 300, 400, 500, 600, 700]
            qvecs = {
                r["vec_id"]: [float(x) for x in r["embedding"]]
                for r in emb10.where(F.col("vec_id").isin(qids)).collect()
            }
            qbatch = spark.createDataFrame(
                [(-(i + 1), ["spark", "vector", "window"], qvecs[q])
                 for i, q in enumerate(qids)],
                "query_id long, terms array<string>, query_vec array<double>",
            )
            best = None
            for _ in range(2):
                t0 = time.time()
                RETR.hybrid_topk_batch_from_indexes(
                    spark, docs10_idx, idx_dir, qbatch, k=20
                ).write.mode("overwrite").format("noop").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings["_scale10x_hybrid_batch8"] = round(best, 3)

            # passage-level MaxP retrieval: one chunk→embed→IVF build
            # at 1× (the KMeans fit dominates the build and its cost
            # is a property of pyspark.ml, not of this engine's plan
            # shape — 1× keeps the bench wall-time sane while the
            # QUERY probe still proves the pruned serving path), then
            # the serving-path doc query off the stored artifact —
            # chunk ranking + bit-pack doc fold must stay list-sized,
            # never a corpus rescan
            from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
                passage as PSG,
            )

            psg_idx = f"{scale_dir}/_passage_index"
            docs1x = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                "doc_id", "text"
            )
            t0 = time.time()
            # pq_m=8 stores the ADC codes alongside the floats, so ONE
            # build serves both query tiers below; fit_fraction=0.1 is
            # the round-9 sample-bounded fit (chunking multiplies the
            # vector count ~15×, so the chunk index is where the
            # full-corpus KMeans+PQ fits hurt most — the round-8
            # verdict's one scale-stance finding).  MaxP answers are
            # recall-validated by the rerank-equality tests; the fits
            # see a pinned-seed sample, assignment stays full.
            PSG.build_passage_index(
                docs1x, psg_idx, n_centroids=16, seed=7, pq_m=8,
                fit_fraction=0.1,
            )
            timings["_passage_index_build"] = round(time.time() - t0, 3)
            pq_rows = [
                (i, r["text"][:150])
                for i, r in enumerate(
                    docs1x.orderBy("doc_id").limit(4).collect()
                )
            ]
            pqueries = spark.createDataFrame(pq_rows, "query_id long, text string")
            # the three serving tiers run INTERLEAVED min-of-3 with raw
            # samples recorded (the `_cdc_wire` treatment — round-9
            # verdict #3: these single-shot probes drifted ±20-25% on
            # untouched code, which masked whether a tuning round
            # helped).  _passage_topk_pq is the PQ/ADC tier (pq_m + 8
            # bytes per chunk vector scanned instead of 8 × dim, exact
            # rerank of the bounded candidates — the tier that pays
            # most at chunk granularity); _passage_topk_auto must route
            # to the float path at this occupancy (time ≈ _passage_topk
            # — the no-small-deployment-tax contract).
            psg_tiers = {
                "_passage_topk": {},
                "_passage_topk_pq": {"use_pq": True, "pq_rerank": 50},
                "_passage_topk_auto": {"use_pq": "auto"},
            }
            psg_samples: dict[str, list] = {k: [] for k in psg_tiers}
            for _ in range(3):
                for key, kw in psg_tiers.items():
                    t0 = time.time()
                    PSG.passage_topk(
                        spark, pqueries, psg_idx, k=10, n_probe=4, **kw
                    ).write.mode("overwrite").format("noop").save()
                    psg_samples[key].append(round(time.time() - t0, 3))
            for key in psg_tiers:
                timings[key] = min(psg_samples[key])
                timings[key + "_samples"] = psg_samples[key]

            # unified document ingest (round 9): the COMPOSITE cost of
            # one micro-batch through the full gauntlet — tokenize +
            # embed ONCE into a persisted frame, within-batch fuzzy
            # dedup, corpus merge, MinHash + inverted-text + IVF
            # builds (sample-bounded fit), one epoch marker.  This is
            # the bootstrap epoch over the 1× documents table; the
            # per-doc rate is the live-serving ingestion envelope
            # (compare: running the three per-artifact sinks would
            # re-read and re-tokenize the batch three times and embed
            # it twice).
            from real_time_cdc_analytics_pipeline_with_clickhouse_spark.streaming import (
                pipeline as SPIPE,
            )

            udir = f"{scale_dir}/_udi"
            os.makedirs(f"{udir}/feed", exist_ok=True)
            (
                docs1x.withColumn("lang", F.lit("en"))
                .withColumn("source", F.lit("bench"))
                .coalesce(4)
                .write.mode("overwrite")
                .parquet(f"{udir}/feed/f0.parquet")
            )
            n_docs1x = docs1x.count()
            ustream = spark.readStream.schema(
                "doc_id long, text string, lang string, source string"
            ).parquet(f"{udir}/feed/*.parquet")
            t0 = time.time()
            uq = SPIPE.start_document_ingest_sink(
                ustream, f"{udir}/corpus", f"{udir}/mh", f"{udir}/tix",
                f"{udir}/ivf", f"{udir}/ck", compact_every=None,
                n_centroids=16, seed=7, fit_fraction=0.1,
            )
            uq.processAllAvailable()
            uq.stop()
            dt = time.time() - t0
            timings["_doc_ingest_sink_bootstrap"] = round(dt, 3)
            timings["_doc_ingest_docs_per_sec"] = round(n_docs1x / dt, 1)

            # steady-state FOLD epoch: an equal-sized batch of FRESH
            # docs (REVERSED-token rewrites — every shingle changes so
            # they survive the dedup gate, while each doc stays as
            # distinct from its batch-mates as the original was;
            # sorting instead would collapse the fixture's token-soup
            # docs into near-identical strings and measure a candidate
            # explosion, not the fold)
            # through the frozen gauntlet: verdict against the
            # accumulated index, corpus merge, MinHash + text + IVF
            # frozen folds.  Cost ∝ batch — the live-serving rate a
            # deployment actually runs at (the bootstrap above pays
            # the one-time KMeans fit).  Includes stream-restart
            # overhead (the checkpoint resumes onto the new file).
            _toks10 = F.split(
                F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")),
                " ",
            )
            (
                docs1x.select(
                    (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
                    F.concat_ws(" ", F.reverse(_toks10)).alias("text"),
                )
                .withColumn("lang", F.lit("en"))
                .withColumn("source", F.lit("bench2"))
                .coalesce(4)
                .write.mode("overwrite")
                .parquet(f"{udir}/feed/f1.parquet")
            )
            ustream2 = spark.readStream.schema(
                "doc_id long, text string, lang string, source string"
            ).parquet(f"{udir}/feed/*.parquet")
            t0 = time.time()
            uq2 = SPIPE.start_document_ingest_sink(
                ustream2, f"{udir}/corpus", f"{udir}/mh", f"{udir}/tix",
                f"{udir}/ivf", f"{udir}/ck", compact_every=None,
                n_centroids=16, seed=7, fit_fraction=0.1,
            )
            uq2.processAllAvailable()
            uq2.stop()
            dt = time.time() - t0
            timings["_doc_ingest_fold_sec"] = round(dt, 3)
            timings["_doc_ingest_fold_docs_per_sec"] = round(n_docs1x / dt, 1)

            # fold cost ∝ batch (round-9 verdict #2): the corpus-sized
            # fold above is a deliberate worst case; a THIRD epoch
            # folds a 1/10-size batch of fresh docs (token ROTATION —
            # distinct from both the originals and the reversed f1
            # rewrites, so every doc runs the whole gauntlet) through
            # the now-larger accumulated index.  Linear fold cost ⇒
            # small-batch docs/s ≈ full-batch docs/s (both pay the
            # same ~seconds of stream-restart overhead); a corpus-
            # sized term would show up as small ≈ full/10.
            small = (
                docs1x.where(F.col("doc_id") % 10 == 0)
                .select(
                    (F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"),
                    F.concat_ws(
                        " ",
                        F.concat(
                            F.slice(_toks10, 8, 1 << 20), F.slice(_toks10, 1, 7)
                        ),
                    ).alias("text"),
                )
                .withColumn("lang", F.lit("en"))
                .withColumn("source", F.lit("bench3"))
            )
            n_small = small.count()
            small.coalesce(2).write.mode("overwrite").parquet(
                f"{udir}/feed/f2.parquet"
            )
            ustream3 = spark.readStream.schema(
                "doc_id long, text string, lang string, source string"
            ).parquet(f"{udir}/feed/*.parquet")
            t0 = time.time()
            uq3 = SPIPE.start_document_ingest_sink(
                ustream3, f"{udir}/corpus", f"{udir}/mh", f"{udir}/tix",
                f"{udir}/ivf", f"{udir}/ck", compact_every=None,
                n_centroids=16, seed=7, fit_fraction=0.1,
            )
            uq3.processAllAvailable()
            uq3.stop()
            dt = time.time() - t0
            timings["_doc_ingest_fold_small_sec"] = round(dt, 3)
            timings["_doc_ingest_fold_small_docs_per_sec"] = round(n_small / dt, 1)

            # CDC maintenance cost of the (round-8.5 batch-lineage)
            # MinHash index: build once on the 10× corpus, then UPSERT
            # a 10%-of-corpus re-ingest batch — the tombstone half is a
            # column-pruned (doc_id, batch) scan + broadcast semi-join,
            # the fold half one batch-dir overwrite; neither re-LSHes
            # the corpus
            from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
                lsh_index as LSHI,
            )

            mh_idx = f"{scale_dir}/_mh_index"
            docs10_for_mh = spark.read.parquet(
                f"{scale_dir}/documents.parquet"
            ).select("doc_id", "text", "lang", "source")
            # min-of-3 with raw samples (round-9 verdict #3: this build
            # probe drifted +13% on untouched code); each rebuild
            # overwrites the whole artifact, so iterations are
            # independent and the last build is the one the upsert
            # probe below maintains
            mb_samples = []
            for _ in range(3):
                t0 = time.time()
                LSHI.build_minhash_index(docs10_for_mh, mh_idx)
                mb_samples.append(round(time.time() - t0, 3))
            timings["_scale10x_minhash_index_build"] = min(mb_samples)
            timings["_scale10x_minhash_index_build_samples"] = mb_samples
            reingest = docs10_for_mh.where(F.col("doc_id") % 10 == 3).select(
                "doc_id",
                F.concat(F.lit("revised intro "), F.col("text")).alias("text"),
                "lang",
                "source",
            )
            t0 = time.time()
            LSHI.upsert_minhash_index(spark, mh_idx, reingest, epoch=1)
            timings["_scale10x_minhash_upsert"] = round(time.time() - t0, 3)

            # CDC-sized precedent lookup against the accumulated index
            # — the steady-state fold the key-bucketed layout prunes:
            # a 5-doc batch touches a bounded set of (band_id, kbucket)
            # / dbucket partitions instead of scanning the whole bands
            # + shingles artifact (min-of-3, samples recorded; the
            # number to watch is its growth as the corpus scales — flat
            # layout grows with corpus, bucketed with batch)
            mxid = 10_000_000
            cdc_batch = docs10_for_mh.limit(5).select(
                (F.col("doc_id") + mxid).alias("doc_id"),
                F.concat(F.lit("cdc revision "), F.col("text")).alias("text"),
                "lang",
                "source",
            )
            sf_samples = []
            for _ in range(3):
                t0 = time.time()
                LSHI.dedup_against_index(spark, cdc_batch, mh_idx).count()
                sf_samples.append(round(time.time() - t0, 3))
            timings["_scale10x_minhash_small_fold"] = min(sf_samples)
            timings["_scale10x_minhash_small_fold_samples"] = sf_samples

            # deterministic shuffle + token-balanced sharding over the
            # 10× corpus: the two-level distributed prefix sum must
            # stay flat — a single-partition global window would
            # crater here
            from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
                corpus as CORP,
            )

            docs10 = spark.read.parquet(f"{scale_dir}/documents.parquet")
            best = None
            for _ in range(2):
                t0 = time.time()
                CORP.shuffle_shard_by_tokens(docs10, buckets=256).write.mode(
                    "overwrite"
                ).format("noop").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
                spark.catalog.clearCache()  # the op persists its 3-col projection
            timings["_scale10x_shuffle_shard"] = round(best, 3)

            # cross-corpus fuzzy decontamination at 10×: the 200-doc
            # benchmark broadcasts, the training side pays one
            # shingle/minhash pass + candidate-sized verification —
            # the cost profile must track dedup_minhash_lsh, not
            # |train|×|bench|.  Round 8 made the MinHash/SimHash hash
            # family pluggable across the dedup + decontam operators,
            # so the heaviest md5-bound probes now run as INTERLEAVED
            # md5/xxh64 twins (min-of-2 each, alternating, so both
            # modes ride the same host-noise windows) — the xxh delta
            # is the price md5 pays for DuckDB oracle portability.
            from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
                decontam as DECON,
            )

            bench_docs = docs.where(F.col("doc_id") < 200)
            docs10_df = spark.read.parquet(f"{scale_dir}/documents.parquet")
            hash_twins = {
                "fuzzy_decontaminate": (
                    lambda: DECON.fuzzy_decontaminate(docs10_df, bench_docs),
                    lambda: DECON.fuzzy_decontaminate(
                        docs10_df, bench_docs, hash_mode="xxh64"
                    ),
                ),
                "dedup_minhash_lsh": (
                    lambda: DD.minhash_lsh_pairs(docs10_df),
                    lambda: DD.minhash_lsh_pairs(docs10_df, hash_mode="xxh64"),
                ),
                # simhash twin covers the FINGERPRINT stage only: the
                # pair search downstream is candidate-volume-bound, and
                # candidate volume is a function of the hash VALUES
                # (band collisions differ by family — measured 6.8e8 vs
                # 4.1e8 candidates on this corpus), so a near-pairs
                # "twin" would compare different workloads, not hash
                # cost.  The fingerprint pass is the per-token hash
                # work — and it shows the honest result that simhash is
                # aggregation-bound, not hash-bound (~7% apart).
                "simhash_fingerprints": (
                    lambda: DD.simhash_fingerprints(docs10_df),
                    lambda: DD.simhash_fingerprints(docs10_df, hash_mode="xxh64"),
                ),
            }
            for name, (build_md5, build_xxh) in hash_twins.items():
                # fuzzy_decontaminate gets interleaved min-of-3 with
                # raw samples (round-9 verdict #3: it drifted +24% on
                # untouched code); the other twins stay min-of-2
                rounds = 3 if name == "fuzzy_decontaminate" else 2
                sm, sx = [], []
                for _ in range(rounds):
                    t0 = time.time()
                    build_md5().write.mode("overwrite").format("noop").save()
                    sm.append(round(time.time() - t0, 3))
                    t0 = time.time()
                    build_xxh().write.mode("overwrite").format("noop").save()
                    sx.append(round(time.time() - t0, 3))
                timings[f"_scale10x_{name}"] = min(sm)
                timings[f"_scale10x_{name}_xxh"] = min(sx)
                if rounds == 3:
                    timings[f"_scale10x_{name}_samples"] = sm
                    timings[f"_scale10x_{name}_xxh_samples"] = sx

            # BPE: training cost is per-merge over the WORD table
            # (corpus-size-independent after the one freq shuffle);
            # encoding pays Python only on the distinct vocabulary and
            # a join on the 10× corpus side
            from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
                bpe as BPE,
            )

            t0 = time.time()
            bpe_merges = BPE.train_bpe(docs10, n_merges=15)
            bpe_merges = bpe_merges.persist()
            bpe_merges.count()
            timings["_scale10x_bpe_train15"] = round(time.time() - t0, 3)
            # the driver merge loop makes merge count nearly free: one
            # word-freq shuffle + an in-process incremental loop — 256
            # merges should cost roughly the 15-merge wall time (the
            # round-6 verdict's acceptance bar for the batched loop)
            t0 = time.time()
            BPE.train_bpe(docs10, n_merges=256).count()
            timings["_scale10x_bpe_train256"] = round(time.time() - t0, 3)
            best = None
            for _ in range(2):
                t0 = time.time()
                BPE.bpe_encode(docs10, bpe_merges).write.mode("overwrite").format(
                    "noop"
                ).save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings["_scale10x_bpe_encode"] = round(best, 3)
            bpe_merges.unpersist()

            # Unigram-LM tokenizer (the SentencePiece family): training
            # is EM over the distinct-word table (Arrow-batched lattice
            # forward-backward, one combinable agg per iteration) after
            # the one corpus freq shuffle; encoding is Viterbi with the
            # same distinct-vocabulary Python shape as BPE's
            from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
                unigram as UNI,
            )

            t0 = time.time()
            uni_vocab = UNI.train_unigram(
                docs10, vocab_size=400, max_piece_len=5, seed_size=2000,
                em_per_round=1,
            ).persist()
            uni_vocab.count()
            timings["_scale10x_unigram_train"] = round(time.time() - t0, 3)
            best = None
            for _ in range(2):
                t0 = time.time()
                UNI.unigram_encode(docs10, uni_vocab).write.mode("overwrite").format(
                    "noop"
                ).save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings["_scale10x_unigram_encode"] = round(best, 3)
            # stored-artifact tokenizer serving (round-11, verdict #7):
            # save the trained model, then time COLD
            # load_unigram_model → encode — the ``bm25_from_index``
            # stance for the tokenizer family (an encode node loads a
            # frozen artifact; it never re-trains)
            uni_dir = f"{scale_dir}/_unigram_model"
            UNI.save_unigram_model(uni_vocab, uni_dir)
            best = None
            for _ in range(2):
                t0 = time.time()
                uni_re, _uni_params = UNI.load_unigram_model(spark, uni_dir)
                UNI.unigram_encode(docs10, uni_re).write.mode("overwrite").format(
                    "noop"
                ).save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings["_scale10x_unigram_encode_from_artifact"] = round(best, 3)
            uni_vocab.unpersist()

            # DSIR selection at 10×: two bounded bucket histograms +
            # one broadcast-joined weight pass over the raw side +
            # a TakeOrderedAndProject cut — the raw corpus shuffles
            # only its (doc_id, logw) pairs
            from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
                dsir as DSIR,
            )

            tgt = docs.where(F.col("lang") == "en").select("doc_id", "text")
            best = None
            for _ in range(2):
                t0 = time.time()
                DSIR.dsir_select(
                    docs10, tgt, k=1000, n_buckets=4096, temperature=0.5
                ).write.mode("overwrite").format("noop").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
                DSIR.release_dsir_caches()  # dsir persists its featurization
            timings["_scale10x_dsir_select"] = round(best, 3)
            # selection quality next to its timing (the recall@5
            # precedent): the fixture langs share ONE vocabulary (lang
            # is a token-frequency signal only), so the English-target
            # selection proving out ABOVE the ~0.39 base rate is real
            # distributional lift, not vocabulary separation
            sel = DSIR.dsir_select(
                docs10, tgt, k=1000, n_buckets=4096, temperature=0.5
            )
            timings["_scale10x_dsir_en_frac"] = round(
                sel.where(F.col("lang") == "en").count() / 1000.0, 3
            )
            DSIR.release_dsir_caches()  # drop the quality probe's cache too

            # n-gram LM perplexity gate at 10× (CCNet-style, round 9):
            # train = tokenize → explode → ONE combinable bigram
            # groupBy (the BPE word-frequency shape); score = two
            # vocabulary-bounded equi-joins + one per-doc combinable
            # agg.  The reference is the 1× slice, the scored corpus
            # the 10× clone — the deployment shape (trusted reference
            # small, web corpus big).
            from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
                lm_filter as LMF,
            )

            lm_dir = f"{scale_dir}/_ngram_lm"
            t0 = time.time()
            LMF.train_ngram_lm(docs.select("doc_id", "text"), lm_dir)
            timings["_lm_train"] = round(time.time() - t0, 3)
            best = None
            for _ in range(2):
                t0 = time.time()
                LMF.perplexity_score(spark, docs10, lm_dir).write.mode(
                    "overwrite"
                ).format("noop").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings["_scale10x_lm_score"] = round(best, 3)

            # feature-hashing embedder at 10×: map-side tokenize +
            # two doc-keyed combinable aggs — no Python, no corpus
            # text shuffle beyond the (doc_id, bucket) pairs
            from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
                embedder as EMB,
            )

            best = None
            for _ in range(2):
                t0 = time.time()
                EMB.embed_documents(docs10, dim=64).write.mode("overwrite").format(
                    "noop"
                ).save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings["_scale10x_embed_documents"] = round(best, 3)

            # xxh64 production-hash twin (r6 verdict #2): identical
            # plan and geometry, native xxhash64 instead of the
            # md5+hex-conv chain the DuckDB twin needs — the gap IS
            # the price of oracle portability
            best = None
            for _ in range(2):
                t0 = time.time()
                EMB.embed_documents(
                    docs10, dim=64, hash_mode="xxh64"
                ).write.mode("overwrite").format("noop").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings["_scale10x_embed_documents_xxh"] = round(best, 3)

            best = None
            for _ in range(2):
                t0 = time.time()
                DSIR.dsir_select(
                    docs10, tgt, k=1000, n_buckets=4096, temperature=0.5,
                    hash_mode="xxh64",
                ).write.mode("overwrite").format("noop").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
                DSIR.release_dsir_caches()
            timings["_scale10x_dsir_select_xxh"] = round(best, 3)

            # multimodal bridge at 10× (r6 verdict #1): decode → tile
            # → embed over every asset (Arrow-batched Python — the
            # honest decode cost), then perceptual-hash near-dup whose
            # candidate join runs on 8-byte fingerprints
            from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
                asset_embed as AEMB,
                multimodal as MM,
            )

            assets10 = MM.assets_from_documents(docs10)
            best = None
            for _ in range(2):
                t0 = time.time()
                AEMB.embed_assets(assets10).write.mode("overwrite").format(
                    "noop"
                ).save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings["_scale10x_asset_embed"] = round(best, 3)
            best = None
            for _ in range(2):
                t0 = time.time()
                AEMB.phash_near_pairs(assets10).write.mode("overwrite").format(
                    "noop"
                ).save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings["_scale10x_phash_near_pairs"] = round(best, 3)

            # one-pass decode (r8 unified media sink): asset_features
            # yields fingerprint + embedding from ONE tile pass — its
            # cost vs _scale10x_asset_embed is what the unified sink
            # saves over the two-sink wiring (which decoded twice)
            best = None
            for _ in range(2):
                t0 = time.time()
                AEMB.asset_features(assets10).write.mode("overwrite").format(
                    "noop"
                ).save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings["_scale10x_asset_features"] = round(best, 3)

            # dataset-card report at 10×: one projection + one
            # bounded-domain agg — the always-on observability pass
            from real_time_cdc_analytics_pipeline_with_clickhouse_spark.operators import (
                corpus as CORP,
            )

            best = None
            for _ in range(2):
                t0 = time.time()
                CORP.corpus_report(docs10).write.mode("overwrite").format(
                    "noop"
                ).save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings["_scale10x_corpus_report"] = round(best, 3)
        finally:
            shutil.rmtree(scale_dir, ignore_errors=True)

    # scaling-probe context (round-12, VERDICT r11 #2): the driver's
    # low-core re-run compares per-query ratios, but the sf0.1 headline
    # probes are overhead-bound (plan compile + stage scheduling
    # dominate 0.4-3 s queries) so their ratios sit ≈1 regardless of
    # parallelism.  Emitting the honored core count and the session's
    # defaultParallelism makes the contract auditable from the record
    # itself; the probes with real data volume (the `_cdc_*_10x` and
    # `_scale10x_*` keys) are where parallelism is measurable.  The
    # `_cdc_events_per_sec*` keys are THROUGHPUT (higher = better),
    # declared in `throughput_keys` so a ratio consumer can orient them.
    scaling_ctx = {
        "cpus": cpus,
        "parallelism": spark.sparkContext.defaultParallelism,
        "throughput_keys": [
            "_cdc_events_per_sec", "_cdc_events_per_sec_10x", "_cdc_events_per_sec_wire",
            "_doc_ingest_fold_small_docs_per_sec",
        ],
    }
    full = {
        "metric": "bench_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        **scaling_ctx,
    }
    # full record → file (the durable artifact) + an early stdout line;
    # the driver's 2000-char stdout tail then only needs to hold the
    # compact headline line printed LAST (round-7 lesson: the full dict
    # outgrew the tail and the round's headline timings were lost)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"), "w") as fh:
        json.dump(full, fh, indent=1)
    print(json.dumps(full))
    compact_keys = BENCH_QUERIES + [
        "_cdc_events_per_sec", "_cdc_events_per_sec_10x", "_cdc_events_per_sec_wire",
    ]
    print(
        json.dumps(
            {
                "metric": "bench_total",
                "value": total,
                "unit": "sec",
                "queries": {k: timings[k] for k in compact_keys if k in timings},
                "sf": float(sf),
                "full": "BENCH_LOCAL.json",
                "cpus": scaling_ctx["cpus"],
                "parallelism": scaling_ctx["parallelism"],
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.stderr.write("bench: starting\n")
    main()
