"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "q6_forecast_revenue",
    "q10_returned_items",
    "top_parts_by_size",
    # round 2: full adapted-TPC-H suite (kartothek_spark/queries/tpch.py);
    # the headline total grows vs round 1 because the query set grew —
    # compare per-query times, not the total
    "q2_min_cost_supplier",
    "q4_order_priority",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_stock",
    "q13_order_distribution",
    "q14_promo_effect",
    "q15_top_supplier",
    "q16_supplier_variety",
    "q17_small_qty_revenue",
    "q18_large_volume",
    "q19_disjunctive_revenue",
    "q20_excess_stock_suppliers",
    "q21_late_suppliers",
    "q22_dormant_customers",
    "ktk_read_pruned",
    "ktk_cube_query",
    "ktk_collect_metadata",
    "ktk_merge_datasets",
    "events_hourly",
    "events_sessionize",
    "events_user_value",
    "text_analyze",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "embedding_dups",
    "ann_topk",
    # round 2: temporal joins, end-to-end dedup, sketch
    "events_asof",
    "events_range_join",
    "dedup_corpus",
    "corpus_heavy_hitters",
    # round 2 (cont.): decontamination + sequence packing
    "corpus_decontaminate",
    "corpus_pack",
    # round 2 (cont.): lakehouse layer + similarity additions
    "ktk_zorder_pruned",     # z-order layout write + stats-pruned read
    "ktk_delete_rows",       # copy-on-write row DELETE (partition-granular)
    "ann_knn_join",          # exact distributed KNN join (block-matrix)
    "corpus_diverse_sample",  # LSH-bucket quota sampling
    "corpus_pipeline",       # composed quality→dedup→scrub→rollup plan
    "dedup_span_trim",       # span-level dedup: signal + removal
    "events_attribution",    # keyed interval join (stream-stream shape)
    # round 2 (cont.): product quantization. (dedup_incremental is gate-
    # checked for correctness but not benched: it is a 6-commit lifecycle
    # op — two corpus stores + two index syncs — whose wall time is commit
    # overhead, not operator throughput; the per-batch operator cost it
    # shares with dedup_minhash_lsh is already measured there)
    "ann_ivfpq_recall",      # IVF-PQ train+encode+ADC+re-rank vs brute force
    # round 2 (cont.): analytics + corpus additions
    "events_funnel",         # ordered funnel (co-partitioned conditional mins)
    "events_json_props",     # JVM-side JSON sidecar extraction + aggregation
    "embedding_drift_stats",  # per-(group, dim) exact fixed-point sums
    "corpus_chunk",          # token-budget chunking with overlap
    "corpus_stratified",     # per-source quota sampling
    "corpus_bpe",            # BPE train (word counts + merge loop) + encode
    # round 3: retrofitted clustering, shard export, asof variants, analytics
    "ktk_cluster_zorder",    # post-hoc OPTIMIZE ZORDER rewrite + pruned read
    "corpus_shard",          # deterministic balanced training-shard export
    "events_asof_keyless",   # range-partitioned prefix-scan asof (no key)
    "events_sliding",        # overlapping-window counts (1h / 15min)
    "events_cohorts",        # cohort retention matrix
    # round 3 (cont.): interop + retrieval + classification
    "ktk_import_reference",  # reference-layout zero-copy import + pruned read
    "corpus_search",  # BM25 top-k (distributed TakeOrdered, no corpus broadcast)
    "corpus_hybrid_search",  # BM25 + dense cosine legs, RRF fusion
    "corpus_hybrid_ann",  # BM25 + LSH-ANN dense leg, fused-recall floor
    "corpus_classifier_score",  # hashed-feature linear scoring (int micros)
    "corpus_classifier_train",  # 3-iteration batch-gradient logistic train
    "corpus_perplexity",     # bigram-LM self-train + stupid-backoff scoring
    "embedding_pca",         # exact-integer covariance moments + driver eigh
    # round 5: exact fuzzy matching (complete deletion-neighborhood blocking)
    "dedup_fuzzy_pairs",     # levenshtein<=2 near-dup pairs on snippet keys
    "corpus_fuzzy_join",     # dirty-probe record linkage, no N x M join
    # round 5 (cont.): persisted retrieval index
    "corpus_search_indexed",  # BM25 over bucket-pruned postings dataset
    "corpus_search_index_sync",  # build+O(new docs) sync, searched result
    "stream_text_index",     # foreachBatch-maintained index, value oracle
    # round 5 (cont.): cross-corpus fuzzy decontamination
    "dedup_cross_corpus",    # two-sided MinHash banding, value oracle
    "corpus_fuzzy_decontaminate",  # near-dup-to-benchmark anti-join
    "events_asof_tolerance",  # merge_asof tolerance, plan-identical
    # round 6: serializer-agnostic stats/indices + batched retrieval +
    # persisted-index compositions
    "ktk_orc_stats_pruned",  # ORC stats+index write, pruned read
    "corpus_search_index_batch",  # many queries, one pruned read + ranking
    "corpus_hybrid_pq",      # BM25 + persisted IVF-PQ dense leg, RRF
    "corpus_fuzzy_join_indexed",  # SymSpell lookup vs persisted blocks
    "corpus_fuzzy_index_sync",  # build + O(new keys) sync, searched result
    "stream_fuzzy_index",    # foreachBatch-maintained SymSpell index
    "corpus_mixture_sample",  # temperature source mixing (n^alpha quotas)
    "dedup_keep_best",       # quality-aware canonical selection
    "dedup_containment",     # asymmetric n-gram containment (nesting signal)
    # round 6 (cont.): k-means + SemDeDup
    "embedding_kmeans_assign",  # literal-centroid codegen assignment
    "embedding_kmeans_train",   # Lloyd's: narrow assign + combined partials
    "dedup_semdedup",           # cluster-scoped near-dup drop (SemDeDup)
    "multimodal_ingest",        # binaryFile-source raw-media ingest
    "text_normalize",           # unicode/control cleanup, pure JVM exprs
    "corpus_group_cap",         # per-domain top-N cap, two-phase window
    "embedding_cluster_profile",  # per-cluster cohesion (exact micros)
    "embedding_knn_classify",   # seed-set label propagation (exact kNN)
    "corpus_length_quantiles",  # per-source exact quantiles (SQL-twinned)
    "dedup_semdedup_diverse",   # paper keep-rule: drop centroid-closer
    "stream_cluster_assign",    # streamed semantic shard map, value oracle
    "embedding_cluster_shard",  # partition-pruned per-cluster read
    "corpus_contamination_report",  # eval-side leak attribution
    "multimodal_dedup",         # exact payload dedup (digest groupBy)
    "multimodal_dups",          # featurizer-cosine near-dup pairs
    "dedup_winnow",             # MOSS winnowing fingerprints
    "dedup_winnow_pairs",       # overlap pairs on the sparsified index
    "stream_multimodal_ingest",  # streamed landing-zone media ingest
    "events_asof_nearest",      # merge_asof nearest (two traversals)
    "stream_kmeans_model",      # mini-batch streaming k-means model
    # round 7: persisted winnowing + contamination index families
    "dedup_winnow_indexed",     # pair query over persisted fingerprints
    "dedup_winnow_index_sync",  # build + O(new docs) sync, queried result
    "corpus_winnow_probe",      # probe batch vs index, bucket-pruned read
    "stream_winnow_index",      # foreachBatch-maintained fingerprint index
    "dedup_cross_corpus_indexed",  # pairs vs persisted benchmark index
    "corpus_fuzzy_decontaminate_indexed",  # decontaminate vs persisted index
    "stream_contamination_index",  # foreachBatch-maintained bench index
    "corpus_dsir_weights",      # DSIR importance log-weights (int micros)
    "corpus_dsir_sample",       # Gumbel-top-k importance resampling
    "ann_sq_topk",              # int8-code exact-integer approximate top-k
    "ann_sq_rerank",            # SQ shortlist + exact fixed-point re-rank
    "corpus_gopher_flags",      # Gopher rule audit, zero-shuffle JVM exprs
    "corpus_chunk_sentences",   # sentence-boundary RAG chunking
    "ann_sq_ivf_planted",       # cell-pruned IVF-SQ8 probe (nprobe=2/8)
    "corpus_dsir_model_score",  # frozen-q̂ scoring vs persisted model
    "stream_dsir_scores",       # per-batch streamed selection scores
    "dedup_c4_spans",           # C4 three-sentence-span dedup
    "dedup_c4_indexed",         # O(batch) incremental C4 vs span history
    # round 7 (cont.): Bloom membership-index family
    "corpus_bloom_words",       # distributed bitmap build (bit_or groupBy)
    "corpus_bloom_hits",        # codegen prefilter + exact verification
    "corpus_bloom_decontaminate",  # probe vs persisted bitmap + key set
    "stream_bloom_index",       # foreachBatch-maintained bloom index
    "corpus_clean",             # gopher -> decontaminate -> dedup, one plan
    "corpus_leakage_split",     # hash split + zero-leakage train decon (r8)
    "corpus_source_overlap",    # pairwise source n-gram overlap matrix (r8)
    "corpus_token_budget",      # token-denominated temperature mixing (r8)
    "corpus_novelty_indexed",   # freshness report vs persisted key set (r8)
    "embedding_hard_negatives", # contrastive hard-negative mining (r8)
    "embedding_hard_negatives_margin",  # positive-aware margin filter (r9)
    "stream_clean_corpus",      # continuous ingest cleaning, bitmap dedup
    "corpus_cms_counts",        # Count-Min sketch build (d*w cells shuffle)
    "corpus_hll_estimate",      # per-source HLL cardinality estimates
    "stream_hll",               # streamed register-wise-max maintenance
    "corpus_novelty",           # eval-freshness n-gram novelty report
    "events_resample",          # regular-grid LOCF downsample via asof
    "events_resample_sliced",   # bounded two-level grid + salted fill (r8)
    "events_asof_salted",       # coarse-time salted keyed as-of (r8)
    "events_gaps",              # silent-interval mining (window lag)
]

# each query is timed as the best of N runs: the box runs periodic
# background maintenance whose JVM can collide with a single timing, and
# run 1 of a gate also pays its (session-cached) fixture build — best-of-3
# reports the warm operator cost, which is what the query measures
BEST_OF = 3

# in-run drift canary: a fixed 5-query set timed as ONE single-run pass
# at session start, suite midpoint and session end (plus one untimed warm
# pass first, so pass 1 carries no one-time fixture/codegen cost).
# `canary_spread` = max/min of the three pass totals measures how much
# THIS session's host-load band moved while the suite ran — totals from
# different rounds divide by it instead of being compared raw (same-
# commit totals have drifted 156-199 s across runs on this box).
CANARY = [
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "ktk_read_pruned",
    "dedup_exact",
    "corpus_heavy_hitters",
]


def _canary_pass(qs, spark, sf_dir):
    """One timed single-run pass over the canary set (deliberately NOT
    best-of: the canary measures the session's noise, best-of would
    mask it)."""
    per = {}
    for name in CANARY:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).count()
        per[name] = round(time.perf_counter() - t0, 3)
    return round(sum(per.values()), 3), per


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from kartothek_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("kartothek_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # warm the JVM/session so the first timed query doesn't pay one-time
    # costs: executor spin-up, parquet reader init, codegen compilation of
    # the hash/join/window lanes, and C2 JIT of the expression interpreter
    from pyspark.sql import functions as F

    spark.range(1000).count()
    warm = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(500)
    warm = warm.select("doc_id", F.md5("text").alias("h"))
    warm.join(warm.groupBy("h").count(), "h").count()
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).limit(500)
    fold = F.aggregate(
        F.zip_with("embedding", "embedding", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda a, b: a + b,
    )
    for _ in range(2):  # enough lambda invocations to trigger C2 JIT
        emb.select(fold.alias("d")).agg(F.sum("d")).count()

    # attribution hygiene: SPARK_GRAFT_BENCH_ONLY="q6_forecast_revenue,..."
    # times just those queries in an otherwise-identical session, so a
    # full-suite number can be cross-checked against a (near-)single-query
    # run — if they differ beyond noise, the suite is contending, not the
    # query regressing
    only = {
        s for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if s
    }
    headline = [n for n in HEADLINE if not only or n in only]

    canary_totals: list[float] = []
    canary_detail: list[dict] = []

    def canary(label: str) -> None:
        total, per = _canary_pass(qs, spark, sf_dir)
        canary_totals.append(total)
        canary_detail.append({"at": label, "total": total, **per})
        print(f"# canary[{label}]: {total}s", file=sys.stderr)

    if not only:
        # two untimed warm passes (fixtures, codegen, C2 JIT of the lanes
        # the canaries exercise) so pass "start" measures the session's
        # host band, not leftover one-time costs
        _canary_pass(qs, spark, sf_dir)
        _canary_pass(qs, spark, sf_dir)
        canary("start")

    timings: dict[str, float] = {}
    # per-query best-of-3 max-min band: the host-noise width of THIS
    # query's three runs. A query whose `noise` rivals its best is a
    # host-band swinger (cfjoi class) — cross-round diffs of it are
    # meaningless without this field (BENCH_NOTES). JSON files only;
    # the stdout line has no byte budget for it.
    noise: dict[str, float] = {}
    for i, name in enumerate(headline):
        if not only and i == len(headline) // 2:
            canary("mid")
        fn = qs[name]
        best, worst, n = None, 0.0, 0
        df = None
        for _ in range(BEST_OF):
            # release the previous trial's frame BEFORE the timer starts:
            # rebinding `df` inside the timed region dropped it mid-trial,
            # so a scoped-release gate's pin release (plan-keyed in the
            # CacheManager) landed INSIDE the next trial's timing and
            # unpinned it — trials 2/3 measured an unpinned plan plus the
            # unpersist cost. Timed action itself is unchanged (build +
            # count, best-of-3).
            df = None
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            worst = max(worst, dt)
        timings[name] = round(best, 3)
        noise[name] = round(worst - best, 3)
        print(f"# {name}: {timings[name]}s ({n} rows)", file=sys.stderr)
        # drop DataFrame refs and collect promptly: queries that
        # localCheckpoint (dedup banding, clustering) pin executor block
        # storage until Python GC runs, which otherwise taxes the queries
        # that happen to run after them
        del df
        import gc

        gc.collect()
        # and compact the JVM heap between queries: 39 queries in one
        # session accumulate young-gen garbage whose collection otherwise
        # lands as a multi-second pause INSIDE some later query's timing
        # (observed: a 1.1s query measured at 5.7s once per bench run)
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    # planning latency at manifest scale (reference asv write.py:56-75
    # commit-cost workload): 20k-partition zstd manifest — load + point
    # predicate dispatch must stay driver-cheap (no Spark job at all)
    import tempfile

    from pyspark.sql import types as T

    from kartothek_spark.core.manifest import DatasetManifest
    from kartothek_spark.dataset.read import dispatch_labels

    schema = T.StructType(
        [T.StructField("p", T.IntegerType()), T.StructField("v", T.DoubleType())]
    )
    # 20k = the reference asv scale; 200k = a 100 TB dataset at ~512
    # MB/file; 1m = 10x past that. At >= SIDECAR_THRESHOLD (100k) the
    # partition list shards into a parquet sidecar (Delta checkpoint
    # analog) automatically, so 200k/1m measure the sidecar path and 20k
    # the inline-JSON path.
    for label, n_parts in (("20k", 20_000), ("200k", 200_000), ("1m", 1_000_000)):
        mroot = tempfile.mkdtemp(prefix="bench_manifest_")
        big = DatasetManifest(
            dataset_uuid="big", root=mroot, schema=schema,
            partition_keys=["p"], storage_format="zstd",
        )
        for i in range(n_parts):
            big.partitions[f"p={i}/part-{i:05d}.parquet"] = {
                "file": f"big/table/p={i}/part-{i:05d}.parquet"
            }
        big.commit()
        best, worst = None, 0.0
        for _ in range(BEST_OF):
            t0 = time.perf_counter()
            m2 = DatasetManifest.load(mroot, "big")
            labels = dispatch_labels(spark, m2, [[("p", "==", 12_345 % n_parts)]])
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            worst = max(worst, dt)
        assert len(labels) == 1
        timings[f"manifest_plan_{label}"] = round(best, 3)
        noise[f"manifest_plan_{label}"] = round(worst - best, 3)
        print(f"# manifest_plan_{label}: {best:.3f}s", file=sys.stderr)

        # the same load + dispatch with a range predicate: no segment
        # match applies, so this times the typed key-column evaluator
        best, worst = None, 0.0
        for _ in range(BEST_OF):
            t0 = time.perf_counter()
            m2 = DatasetManifest.load(mroot, "big")
            labels = dispatch_labels(spark, m2, [[("p", ">=", 100), ("p", "<", 110)]])
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            worst = max(worst, dt)
        assert len(labels) == 10
        timings[f"manifest_plan_range_{label}"] = round(best, 3)
        noise[f"manifest_plan_range_{label}"] = round(worst - best, 3)
        print(f"# manifest_plan_range_{label}: {best:.3f}s", file=sys.stderr)

        # commit latency at the same scale (the other half of the
        # reference's asv write.py:56-75 workload): serialize + zstd +
        # conflict check + atomic swap
        best, worst = None, 0.0
        for i in range(BEST_OF):
            t0 = time.perf_counter()
            big.metadata["bench_touch"] = i
            big.commit()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            worst = max(worst, dt)
        timings[f"manifest_commit_{label}"] = round(best, 3)
        noise[f"manifest_commit_{label}"] = round(worst - best, 3)
        print(f"# manifest_commit_{label}: {best:.3f}s", file=sys.stderr)

        # append commit: 50 new entries on a freshly loaded manifest, then
        # the commit (load untimed) — the lazy sidecar map's overlay path
        best, worst = None, 0.0
        for i in range(BEST_OF):
            m2 = DatasetManifest.load(mroot, "big")
            t0 = time.perf_counter()
            for j in range(n_parts + 50 * i, n_parts + 50 * (i + 1)):
                m2.partitions[f"p={j}/part-{j:05d}.parquet"] = {
                    "file": f"big/table/p={j}/part-{j:05d}.parquet"
                }
            m2.commit()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            worst = max(worst, dt)
        timings[f"manifest_append_{label}"] = round(best, 3)
        noise[f"manifest_append_{label}"] = round(worst - best, 3)
        print(f"# manifest_append_{label}: {best:.3f}s", file=sys.stderr)

    if not only:
        canary("end")

    # single-query stall re-run (r9 verdict #4): the 3-pass canary is
    # blind to a host stall that lands INSIDE one query's best-of-3 and
    # falls between canary passes (observed: events_asof_nearest 7.9x
    # for one session, gone the next). Any query whose best-of-3 came
    # out >2x its committed-snapshot value (and >0.5 s above it — band
    # wobble on sub-second queries is not a stall) gets ONE more timed
    # run at session end; both numbers are emitted as rerun: {name:
    # [first, second]}. Interpretation (BENCH_NOTES): second ~= snapshot
    # means the first number was a transient stall — read the second;
    # both high means a real regression — profile it. (The trigger was
    # 3x for one session; an r10 run-2 stall CLUSTER sat at 1.7-2.2x
    # across the adjacent bloom-family queries and slipped under it.)
    rerun: dict[str, list[float]] = {}
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    cpus = spark.sparkContext.defaultParallelism
    if not only:
        repo_dir = os.path.dirname(os.path.abspath(__file__))
        try:
            with open(os.path.join(repo_dir, "BENCH_SNAPSHOT.json")) as fh:
                snap = json.load(fh)
            # the snapshot is only a valid stall reference when it was
            # taken at the SAME core count and SF (the driver's 8-core run
            # overwrote the working-tree snapshot in r10 and would have
            # made a later 32-core session re-run everything); a snapshot
            # without a cpus field predates this check — don't compare.
            if snap.get("cpus") == cpus and snap.get("sf") == sf_val:
                prev = snap.get("queries", {})
            else:
                prev = {}
        except (OSError, ValueError):
            prev = {}
        for name, t in timings.items():
            base = prev.get(name)
            if name in qs and base and t > max(2 * float(base), float(base) + 0.5):
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).count()
                rerun[name] = [t, round(time.perf_counter() - t0, 3)]
                print(
                    f"# rerun {name}: best-of-3 {t}s vs snapshot {base}s "
                    f"-> second run {rerun[name][1]}s",
                    file=sys.stderr,
                )

    result = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "cpus": cpus,
        "noise": noise,
    }
    if canary_totals:
        result["canary_totals"] = canary_totals
        result["canary_spread"] = round(max(canary_totals) / min(canary_totals), 3)
        result["canary_detail"] = canary_detail
    if rerun:
        result["rerun"] = rerun
    if only:
        result["subset"] = True
    # the stdout line can exceed a log collector's tail window at 70+
    # queries; persist the identical JSON next to the script so the
    # numbers stay reproducible from the repo regardless of capture size.
    # SPARK_GRAFT_BENCH_ONLY runs go to a separate file — a subset total
    # under the same metric name must never clobber the committed
    # full-suite snapshot (it happened twice).
    out_file = "BENCH_LAST_SUBSET.json" if only else "BENCH_LAST.json"
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    codes = _short_codes(sorted(timings))
    try:
        with open(os.path.join(repo_dir, out_file), "w") as fh:
            # code->name legend for the compact stdout line rides here
            json.dump({**result, "codes": {codes[k]: k for k in timings}}, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass
    # BENCH_SNAPSHOT.json: one compact line with EVERY per-query entry —
    # the cross-round diff artifact. The driver's BENCH_r{N}.json parses
    # the (size-capped) stdout line and has truncated its query dict at
    # 70+ entries (r06 kept 69 of 111); snapshots diffed between rounds
    # must come from this file, never from the driver's tail parse.
    if not only:
        try:
            with open(os.path.join(repo_dir, "BENCH_SNAPSHOT.json"), "w") as fh:
                json.dump(result, fh, separators=(",", ":"), sort_keys=True)
                fh.write("\n")
        except OSError:
            pass
    # stdout line: must stay under ~1.9 KB so the driver's 2000-char TAIL
    # capture parses it WHOLE (a longer line is head-truncated and
    # unparseable — r04 proved it). Full names for 140+ queries cannot
    # fit (their name bytes alone exceed 2 KB), so the stdout dict keys
    # are DETERMINISTIC short codes — initials of the leading name
    # tokens + the last token's first 4 chars, collisions suffixed with
    # a digit in sorted-name order — letting the driver record EVERY
    # per-query timing each round. The code->name legend rides in
    # BENCH_LAST.json ("codes") and the full-name dict in
    # BENCH_SNAPSHOT.json; codes are a pure function of the name set,
    # so they stay stable across rounds for cross-round diffs.
    out = dict(result)
    out["queries"] = {codes[k]: _sig2(v) for k, v in timings.items()}
    # per-pass per-query canary detail, per-query noise bands and the
    # cpus tag live in BENCH_LAST/SNAPSHOT only; the stdout line keeps
    # just the spread + totals (byte budget)
    out.pop("canary_detail", None)
    out.pop("noise", None)
    out.pop("cpus", None)
    if rerun:
        # stalled-query second timings, coded like the query dict —
        # usually absent, at most a handful of entries
        out["rerun"] = {codes[k]: v for k, v in rerun.items()}
    out["legend"] = "BENCH_LAST.json"
    line = json.dumps(out, separators=(",", ":"))
    # Over-budget degradation order: NEVER drop a query entry first — the
    # driver's comparator reads a missing per-query key as dropped-from-
    # bench (it false-flagged mp200 in r10). Shed diagnostic extras
    # instead (they all persist in BENCH_LAST/SNAPSHOT), and only then,
    # as a last resort, omit queries (flagged via queries_omitted).
    for extra in ("rerun", "canary_totals"):
        if len(line) > 1950 and extra in out:
            out.pop(extra)
            line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1950:
        kept = dict(out["queries"])
        for k, _v in sorted(timings.items(), key=lambda kv: kv[1]):
            if len(line) <= 1950:
                break
            kept.pop(codes[k], None)
            out["queries"] = kept
            out["queries_omitted"] = len(timings) - len(kept)
            line = json.dumps(out, separators=(",", ":"))
    print(line)


def _sig2(v: float) -> float:
    """0.1 s stdout resolution (full precision lives in the JSON files);
    >= 10 s drops the fraction entirely. Sub-50 ms values get 2 decimals
    with a 0.01 floor: a 0.0 on the stdout line reads as dropped-from-
    bench to the driver's comparator (the r10 mp200 false flag)."""
    if v >= 10:
        return round(v, 0)
    r = round(v, 1)
    if r == 0.0:
        return max(0.01, round(v, 2))
    return r


def _short_codes(names: list) -> dict:
    """Deterministic compact code per query name: initials of all
    '_'-tokens but the last, plus the last token's first 3 chars;
    collisions get a positional digit suffix (iteration over the SORTED
    name list, so the mapping is a pure function of the name set)."""
    taken: set = set()
    codes: dict = {}
    for name in names:
        t = name.split("_")
        base = ("".join(x[0] for x in t[:-1]) + t[-1][:3]) if len(t) > 1 else name[:5]
        code, i = base, 2
        while code in taken:
            code = f"{base}{i}"
            i += 1
        taken.add(code)
        codes[name] = code
    return codes


if __name__ == "__main__":
    main()
