"""Benchmark harness: wall-clock every registered query at the driver's
scale factor and print ONE JSON line.

    SPARK_GRAFT_SF_DIR  input dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS    local[] threads (default 32)
    BENCH_QUERIES       comma-separated subset (default: all registered)
    BENCH_REPEATS       runs per query, median reported (default 1 — the
                        driver's single-pass mode; use 3+ locally to
                        separate plan cost from codegen/JIT compile and
                        host-load noise)

The headline ``value`` is the summed wall-clock of all queries (sec).
The printed line must fit in the driver's 2 000-byte stdout tail buffer
(round 1's 103-query line overflowed it and recorded ``parsed: null``),
so ``queries`` carries a curated HEADLINE subset only; the full
per-query map is written to ``BENCH_FULL.json`` next to this script.
Each query is fully materialized via ``collect()`` (result sets are
aggregate-sized).  One flagship warm-up run amortizes JVM/codegen
start-up out of the numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402

from stream_processing_with_flink_study_spark import plans  # noqa: E402

# One representative per SURVEY §2 family + the training-data extensions;
# keeps the printed JSON line well under the driver's 2 000-byte tail.
HEADLINE = [
    "flagship_window_avg",
    "basic_pipeline",
    "rolling_aggs",
    "keyed_agg_stats",
    "tumbling_window_stats",
    "sliding_window_avg",
    "session_window_agg",
    "window_join_pairs",
    "interval_join_events",
    "asof_join_keyed",
    "temp_delta_alert",
    "funnel_conversions",
    "cep_relaxed_4step",
    "streaming_flagship_avg",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit",
    "tpch_q18_large_orders",
    "tpch_q21_waiting_supplier",
    "exact_dedup_docs",
    "minhash_lsh_near_dup",
    "ngram_jaccard_pairs",
    "simhash_fingerprints",
    "embedding_cosine_topk",
    "ann_lsh_topk",
    "ivf_ann_topk",
    "decontaminate_ngrams",
    "bm25_scores",
    "token_stats",
    "quality_scores",
    "trigger_count_purge",
    "async_service_enrich",
    "pagerank_cosupplier",
    "changepoint_single_split",
    "assoc_rules_parts",
    "sssp_cosupplier",
    "local_clustering_coeff",
    "link_prediction_scores",
    "personalized_pagerank",
    "prefix_jaccard_join",
    "equi_depth_histogram",
    "markov_attribution_removal",
    "matryoshka_recall_eval",
    "kmeans_lloyd_2d",
    "betweenness_fixed_point",
    "dsir_importance_weights",
    # round-9 representatives
    "bpe_merges_top",
    "knn_label_noise",
    "bloom_filter_probe",
    "kcenter_coreset_select",
    "png_pixel_stats",
    "graph_random_walks",
    "hll_md5_distinct",
    "zone_map_pruning_eval",
]

# Round-13 additions (round-12 verdict item 2: the headline hid 17 of
# that round's wins — e.g. the shared-BFS build showed betweenness's
# cost but never closeness/eccentricity's offsetting win).  ADDITIONS
# ONLY — the 56 names above are never removed or renamed, so PERF's
# round-over-round comparison stays valid.  Priority-ordered: when the
# printed line would overflow the driver's 2 000-byte tail buffer, the
# guard below drops entries from the END of this list first.
HEADLINE_EXT = [
    "closeness_bfs_seeds",
    "eccentricity_seeds",
    "link_prediction_eval",
    "hits_part_authority",
    "successive_halving_schedule",
    "rmst_repurchase",
    "bradley_terry_brands",
    "char_ngram_lang_id",
    "quantile_regression_grid",
    "mst_cosupplier",
    "identity_stitch_components",
    "graph_robustness_attack",
    "dbscan_grid_clusters",
    "textrank_keywords",
    "katz_centrality_cosupplier",
    "lpa_communities",
    "substring_top_grams",
    "rate_limiter_replay",
    "bpe_encoded_stats",
    "bigram_pmi_topk",
    "burrows_delta_sources",
    "naive_bayes_lang_eval",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stream_processing_with_flink_study_spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    names = sorted(plans.QUERIES)
    subset = os.environ.get("BENCH_QUERIES")
    if subset:
        names = [n for n in subset.split(",") if n in plans.QUERIES]

    # warm-up: JVM + codegen (flagship), the Python/Arrow UDF worker pool
    # — otherwise the first pandas-UDF query pays ~32 worker forks +
    # Arrow init inside its measured time — and the per-process parquet
    # schema cache (``sources.batch.read_parquet``): one inference job
    # per driver table here, none for them in any timed query
    plans.QUERIES["flagship_window_avg"](spark, sf_dir).collect()
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(s):
        return s * 1.0

    spark.range(1000, numPartitions=int(cpus)).select(
        F.sum(_warm(F.col("id").cast("double")))
    ).collect()
    from stream_processing_with_flink_study_spark.schemas import TABLES
    from stream_processing_with_flink_study_spark.sources import load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).limit(1).collect()

    # streaming machinery warm-up (round-8 verdict item 7): state-store
    # providers, the micro-batch planner, and the stateful Python
    # worker path all classload/JIT on first use, so the
    # alphabetically-first streaming twin otherwise absorbs ~2s of
    # one-time session setup inside its measured time.  One untimed
    # stateful twin moves that cost here — the bench measures the
    # engine, not cold-start.
    if any(n.startswith("streaming_") for n in names) and (
        "streaming_lindley_balance" in plans.QUERIES
    ):
        plans.QUERIES["streaming_lindley_balance"](spark, sf_dir).collect()
        spark.catalog.clearCache()

    repeats = int(os.environ.get("BENCH_REPEATS", "1"))

    jsc = spark.sparkContext._jsc.sc()

    def drain_leftovers() -> None:
        """UNTIMED inter-query hygiene (runs after the clock stops):
        drop cached DataFrames AND leftover persisted RDDs.  Queries
        may persist intermediates (LSH buckets, minhash signatures) —
        `clearCache` handles those — but `localCheckpoint` RDDs are
        NOT in the cache manager: they linger until a JVM GC enqueues
        them for the ContextCleaner, whose blocking removals then
        stall whatever query happens to be running (measured: a
        System.gc() + 2 s pause before a query made it 30.9 s vs
        8.0 s with the cleaner drained — round-12 profiling).
        Unpersisting them here BLOCKING moves that cleanup debt out of
        later queries' timed regions; nothing about the timed
        methodology changes.  (Round 12 shipped the non-blocking form,
        but `unpersist(False)` only *dispatches* removal — the actual
        block-manager work then lands inside the NEXT query's timed
        region, the exact opposite of the intent.  Measured on this
        box, round 13: async drain 818.3 s / canary ratio 1.31 vs
        blocking drain in the same back-to-back protocol — see
        OPTIMIZATION_r13.md.  Cross-query caches are parquet scratch
        files, never persisted/checkpointed frames, so draining every
        persistent RDD here is safe; keep it that way.)"""
        spark.catalog.clearCache()
        it = jsc.getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(True)

    per_query: dict[str, float] = {}
    for name in names:
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            plans.QUERIES[name](spark, sf_dir).collect()
            times.append(time.perf_counter() - t0)
            drain_leftovers()
        times.sort()
        per_query[name] = round(times[len(times) // 2], 3)

    # canary repeats: re-time 3 cheap plan-stable queries at the END of
    # the run and compare with their in-run numbers.  Host-load noise
    # moves the whole run together (BASELINE.md saw +-40% on this box),
    # so a canary ratio far from 1.0 flags a noisy run — a real
    # regression shows up with canaries near 1.0.
    canaries = [
        n
        for n in ("flagship_window_avg", "tpch_q1_pricing_summary", "token_stats")
        if n in per_query
    ]
    canary_repeat: dict[str, dict[str, float]] = {}
    for name in canaries:
        t0 = time.perf_counter()
        plans.QUERIES[name](spark, sf_dir).collect()
        rep = time.perf_counter() - t0
        drain_leftovers()
        canary_repeat[name] = {
            "in_run": per_query[name],
            "repeat": round(rep, 3),
            "ratio": round(rep / per_query[name], 3) if per_query[name] else 1.0,
        }

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "", 1).isdigit() else sf
    full = {
        "metric": "total_query_seconds",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "n_queries": len(per_query),
        "repeats": repeats,
        "queries": per_query,
        "canary_repeat": canary_repeat,
        "sf": sf_val,
    }
    # Subset runs (BENCH_QUERIES) are interactive probes — never let
    # them overwrite the committed full-suite record.  Full runs write
    # BENCH_FULL.json only when they don't DOWNGRADE an existing
    # higher-repeats record (the driver's per-round single pass kept
    # clobbering the committed repeats=3 protocol record); single-pass
    # results land in BENCH_SINGLE.json instead.  BENCH_FORCE=1
    # overrides.
    if not subset:
        here = os.path.dirname(os.path.abspath(__file__))
        target = os.path.join(here, "BENCH_FULL.json")
        prior_repeats = 0
        try:
            with open(target) as fh:
                prior_repeats = int(json.load(fh).get("repeats", 1))
        except (OSError, ValueError):
            prior_repeats = 0
        force = os.environ.get("BENCH_FORCE") == "1"
        if repeats < prior_repeats and not force:
            target = os.path.join(here, "BENCH_SINGLE.json")
        try:
            with open(target, "w") as fh:
                json.dump(full, fh, indent=1, sort_keys=True)
        except OSError:
            pass

    ratios = sorted(c["ratio"] for c in canary_repeat.values())
    line = dict(full)
    # one number in the tail line: median canary ratio (close to 1.0 =
    # clean run; full per-canary detail stays in BENCH_FULL.json)
    line["canary_ratio"] = ratios[len(ratios) // 2] if ratios else None
    del line["canary_repeat"]

    # Tail-buffer guard, progressive (round-12 verdict item 2): compact
    # separators buy ~150 bytes; if the line still exceeds the driver's
    # 2 000-byte tail buffer, drop EXTENSION queries from the end of
    # HEADLINE_EXT — never one of the original 56 names, so cross-round
    # PERF comparisons keep every historical column — and record how
    # many were dropped.  Last resort (base set alone too big, e.g. a
    # future driver shrinking the buffer): totals only + flag, never a
    # single-query map.
    def dumps(obj) -> str:
        return json.dumps(obj, separators=(",", ":"))

    ext = [n for n in HEADLINE_EXT if n in per_query]
    n_ext = len(ext)
    base = {n: per_query[n] for n in HEADLINE if n in per_query}
    while True:
        headline = dict(base)
        headline.update({n: per_query[n] for n in ext})
        line["queries"] = headline
        if len(ext) < n_ext:
            line["queries_truncated"] = n_ext - len(ext)
        out = dumps(line)
        if len(out) <= 1900 or not ext:
            break
        ext = ext[:-1]
    if len(out) > 1900:
        line["queries"] = {}
        line["queries_truncated"] = len(base) + n_ext
        out = dumps(line)
    print(out)
    spark.stop()


if __name__ == "__main__":
    main()
