"""Per-round benchmark: ALL batch queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Selection rule (explicit, so the bench never silently caps coverage):
every registered query runs EXCEPT (a) the ``streaming_*`` family —
real Structured Streaming file-replay jobs whose wall time is dominated
by micro-batch scheduling and sink flushes, not plan throughput; the
flagship stream is instead measured once per round by the pinned
throughput probe and reported as ``streaming_lines_per_sec`` — and (b)
the ``DEMONSTRATORS`` list: engine-native capability demonstrators
whose scale-safe twin IS timed (each entry documents why). Both
exclusion sets are listed by name in the output.

Each query is executed to completion via a noop-sink write (materializes
every column) after a shared session warm-up, so the number reflects
plan execution, not JVM start. Protocol per query (:func:`time_query`,
the one implementation every timing tool shares): one warm run
(codegen + shuffle-file cache), then best-of-2 timed cold-cache runs —
identical for every query.

Usage: python bench.py              full suite (stdout line + bench_summary.json)
       python bench.py [query ...]  fresh-session retime of the named
                                    queries only: one {name: sec} JSON
                                    line, no canary, probes or summary

``HEADLINE`` is the historical round-1..4 comparison set; its subtotal
is reported as ``headline_total`` so round-over-round deltas stay
comparable now that the full registry is timed.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_streaming_twitch_analytics_spark import registry
from spark_streaming_twitch_analytics_spark.cache import release_all
from spark_streaming_twitch_analytics_spark.session import get_spark

HEADLINE = [
    "flagship_wordcount",
    "wordcount",
    "update_table_merge",
    "threshold_decode",
    "training_prep",
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_nation_revenue",
    "q7_volume_shipping",
    "q9_product_profit",
    "q13_customer_distribution",
    "q18_large_orders",
    "q21_waiting_suppliers",
    "events_hourly",
    "sessionize",
    "session_window_agg",
    "window_running_total",
    "rollup_orders",
    "pivot_events",
    "asof_join_events",
    "range_join_buckets",
    "dedup_exact",
    "dedup_minhash_pairs",
    "dedup_simhash",
    "dedup_simhash64_hamming",
    "dedup_ngram_topk",
    "ann_brute_topk",
    "ann_brute_topk_np",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_lsh_index_topk",
    "ann_ivf_index_topk",
    "ann_pq_topk",
    "dedup_semantic",
    "ann_ivfpq_topk",
    "ann_ivfpq_rerank",
    "corpus_bpe_merges",
    "corpus_hot_ngrams",
    "scd2_user_history",
    "bucketed_join_priority_revenue",
    "partitioned_day_scan",
    "events_funnel",
    "events_retention",
    "events_markov_transitions",
    "events_user_paths",
    "events_seasonality",
    "events_ab_test",
    "events_attribution",
    "orders_basket_pairs",
    "orders_rfm_segments",
    "orders_cohort_revenue",
    "lineitem_discount_ols",
    "window_range_rolling",
    "window_distribution_funcs",
    "dedup_containment_pairs",
    "ann_lsh_multiprobe_topk",
    "corpus_doc_novelty",
    "quality_constraint_report",
    "text_quality",
    "text_fingerprint",
    "text_redact_pii",
    "corpus_chunk_windows",
    "corpus_pack_bins",
    "corpus_keep_list",
    "dedup_incremental",
    "multimodal_meta",
    "text_repetition",
    "corpus_decontaminate",
    "corpus_bloom_decontaminate",
    "corpus_line_dedup",
    "text_gopher_rules",
    "corpus_url_dedup",
    "dedup_ppjoin_pairs",
    "corpus_cms_counts",
    "corpus_e2e_prep",
    "corpus_fixed_sample",
    "corpus_hll_distinct",
    "corpus_dsir_weights",
    "corpus_collocations",
    "dedup_winnow_pairs",
    "corpus_classifier_filter",
    "corpus_unigram_logprob",
    "embedding_centroids",
    "corpus_tfidf_terms",
    "corpus_tfidf_top_per_doc",
    "corpus_source_quota",
    "corpus_temperature_mix",
    "dedup_substring_spans",
    "ann_ivf_recall",
    "corpus_stratified_split",
    "corpus_shuffle_shards",
    "corpus_bm25_topk",
    "events_anomaly_zscore",
    "exact_quantiles_histogram",
    "group_quantiles_histogram",
    "ann_sq8_topk",
    "corpus_typo_pairs",
    "dedup_bfs_hops",
    "events_decay_sum",
    "embedding_sparse_projection",
    "lineitem_winsorized_revenue",
    "quantiles_interpolated",
    "group_quantiles_interpolated",
    "ann_sq8_index_topk",
    "events_zorder_scan",
    "corpus_kmv_overlap",
    "events_conversion_latency",
]


# Engine-capability demonstrators excluded from timing by the same
# explicit-rule treatment as streaming_*: each entry names a query whose
# execution strategy is deliberately the ENGINE-NATIVE form kept for
# capability parity, with a scale-safe twin that IS timed. They stay
# oracled (correctness gate still runs them); they just don't tax the
# round-over-round throughput totals with a known-inferior plan.
DEMONSTRATORS = {
    "orders_capped_cumsum": (
        "native recursive CTE (UnionLoop: one driver-coordinated job per "
        "recursion level — 44x/decade, see SCALING.md); the identical "
        "result is timed as orders_capped_cumsum_fold"
    ),
}


def bench_set() -> tuple[list[str], list[str], list[str]]:
    """(timed, excluded_streaming, excluded_demonstrators): every
    registered query except the ``streaming_*`` family and the listed
    DEMONSTRATORS. Historical HEADLINE queries run first (stable
    warm-up order across rounds), then the rest alphabetically."""
    names = list(registry.all_queries())
    excluded = sorted(n for n in names if n.startswith("streaming_"))
    demos = sorted(n for n in names if n in DEMONSTRATORS)
    skip = set(excluded) | set(demos)
    rest = sorted(n for n in names if n not in skip and n not in HEADLINE)
    timed = [n for n in HEADLINE if n in names and n not in skip] + rest
    return timed, excluded, demos


# Pinned quiet-host canary time at sf0.1 (r7 observed 0.20-0.38 s across
# start/mid/end; 0.2 is the repeated quiet floor). Used ONLY to scale the
# streaming medians into a host-speed-corrected estimate — never edit
# retroactively, or cross-round normalized numbers stop being comparable.
CANARY_REF_SEC = 0.2


def _canary_time(spark, sf_dir: str) -> float:
    """Noise canary (VERDICT r6 task 1): a PINNED constant workload —
    lineitem scan → groupBy(l_returnflag) sum — whose plan has not
    changed since round 1. Timed identically at suite start / middle /
    end; if the three differ materially, the host was noisy DURING the
    suite and same-magnitude per-query drift is attributable to the
    host, not to plan regressions. Do not edit this workload."""
    from pyspark.sql import functions as F

    from spark_streaming_twitch_analytics_spark.tables import load_table

    def run() -> None:
        (
            load_table(spark, sf_dir, "lineitem")
            .groupBy("l_returnflag")
            .agg(F.sum("l_extendedprice").alias("s"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    run()  # warm
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        run()
        best = min(best, time.time() - t0)
    return round(best, 3)


def time_query(spark, name: str, sf_dir: str) -> float:
    """Best-of-2 wall seconds of registry query ``name`` at ``sf_dir``:
    one warm run (codegen + shuffle-file cache for THIS plan), then two
    timed cold-cache runs, each after a JVM gc."""
    fn = registry.get(name).fn

    def run() -> None:
        # noop sink materializes EVERY column (a count() would let
        # Catalyst prune expensive expressions out of the measurement)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()  # warm
    release_all()  # timed runs rebuild their own caches from cold
    best = float("inf")
    for _ in range(2):  # best-of-2: the host is multi-tenant noisy
        spark._jvm.System.gc()  # drop prior queries' garbage from the measurement
        t0 = time.time()
        run()
        best = min(best, time.time() - t0)
        release_all()
    return round(best, 3)


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(app_name="bench")
    # warm the JVM/codegen path and parquet footers once so per-query
    # times measure plan execution, not one-time session setup
    spark.range(1000).selectExpr("sum(id)").collect()
    from spark_streaming_twitch_analytics_spark.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).selectExpr("count(*)").collect()

    times: dict[str, float] = {}
    if names:
        # fresh-session retime (tools/bench_diff adjudication): the
        # round artifact bench_summary.json is left untouched
        for name in names:
            times[name] = time_query(spark, name, sf_dir)
            print(f"# {name}: {times[name]}s", file=sys.stderr)
        print(json.dumps(times, separators=(",", ":")))
        spark.stop()
        return

    timed_names, excluded, demos = bench_set()
    canary: dict[str, float] = {"start": _canary_time(spark, sf_dir)}
    for i, name in enumerate(timed_names):
        if i == len(timed_names) // 2:
            canary["mid"] = _canary_time(spark, sf_dir)
        times[name] = time_query(spark, name, sf_dir)
        print(f"# {name}: {times[name]}s", file=sys.stderr)

    # One pinned-protocol streaming-throughput run per round (BASELINE.md
    # "Streaming throughput probe") so the flagship modality gets
    # round-over-round regression visibility, not just SCALING.md prose.
    from spark_streaming_twitch_analytics_spark.streaming.probe import (
        BENCH_N_FILES,
        BENCH_REPLICATE,
        measure_stream_throughput,
    )

    canary["end"] = _canary_time(spark, sf_dir)
    print(f"# noise_canary: {canary}", file=sys.stderr)

    release_all()
    try:
        stream = measure_stream_throughput(spark, sf_dir)
    except Exception as e:  # never let the probe sink the batch numbers
        stream = {"error": str(e)[:200], "lines_per_sec": None}
    print(f"# stream_probe: {stream}", file=sys.stderr)
    # Second pinned operating point (VERDICT r6 task 5): 10x bigger
    # micro-batches through the same dataflow, so the batch-size
    # elasticity claimed in SCALING.md is regression-tracked per round,
    # not a one-off prose number.
    release_all()
    try:
        stream_big = measure_stream_throughput(
            spark, sf_dir, replicate=100, n_files=10
        )
    except Exception as e:
        stream_big = {"error": str(e)[:200], "lines_per_sec": None}
    print(f"# stream_probe_100x: {stream_big}", file=sys.stderr)
    # Canary-normalize the streaming medians (VERDICT r7 task 1): the
    # probes are bracketed by canary["end"] (taken just above) and this
    # post-probe sample; lines/s scales ~linearly with host speed, so
    # multiplying by adjacent/reference estimates the quiet-host rate.
    # Valid only for the sf0.1 pinned protocol the reference was taken
    # at; the raw canary seconds ship alongside so any reader can
    # renormalize. The regression-trackable number remains the
    # median-of-3 lines_per_sec read AGAINST its spread (SCALING.md
    # "Streaming throughput probe").
    # NB ordering (ADVICE r10): the post_stream canary and the stream
    # normalization are taken IMMEDIATELY after the throughput probes —
    # the state-scale probe below runs minutes of unrelated streaming
    # work, and sampling the canary after it would normalize the probes
    # against a host state they never ran under.
    canary["post_stream"] = _canary_time(spark, sf_dir)
    adjacent = round((canary["end"] + canary["post_stream"]) / 2, 3)
    for sd in (stream, stream_big):
        if sd.get("lines_per_sec"):
            sd["canary_adjacent_sec"] = adjacent
            sd["lines_per_sec_canary_norm"] = round(
                sd["lines_per_sec"] * adjacent / CANARY_REF_SEC, 1
            )

    # State-scale probe (VERDICT r9 task 3): key-cardinality ×1/×100/
    # ×1000 under HDFS-backed vs RocksDB providers — certifies batch
    # time grows sub-linearly in state size and the RocksDB provider
    # (the 100 TB deployment's store) holds the same curve.
    from spark_streaming_twitch_analytics_spark.streaming.probe import (
        measure_state_scale,
    )

    release_all()
    try:
        state_scale = measure_state_scale(spark, sf_dir)
    except Exception as e:
        state_scale = {"error": str(e)[:200], "cells": {}}
    print(f"# state_scale: {json.dumps(state_scale, sort_keys=True)}",
          file=sys.stderr)

    total = round(sum(times.values()), 3)
    headline_total = round(sum(times[n] for n in HEADLINE if n in times), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full = {
        "metric": "batch_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": times,
        "headline_total": headline_total,
        "headline_queries": [n for n in HEADLINE if n in times],
        "excluded": excluded,
        "exclusion_rule": "streaming_* (real Structured Streaming replay "
        "jobs: wall time = micro-batch scheduling, not plan throughput; "
        "covered by tests/ and the correctness gate)",
        "excluded_demonstrators": {n: DEMONSTRATORS[n] for n in demos},
        "streaming_probe": {
            **stream,
            "protocol": f"replicate={BENCH_REPLICATE} n_files={BENCH_N_FILES}",
        },
        "streaming_probe_100x": {
            **stream_big,
            "protocol": "replicate=100 n_files=10",
        },
        "streaming_state_scale": state_scale,
        "noise_canary": canary,
        "sf": sf_val,
    }
    # Round-over-round regression guardrail (VERDICT r9 task 7): compare
    # against the PREVIOUS round's committed summary (HEAD copy — the
    # working-tree file is overwritten below), canary-normalized so host
    # drift doesn't read as plan regressions.
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        from tools.bench_diff import (
            adjudicate_regressions,
            diff_summaries,
            load_prev_committed,
        )

        prev = load_prev_committed(here)
        diff = diff_summaries(prev, full) if prev else {
            "error": "no committed previous summary",
            "n_regressed_beyond_canary": None,
        }
        # Self-adjudication (VERDICT r10 task 1): every flagged row is
        # re-timed in a FRESH session and stamped crowding /
        # confirmed_regression — a crowded suite run can no longer
        # permanently mark the round artifact with phantom regressions.
        if diff.get("regressed"):
            diff = adjudicate_regressions(diff, here)
    except Exception as e:  # the guardrail must never sink the bench
        diff = {"error": str(e)[:200], "n_regressed_beyond_canary": None}
    full["vs_prev_round"] = diff
    print(f"# vs_prev_round: {json.dumps(diff, sort_keys=True)}", file=sys.stderr)

    # Full per-query summary goes to a file (the harness tail-capture window
    # truncates long stdout lines — see BENCH_r03.json `parsed: null`); the
    # printed line stays compact: totals + the slowest 10 queries only.
    with open(os.path.join(here, "bench_summary.json"), "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
    slowest = dict(sorted(times.items(), key=lambda kv: -kv[1])[:10])
    print(
        json.dumps(
            {
                "metric": "batch_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "n_queries": len(times),
                "headline_total": headline_total,
                "n_excluded_streaming": len(excluded),
                "n_excluded_demonstrators": len(demos),
                "streaming_lines_per_sec": stream.get("lines_per_sec"),
                "streaming_lines_per_sec_100x": stream_big.get("lines_per_sec"),
                "streaming_spread": stream.get("spread"),
                "streaming_lines_per_sec_canary_norm": stream.get(
                    "lines_per_sec_canary_norm"
                ),
                "streaming_lines_per_sec_100x_canary_norm": stream_big.get(
                    "lines_per_sec_canary_norm"
                ),
                "n_regressed_beyond_canary": diff.get(
                    "n_regressed_beyond_canary"
                ),
                "n_confirmed_regressions": diff.get(
                    "n_confirmed_regressions"
                ),
                "state_scale_batch_ms": {
                    t: c.get("batch_ms_median")
                    for t, c in state_scale.get("cells", {}).items()
                },
                "regressed_beyond_canary": sorted(
                    (diff.get("regressed") or {}).keys()
                ),
                "noise_canary": canary,
                "full_summary": "bench_summary.json",
                "sf": sf_val,
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
