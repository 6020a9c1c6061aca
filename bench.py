"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line with per-query wall times.

Each query is fully executed via the no-op sink (format("noop")), which
materializes every operator without collect()-ing results to the driver
— the honest way to time a distributed plan.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_streaming_with_debezium_spark.registry import load_all  # noqa: E402
from spark_streaming_with_debezium_spark.session import get_spark  # noqa: E402

#: Headline set: breadth across CDC, relational, window, streaming-equiv,
#: dedup, similarity, text. Pairwise-heavy demos (ngram jaccard,
#: label-blocked cosine) are correctness queries, not headline benches.
HEADLINE = (
    "q1_pricing_summary",
    "cdc_state_rollup",
    "cdc_envelope_roundtrip",
    "join_inner_equi",
    "join_broadcast_dims",
    "join_asof",
    "join_range_band",
    "window_rank_topk_per_group",
    "window_running_frames",
    "stream_tumbling_window",
    "stream_session_window",
    "fn_json_typed_parse",
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "text_quality",
    "text_token_counts",
)

#: Round-2..6 flagship machinery, tracked SEPARATELY from the frozen r1
#: headline set so round-over-round totals stay comparable to
#: BASELINE.md. Same protocol (noop sink, warm run, 3-run median).
EXTENDED = (
    "text_heavy_hitter_tokens",  # MG sketch + tree-reduce + recount
    "text_bm25_topk",  # inverted-index retrieval
    "timeseries_user_similarity",  # prefix-filtered candidate join
    "cdc_scd2_history",  # versioned CDC history
    "corpus_curation_funnel",  # multi-stage curation pipeline
    "cdc_logical_types",  # Debezium wire-format decode (r6)
    "cdc_change_feed",  # time-travel diff incl. state build (r6)
    "graph_pagerank",  # iterative join/agg loop, 3 rounds (r6 cont.)
    "dedup_exact_substring",  # span-level gram dedup (r6 cont.)
    "cdc_temporal_pit_join",  # point-in-time SCD2 lookup (r6 cont.)
    "events_concurrency_peak",  # sweep-line bucketed ledger (r6 cont.)
    "text_bpe_merges",  # BPE vocab induction, 5 merge rounds (r6 cont.)
    "cdc_scd2_incremental",  # 2-batch SCD2 fold incl. state build (r6 cont.)
    "graph_triangle_count",  # oriented adjacency edge-iterator (r6 cont.)
    "events_forecast_ewma",  # literal-weight EWMA backtest (r6 cont.)
    "dq_benford_first_digit",  # forensic leading-digit audit (r6 cont.)
    "rag_chunk_documents",  # zero-shuffle retrieval chunking (r6 cont.)
    "events_changepoint_cusum",  # integer-exact CUSUM argmax (r6 cont.)
    "events_autocorrelation",  # lag-1..7 ACF diagnostics (r6 cont.)
    "events_entropy_profile",  # traffic-mix entropy drift (r6 cont.)
    "multimodal_decode_image",  # real BMP encode→decode via Arrow (r7)
    "multimodal_decode_audio",  # real WAV write→RIFF parse (r7)
    "multimodal_decode_png",  # real zlib PNG encode→decode (r7 cont.)
    "sample_importance_dsir",  # hashed-LM importance weights (r7 cont.)
    "corpus_token_budget_mix",  # budgeted greedy selection (r7 cont.)
    "shuffle_shard_manifest",  # hash-mod shard fan-out (r7 cont.)
    "text_bpe_encode",  # tokenizer apply over the vocab (r7 cont.)
    "events_attribution_last_touch",  # per-user window rollup (r7 cont.)
    "events_time_to_convert",  # conversion-latency cohorts (r7 cont.)
    "stream_trending_topk",  # sliding-window rank face (r7 cont.)
    "pack_efficiency_report",  # packing observability rollup (r7 cont.)
    "orders_cohort_ltv",  # cohort LTV curve, decimal windows (r7 cont.)
    "events_power_users_gini",  # bucketed exact-rank Gini (r7 cont.)
    "quality_perplexity_filter",  # self-LM NLL quality gate (r7 cont.)
    "decontaminate_semantic_cosine",  # embedding decon rung (r7 cont.)
    "multimodal_audio_features",  # real-codec feature extract (r7 cont.)
    "multimodal_image_features",  # gradient/contrast features (r7 cont.)
    "embedding_kmeans_lloyd",  # exact-integer Lloyd k-means (r7 cont.)
    "embedding_hard_negatives",  # in-cell contrastive mining (r7 cont.)
    "embedding_pca_power",  # matrix-free exact power iteration (r7 cont.)
    "embedding_pq_codes",  # product-quantization codebooks (r7 cont.)
    "ann_pq_adc_topk",  # compressed-domain ADC serving scan (r7 cont.)
    "events_drift_psi",  # two-dimension PSI drift monitor (r7 cont.)
    "ann_ivf_pq_topk",  # residual IVF-PQ cell-pruned ADC serving (r7 cont.)
    "rag_rerank_mmr",  # MMR diversified re-rank, two-stage serving (r7 cont.)
    "events_survival_km",  # censoring-aware KM conversion curve (r7 cont.)
    "events_lifecycle_accounting",  # weekly growth-accounting states (r7 cont.)
    "text_pmi_collocations",  # PMI phrase-discovery top-30 (r7 cont.)
    "embedding_drift_cells",  # embedding-space drift monitor (r7 cont.)
    "decontaminate_bitmap_prefilter",  # Bloom-pattern map-side prune (r7 cont.)
    "supplier_pareto_frontier",  # skyline via bucketed dominance sweep (r7 cont.)
    "events_funnel_time_constrained",  # 72h-windowed funnel chain (r7 cont.)
    "join_asof_nearest",  # bidirectional nearest as-of join (r7 cont.)
    "text_keyphrase_rake",  # RAKE keyphrase mining top-20 (r7 cont.)
    "events_pattern_decline_rebound",  # CEP-style lag-chain pattern (r7 cont.)
    "sample_balanced_classes",  # deterministic class-balanced downsample (r7 cont.)
    "ann_nprobe_recall_curve",  # measured IVF recall-vs-nprobe curve (r7 cont.)
    "orders_open_backlog_daily",  # sweep-line order backlog curve (r7 cont.)
    "graph_connected_components",  # fixed-round min-label CC (r8)
    "sketch_cms_heavy_hitters",  # fully-oracled count-min sketch (r8)
    "sample_systematic_pps",  # integer-exact weighted sampling (r8)
    "dedup_cdc_chunks",  # content-defined chunk dedup (r8)
    "dedup_neardup_components",  # transitive near-dup clusters (r8)
    "agg_weighted_median",  # exact weighted median, skew-safe cumsum (r8)
    "events_theilsen_trend",  # robust pairwise-slope trend (r8)
    "dedup_containment",  # directed shingle containment (r8)
    "ann_matryoshka_recall",  # prefix-dim serving recall curve (r9)
    "dedup_substring_spans",  # maximal duplicated-span coalescing (r10)
    "join_asof_tolerance",  # bounded-staleness as-of join (r11)
    "ann_range_search",  # cell-pruned exact eps-ball retrieval (r11)
    "join_asof_salted",  # skew-decomposed as-of, two-pass prefix scan (r12)
    "ann_filtered_topk",  # predicate-pushed filtered ANN serving (r12)
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # retainedJobs raised so statusTracker().getJobIdsForGroup can never
    # silently truncate a per-query job count (ADVICE r11): the
    # AppStatusStore drops jobs past spark.ui.retainedJobs (default
    # 1000) even with the UI disabled, and a truncated count would
    # corrupt the "job count is a pure plan property" attribution.
    spark = get_spark("bench", extra_conf={"spark.ui.retainedJobs": "1000000"})
    spark.sparkContext.setLogLevel("ERROR")
    queries = load_all()

    # Median of 3 timed runs per query (after one warm run): round-over-
    # round comparisons shouldn't be dominated by GC / JIT noise, which
    # the round-1 single-shot numbers were (±20% run-to-run).
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    # Calibration rows (VERDICT r8 item 2): fixed reference work whose
    # cost is INDEPENDENT of any query change, so future rounds can
    # tell sandbox interference from real regressions. Two probes —
    # a pure-JVM CPU burn (SF-independent, saturates all cores) and a
    # fixed parquet scan-aggregate — each warm + median-of-3, sampled
    # BEFORE and AFTER the query sets to bracket the run. If a round's
    # per-query rows look slow but its calibration rows match the
    # previous round's, the regression is real; if calibration moved
    # too, it's the box.
    from pyspark.sql import functions as _F

    def _median_timed(fn, runs=n_runs):
        fn()  # warm
        ts = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        ts.sort()
        return round(ts[len(ts) // 2], 3), round(ts[-1] - ts[0], 3)

    def _calib_cpu():
        spark.range(0, 200_000_000, 1, 32).select(
            _F.sum(_F.col("id") % 7).alias("s")
        ).write.format("noop").mode("overwrite").save()

    def _calib_scan():
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).agg(
            _F.count(_F.lit(1)), _F.sum("l_quantity")
        ).write.format("noop").mode("overwrite").save()

    # Write-path probe: the state-table operators (CDC merge, SCD2
    # fold) are bounded by small-parquet WRITE latency, which the CPU
    # and read probes cannot see (r9 diagnosis: scd2/triangle rows ran
    # 6s vs r7's 0.36-1.6s while warm 8-file writes cost 0.4-0.6s each
    # — environmental write latency, not a plan change).
    import shutil as _shutil
    import tempfile as _tempfile

    _wdir = _tempfile.mkdtemp(prefix="bench_wcal_")
    _wdf = spark.range(0, 100_000).select(
        "id", (_F.col("id") % 97).alias("k")
    )

    def _calib_write():
        _wdf.repartition(8).write.mode("overwrite").parquet(
            os.path.join(_wdir, "t")
        )

    # Per-job scheduling probe: many extended queries are MANY-SMALL-
    # JOBS shaped (iterative localCheckpoints, state folds, driver
    # loops); their wall time is jobs × per-job latency. Healthy
    # local[32] runs ~10-30 ms/job; r9 measured 146 ms/job on this box
    # — a 30-job query pays ~4.5 s of pure scheduling, which is the
    # entire r8→r9 "regression" on those rows (code unchanged).
    def _calib_job():
        for _ in range(10):
            spark.range(1).count()

    calib_cpu_pre, calib_cpu_pre_spread = _median_timed(_calib_cpu)
    calib_scan_pre, calib_scan_pre_spread = _median_timed(_calib_scan)
    calib_write_pre, calib_write_pre_spread = _median_timed(_calib_write)
    calib_job_pre, _ = _median_timed(_calib_job)

    # Per-row stall attribution (VERDICT r13 item 8): the slowest
    # extended rows get the IVF bracket treatment — a per-job latency
    # sample immediately before and after the row's timed runs, so a
    # future verdict can separate box weather from regressions PER ROW
    # (the session-start stall lands on whichever rows run first).
    PROBED = {
        "cdc_scd2_incremental",
        "graph_triangle_count",
        "graph_pagerank",
        "dedup_neardup_components",
        "timeseries_user_similarity",
        "cdc_change_feed",
    }
    row_probes: dict[str, dict[str, float]] = {}

    def bench_set(names, group_prefix):
        timings: dict[str, float] = {}
        spreads: dict[str, float] = {}
        first_run: dict[str, float] = {}
        jobs: dict[str, int] = {}
        sc = spark.sparkContext
        for name in names:
            if name in PROBED:
                probe_pre, _ = _median_timed(_calib_job, runs=1)
            q = queries[name]
            # The first (warm-up) run is recorded separately: for the
            # fingerprint-cached serving faces (IVF/Lloyd/PQ consumers)
            # it carries the COLD build, so cold-vs-warm is visible per
            # row (VERDICT r9 item 4) instead of vanishing into a
            # discarded warm-up.
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            first_run[name] = round(time.perf_counter() - t0, 3)
            runs = []
            for i in range(n_runs):
                # The LAST timed run carries a job group so the per-
                # query JOB COUNT lands next to the wall time (VERDICT
                # r10 item 4): job count is a pure plan property this
                # box's scheduling-latency swings cannot touch, so a
                # wall regression with a flat job count and a moved
                # job_ms calibration is box noise, not a plan change.
                group = f"{group_prefix}_{name}" if i == n_runs - 1 else None
                if group:
                    sc.setJobGroup(group, group)
                t0 = time.perf_counter()
                try:
                    q.fn(spark, sf_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
                finally:
                    runs.append(time.perf_counter() - t0)
                    if group:
                        sc.setJobGroup("", "")
            jobs[name] = len(
                sc.statusTracker().getJobIdsForGroup(f"{group_prefix}_{name}")
            )
            runs.sort()
            timings[name] = round(runs[len(runs) // 2], 3)
            spreads[name] = round(runs[-1] - runs[0], 3)
            if name in PROBED:
                probe_post, _ = _median_timed(_calib_job, runs=1)
                row_probes[name] = {
                    "job_ms_pre": round(probe_pre * 100, 1),
                    "job_ms_post": round(probe_post * 100, 1),
                }
        return timings, spreads, first_run, jobs

    timings, spreads, first_runs, head_jobs = bench_set(HEADLINE, "bh")
    ext_timings, ext_spreads, ext_first_runs, ext_jobs = bench_set(EXTENDED, "bx")

    # Serving-cache visibility (VERDICT r9 item 4): which in-process
    # fingerprint caches were populated during this bench, so a warm
    # row that regressed can be distinguished from a cold build that
    # was mislabelled warm.
    from spark_streaming_with_debezium_spark.llm.cluster import _LLOYD_CACHE
    from spark_streaming_with_debezium_spark.llm.similarity import _CENTROID_CACHE

    serving_caches = {
        "lloyd_cache_entries": len(_LLOYD_CACHE),
        "centroid_cache_entries": len(_CENTROID_CACHE),
    }

    # Volume census for the most expensive extended row (VERDICT r9
    # item 3): candidate pairs + verify rows, recorded next to the
    # timing so wall-clock moves can be attributed to data volume.
    from spark_streaming_with_debezium_spark.operators.more_relational import (
        timeseries_similarity_census,
    )

    ts_census = timeseries_similarity_census(spark, sf_dir)

    # IVF amortization split: ann_ivf_topk above pays the KMeans fit
    # every run; a served index pays it ONCE. Time the persisted-index
    # build separately from query-only latency against it.
    import shutil
    import tempfile

    from spark_streaming_with_debezium_spark.llm.ivf_index import IvfIndex
    from spark_streaming_with_debezium_spark.llm.similarity import N_QUERIES
    from spark_streaming_with_debezium_spark.sources.tables import load_table

    idx_dir = tempfile.mkdtemp(prefix="ivf_bench_")
    try:
        # Bracketing probes (VERDICT r11 item 3): the IVF build/serve
        # scalars are single measurements (not query-set rows with
        # their own calibration neighbors), so a mid-measurement box
        # stall was previously attributable only by inference. Same
        # pattern that vindicated the CDC merge rows in r11: sample
        # per-job scheduling latency and small-write latency
        # immediately before and after, so any driver-vs-solo gap ≥ 2×
        # is attributable from the artifact alone.
        ivf_probe_job_pre, _ = _median_timed(_calib_job, runs=1)
        ivf_probe_write_pre, _ = _median_timed(_calib_write, runs=1)
        idx = IvfIndex(spark, idx_dir)
        emb = load_table(spark, sf_dir, "embeddings")
        t0 = time.perf_counter()
        idx.build(emb)
        ivf_build = round(time.perf_counter() - t0, 3)
        ivf_probe_job_mid, _ = _median_timed(_calib_job, runs=1)
        qs = emb.filter(emb.vec_id < N_QUERIES)
        idx.search(qs).write.format("noop").mode("overwrite").save()  # warm
        runs = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            idx.search(qs).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        runs.sort()
        ivf_query = round(runs[len(runs) // 2], 3)
        ivf_probe_job_post, _ = _median_timed(_calib_job, runs=1)
        ivf_probe_write_post, _ = _median_timed(_calib_write, runs=1)
        ivf_probes = {
            "job_ms_pre": round(ivf_probe_job_pre * 100, 1),
            "job_ms_mid": round(ivf_probe_job_mid * 100, 1),
            "job_ms_post": round(ivf_probe_job_post * 100, 1),
            "write_pre_sec": ivf_probe_write_pre,
            "write_post_sec": ivf_probe_write_post,
        }
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    # CDC merge throughput: 1M-event parse→compact→merge passes (the
    # reference's formatter is a single-threaded driver loop; this is
    # the number that shows the distributed path). Same protocol as the
    # query timings — warm pass + median of 3 — because a single pass
    # is hostage to sandbox interference (measured 21k..328k ev/s for
    # IDENTICAL work in one session; the r6→r7 "regression" 310k→279k
    # was this noise, VERDICT r7 item 8).
    from perf.cdc_throughput import measure as cdc_measure

    cdc_n = int(os.environ.get("SPARK_GRAFT_CDC_EVENTS", "1000000"))
    cdc_measure(spark, min(cdc_n, 100_000))  # warm
    cdc_runs = sorted(
        (cdc_measure(spark, cdc_n) for _ in range(n_runs)),
        key=lambda r: r["events_per_sec"],
    )
    cdc_tp = cdc_runs[len(cdc_runs) // 2]
    cdc_tp["events_per_sec_spread"] = (
        cdc_runs[-1]["events_per_sec"] - cdc_runs[0]["events_per_sec"]
    )

    # Z-order data skipping, measured (not just unit-tested): lay out
    # lineitem z-ordered on (l_orderkey, l_partkey) vs hash-unclustered
    # at the same file count, then (a) count files a planner would scan
    # for a 5%-per-dimension predicate box from parquet footer stats,
    # and (b) time the actual box-filtered aggregate on each layout.
    from pyspark.sql import functions as F

    from spark_streaming_with_debezium_spark.sources.tables import load_table
    from spark_streaming_with_debezium_spark.sources.zorder import (
        files_overlapping_box,
        write_zordered,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    s = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"),
        F.min("l_partkey"), F.max("l_partkey"),
    ).collect()[0]
    box = {
        "l_orderkey": (
            int(s[0] + 0.40 * (s[1] - s[0])),
            int(s[0] + 0.45 * (s[1] - s[0])),
        ),
        "l_partkey": (
            int(s[2] + 0.40 * (s[3] - s[2])),
            int(s[2] + 0.45 * (s[3] - s[2])),
        ),
    }
    zdir = tempfile.mkdtemp(prefix="zorder_bench_")
    udir = tempfile.mkdtemp(prefix="unclustered_bench_")
    try:
        t0 = time.perf_counter()
        write_zordered(li, zdir, "l_orderkey", "l_partkey", n_files=64)
        z_build = round(time.perf_counter() - t0, 3)
        li.repartition(64).write.mode("overwrite").parquet(udir)
        z_files, z_total = files_overlapping_box(
            zdir, "l_orderkey", *box["l_orderkey"], "l_partkey", *box["l_partkey"]
        )
        u_files, u_total = files_overlapping_box(
            udir, "l_orderkey", *box["l_orderkey"], "l_partkey", *box["l_partkey"]
        )

        def box_scan(path):
            df = spark.read.parquet(path)
            runs = []
            for _ in range(n_runs + 1):  # first run = warm
                t0 = time.perf_counter()
                (
                    df.filter(
                        F.col("l_orderkey").between(*box["l_orderkey"])
                        & F.col("l_partkey").between(*box["l_partkey"])
                    )
                    .agg(F.sum("l_extendedprice"), F.count("*"))
                    .write.format("noop").mode("overwrite").save()
                )
                runs.append(time.perf_counter() - t0)
            return round(sorted(runs[1:])[len(runs[1:]) // 2], 3)

        zorder = {
            "build_sec": z_build,
            "files_scanned": z_files,
            "files_total": z_total,
            "unclustered_files_scanned": u_files,
            "unclustered_files_total": u_total,
            "box_scan_sec": box_scan(zdir),
            "unclustered_box_scan_sec": box_scan(udir),
        }
    finally:
        import shutil

        shutil.rmtree(zdir, ignore_errors=True)
        shutil.rmtree(udir, ignore_errors=True)

    calib_cpu_post, calib_cpu_post_spread = _median_timed(_calib_cpu)
    calib_write_post, calib_write_post_spread = _median_timed(_calib_write)
    calib_job_post, _ = _median_timed(_calib_job)
    _shutil.rmtree(_wdir, ignore_errors=True)
    calibration = {
        "cpu_pre_sec": calib_cpu_pre,
        "cpu_pre_spread": calib_cpu_pre_spread,
        "cpu_post_sec": calib_cpu_post,
        "cpu_post_spread": calib_cpu_post_spread,
        "scan_pre_sec": calib_scan_pre,
        "scan_pre_spread": calib_scan_pre_spread,
        "write_pre_sec": calib_write_pre,
        "write_pre_spread": calib_write_pre_spread,
        "write_post_sec": calib_write_post,
        "write_post_spread": calib_write_post_spread,
        "job_ms_pre": round(calib_job_pre * 100, 1),
        "job_ms_post": round(calib_job_post * 100, 1),
    }

    # Scheduling-predicted floor per query: jobs × measured per-job
    # latency (mean of the pre/post calibration probes). On a healthy
    # box (10-30 ms/job) this is negligible next to real work; on a
    # contended box (r10 driver: 176 ms/job) it EXPLAINS most of the
    # wall of many-small-jobs rows — regressions are judged on the
    # (wall, jobs, predicted) triple, not wall alone.
    job_ms = (calibration["job_ms_pre"] + calibration["job_ms_post"]) / 2
    head_predicted = {
        n: round(j * job_ms / 1000, 3) for n, j in head_jobs.items()
    }
    ext_predicted = {
        n: round(j * job_ms / 1000, 3) for n, j in ext_jobs.items()
    }

    total = round(sum(timings.values()), 3)
    # Guard the job counts against status-store truncation (ADVICE
    # r11): with retainedJobs at 1e6 this cannot fire, but if someone
    # lowers the conf the undercount must be loud, not silent.
    retained = int(spark.conf.get("spark.ui.retainedJobs"))
    worst_jobs = max([*head_jobs.values(), *ext_jobs.values()])
    assert worst_jobs < retained // 2, (
        f"per-query job count {worst_jobs} approaches "
        f"spark.ui.retainedJobs={retained}; counts may be truncated"
    )
    payload = {
                "metric": "headline_queries_total_wall",
                "value": total,
                # Contention-free duals of the wall totals (VERDICT r11
                # item 4): jobs × measured per-job latency summed over
                # the same query sets, so the 2x gate can be judged on
                # a number box stalls cannot inflate, without
                # reconstructing it from the per-query columns.
                "headline_predicted_total": round(
                    sum(head_predicted.values()), 3
                ),
                "extended_predicted_total": round(
                    sum(ext_predicted.values()), 3
                ),
                "unit": "sec",
                "queries": timings,
                "spread": spreads,
                "extended_queries": ext_timings,
                "extended_spread": ext_spreads,
                "extended_total": round(sum(ext_timings.values()), 3),
                "first_run": first_runs,
                "extended_first_run": ext_first_runs,
                "jobs": head_jobs,
                "extended_jobs": ext_jobs,
                "predicted_sec": head_predicted,
                "extended_predicted_sec": ext_predicted,
                "job_ms_used": round(job_ms, 1),
                "row_probes": row_probes,
                "serving_caches": serving_caches,
                "timeseries_census": ts_census,
                "runs_per_query": n_runs,
                "ivf_index_build_sec": ivf_build,
                "ivf_query_only_sec": ivf_query,
                "ivf_probes": ivf_probes,
                "cdc_merge_events_per_sec": cdc_tp["events_per_sec"],
                "cdc_merge_events_per_sec_spread": cdc_tp[
                    "events_per_sec_spread"
                ],
                "cdc_merge_n_events": cdc_tp["n_events"],
                "cdc_merge_jobs": cdc_tp.get("merge_jobs"),
                "cdc_merge_tasks": cdc_tp.get("merge_tasks"),
                "cdc_state_bytes_written": cdc_tp.get("state_bytes_written"),
                # Full per-run distribution: a big spread is only
                # interpretable if each run's wall time is visible next
                # to the (plan-stable) job count — e.g. 3 runs at 8 jobs
                # with one 3× wall outlier is box noise, not a plan
                # regression.
                "cdc_merge_runs": [
                    {
                        "events_per_sec": r["events_per_sec"],
                        "wall_sec": r["wall_sec"],
                        "merge_jobs": r.get("merge_jobs"),
                        "merge_tasks": r.get("merge_tasks"),
                        "probe_json_sec": r.get("probe_json_sec"),
                        "probe_write_sec": r.get("probe_write_sec"),
                        "probe_json_post_sec": r.get("probe_json_post_sec"),
                        "probe_write_post_sec": r.get("probe_write_post_sec"),
                    }
                    for r in cdc_runs
                ],
                "zorder": zorder,
                "calibration": calibration,
                "sf": sf,
    }
    print(json.dumps(payload))
    # Also persist the result next to the repo root: driver-captured
    # BENCH tails are sometimes truncated progress-bar noise, so the
    # canonical machine-readable record of each run lives on disk and
    # round-over-round deltas never need tail archaeology.
    # $SPARK_GRAFT_BENCH_OUT lets the driver pick the recording path
    # directly (VERDICT r13 item 4: the r12 BENCH capture parsed as
    # null despite rc 0 — stdout capture of a ~10 KB single line is
    # not a robust contract; a file is).
    out_paths = [
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_out.json")
    ]
    if os.environ.get("SPARK_GRAFT_BENCH_OUT"):
        out_paths.append(os.environ["SPARK_GRAFT_BENCH_OUT"])
    for out_path in out_paths:
        try:
            with open(out_path, "w") as f:
                json.dump(payload, f)
        except OSError:
            pass  # a read-only checkout must not fail the bench
    spark.stop()


if __name__ == "__main__":
    main()
