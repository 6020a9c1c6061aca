"""Per-query Spark JOB-COUNT census — the noise-free twin of wall time.

Round-9 diagnosis: this box's per-job scheduling latency swings
10-200 ms (bench.py's ``job_ms`` calibration probe), so MANY-SMALL-JOBS
queries (iterative localCheckpoints, state folds, driver-loop
iterates) swing 10-40× in wall clock with ZERO code change. Job count
is the metric the environment cannot touch: it is a pure function of
the plan (modulo small AQE variation), and at 100 TB it is also the
right cost model for driver round-trips. This harness runs each named
query inside a job group and reports how many Spark jobs it schedules
— regressions here are real code regressions even when wall time says
nothing.

Usage:
    python perf/job_census.py                      # default watch list
    python perf/job_census.py name1 name2 ...
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_streaming_with_debezium_spark.registry import load_all  # noqa: E402
from spark_streaming_with_debezium_spark.session import get_spark  # noqa: E402

#: The many-small-jobs suspects: iterative / stateful / driver-loop
#: queries whose wall time tracks per-job latency, not data volume.
WATCH = (
    "ann_matryoshka_recall",
    "embedding_hard_negatives",
    "dedup_neardup_components",
    "dedup_clusters",
    "dedup_clusters_ml",
    "dedup_cluster_keep_best",
    "split_leakage_safe_groups",
    "graph_connected_components",
    "graph_triangle_count",
    "graph_pagerank",
    "cdc_scd2_incremental",
    "dedup_cdc_chunks",
    "embedding_pca_power",
    "embedding_kmeans_lloyd",
    "ann_ivf_pq_topk",
    "ann_ivf_topk",
    "timeseries_user_similarity",
)


def count_jobs(spark, fn, sf_dir: str, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    return len(tracker.getJobIdsForGroup(group))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or list(WATCH)
    spark = get_spark("job_census")
    spark.sparkContext.setLogLevel("ERROR")
    queries = load_all()
    out = {}
    for i, name in enumerate(names):
        fn = queries[name].fn
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm caches
        out[name] = count_jobs(spark, fn, sf_dir, f"census_{i}_{name}")
    print(json.dumps({"metric": "job_census", "sf_dir": sf_dir, "jobs": out}))
    spark.stop()


if __name__ == "__main__":
    main()
