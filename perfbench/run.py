"""CDC benchmark: one run of one workload, printed as one JSON line.

    python3 perfbench/run.py --workload backfill|stream \
        --seed N --seconds S --trace 0|1 [--small]

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer ones from a traced run.
``--small`` shrinks every input for the benchmark's own tests. See
README.md in this directory for what each workload and metric is.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def metric_units(kind: str) -> dict[str, str]:
    """Metric name → unit for ``end_to_end`` or ``per_layer``, as
    BENCHMARK.json at the repository root declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["backfill", "stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--small", action="store_true", help="tiny inputs, same checks")
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def per_layer(r, totals) -> dict[str, float]:
    """The traced run's per-layer metrics from its spans, the counting
    StateFS, the stream's progress reports and the event log."""
    import workloads
    from tracing import JobTotals

    t = r.traced
    spans = t["tracer"].spans

    def named(name):
        return [s for s in spans if s.name == name]

    def jt(s):
        return totals.get(s.group, JobTotals())

    def total(name, attr):
        return sum(getattr(jt(s), attr) for s in named(name))

    def count(name, key):
        return sum(s.counts.get(key, 0) for s in named(name))

    def ms(name):
        return sum(s.ms for s in named(name))

    def jobs_per_call(name):
        return workloads.p50([jt(s).jobs for s in named(name)])

    prog = workloads.progress_stats(t["progress"], t.get("steady_batches"))
    init = named("initial_load")
    return {
        "parse_ms": ms("parse"), "parse_cpu_ms": total("parse", "cpu_ms"),
        "parse_rows": count("parse", "rows"),
        "compact_ms": ms("compact"), "compact_cpu_ms": total("compact", "cpu_ms"),
        "compact_rows_in": count("compact", "rows_in"),
        "compact_rows_out": count("compact", "rows_out"),
        "compact_shuffle_bytes": total("compact", "shuffle_bytes"),
        "merge_ms": ms("merge"), "merge_jobs": jobs_per_call("merge"),
        "merge_cpu_ms": total("merge", "cpu_ms"),
        "merge_buckets_rewritten": count("merge", "buckets_rewritten"),
        "merge_files_written": count("merge", "files_written"),
        "merge_bytes_written": count("merge", "bytes_written"),
        "fs_ops": t["fs"].ops, "fs_ms": t["fs"].seconds * 1000,
        **prog,
        "initial_load_ms": init[0].ms if init else t.get("initial_load_ms", 0.0),
        "lookup_jobs": jobs_per_call("lookup"),
        "lookup_buckets_read": total("lookup", "partitions_read"),
        "scan_jobs": jobs_per_call("scan"),
        "scan_files_read": total("scan", "files_read"),
        "scan_cpu_ms": total("scan", "cpu_ms"),
        "gc_ms": totals["*"].gc_ms, "spill_bytes": totals["*"].spill_bytes,
        "trace_overhead_ms": t["overhead_ms"],
        "generator_late_ms": t.get("late_ms", 0.0),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import spark_streaming_with_debezium_spark as engine

    if os.path.dirname(os.path.dirname(os.path.abspath(engine.__file__))) != ROOT:
        raise SystemExit(f"engine imported from {engine.__file__}, not from {ROOT}")
    import workloads
    from tracing import read_event_log

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    cache = os.path.join(HERE, ".cache")
    r = workloads.Run(args, work, cache)
    try:
        os.makedirs(os.path.join(work, "tmp"))
        os.makedirs(cache, exist_ok=True)
        # Everything the run writes, the JVM's and Python's temp files
        # too, stays inside the checkout.
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
        try:
            workloads.WORKLOADS[args.workload](r)
        finally:
            if r.spark is not None:
                workloads.stop_session(r.spark)
        if args.trace:
            spans = os.path.join(HERE, ".traces")
            os.makedirs(spans, exist_ok=True)
            r.traced["tracer"].dump(
                os.path.join(spans, f"{args.workload}-seed{args.seed}.jsonl"))
            values = per_layer(r, read_event_log(os.path.join(work, "eventlog")))
            units = metric_units("per_layer")
        else:
            values = r.metrics
            units = metric_units("end_to_end")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in r.problems:
        print(f"problem: {p}", file=sys.stderr)
    result = {
        "correct": not r.problems,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
