"""The benchmark workloads, driven through the engine's public entry
points only: ``cdc.run.run`` (initial mode), ``cdc.pipeline.initial_load``
/ ``run_cdc_stream``, ``ParquetStateTable.lookup`` / ``read`` and, in the
traced run, ``parse_envelope``, ``compact_latest`` and
``ParquetStateTable.merge`` one at a time.

Every run builds its own state table with the code under test and checks
it, and every lookup and scan, against :class:`gen.Model`.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass

import gen
from tracing import CountingFS, Tracer

from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_streaming_with_debezium_spark.cdc import run as cdc_run
from spark_streaming_with_debezium_spark.cdc.compact import compact_latest
from spark_streaming_with_debezium_spark.cdc.envelope import TableSpec, parse_envelope
from spark_streaming_with_debezium_spark.cdc.merge import ParquetStateTable
from spark_streaming_with_debezium_spark.cdc.pipeline import (
    initial_load,
    project_kafka,
    run_cdc_stream,
)
from spark_streaming_with_debezium_spark.session import get_spark
from spark_streaming_with_debezium_spark.storage.fs import LocalFS

# Fixed session settings: one process, two local cores, a heap sized
# for a 15 GB host (get_spark would default to 48g).
CORES = 2
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "4g"
N_BUCKETS = 64
SPEC = TableSpec(
    name="customers",
    key_cols=("id",),
    value_schema=T.StructType(
        [T.StructField("id", T.LongType())]
        + [T.StructField(c, T.StringType()) for c in gen.COLUMNS[1:]]
    ),
    topic=gen.TOPIC,
)
SEQ = ("partition", "offset")
DATA_COLS = [c for c in gen.COLUMNS if c != "id"]
HISTORIC_TS_MS = 1_600_000_000_000  # source.ts_ms of the cached backfill log
LOOKUP_KEYS = 10
T0 = time.perf_counter()


@dataclass(frozen=True)
class Size:
    # backfill: snapshot rows, change-log batches and events per batch
    bf_rows: int
    bf_batches: int
    bf_batch_events: int
    # stream: resident rows, events per tick, tick length, warm-up
    st_rows: int
    st_per_tick: int
    st_tick_s: float
    st_warmup_s: float
    # (lookups, scans) after each backfill round and after the stream
    bf_reads: tuple[int, int]
    st_reads: tuple[int, int]


FULL = Size(15_000, 2, 10_000, 20_000, 50, 0.25, 4.0, (3, 3), (3, 3))
SMALL = Size(2_000, 1, 1_000, 2_000, 10, 0.25, 2.0, (1, 1), (1, 1))


class Run:
    """What one invocation measures: timings, counters, checks."""

    def __init__(self, args, work: str, cache: str):
        self.args = args
        self.size = SMALL if args.small else FULL
        self.work = work
        self.cache = cache
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, float] = {}
        self.spark = None
        self.t_setup0 = 0.0

    def start(self):
        """Start the Spark session; set-up time counts from here. Inputs
        are generated or read from the cache before this."""
        self.log("inputs ready")
        self.t_setup0 = time.perf_counter()
        self.spark = start_session(self.work, bool(self.args.trace))
        self.log("session started")
        return self.spark

    def tracer(self) -> Tracer:
        return Tracer(self.spark)

    def log(self, what: str) -> None:
        print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {what}", file=sys.stderr, flush=True)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    def attempt(self, fn, *args):
        """One counted operation; an exception counts as a failed one."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - a failed operation is reported, not fatal
            self.failed += 1
            traceback.print_exc()
            return None


# ---------------------------------------------------------------- session


def start_session(work: str, trace: bool):
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        "perfbench", master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)


# ----------------------------------------------------------------- inputs


def _gen_version() -> str:
    with open(gen.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:10]


def write_lines(path: str, lines: list[str], mtime: float | None = None) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, path)


CACHE_KEEP = 24  # about 3 GB at most


def cached(cache: str, key: str, build) -> str:
    """Directory of seeded envelope files, built once per key. Only these
    files are reused across runs; the oldest entries are evicted."""
    path = os.path.join(cache, f"{key}-{_gen_version()}")
    if os.path.exists(os.path.join(path, "DONE")):
        os.utime(path)
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    entries = sorted(
        (os.path.getmtime(os.path.join(cache, e)), e)
        for e in os.listdir(cache) if ".tmp" not in e
    )
    for _, e in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache, e), ignore_errors=True)
    return path


def render_all(events, ts_ms: int, schema: bool) -> list[str]:
    return [line for ev in events for line in gen.render(ev, ts_ms, schema)]


def n_envelopes(events) -> int:
    return sum(2 if ev.op == "d" else 1 for ev in events)


# ------------------------------------------------------------ shared parts


def state_table(spark, path: str, fs=None) -> ParquetStateTable:
    return ParquetStateTable(spark, path, list(SPEC.key_cols), N_BUCKETS, fs=fs)


def raw_reader(spark):
    return spark.read.schema(cdc_run.RAW_SCHEMA)


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def parquet_files(path: str) -> dict[str, int]:
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_ino
        for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    }


def check_state(r: Run, state: ParquetStateTable, model: gen.Model, what: str) -> None:
    rows = {tuple(x) for x in state.read().select(*gen.COLUMNS).collect()}
    want = set(model.rows.values())
    r.check(
        rows == want,
        f"{what}: state differs from replay model "
        f"({len(rows - want)} unexpected, {len(want - rows)} missing rows)",
    )


def scan_query(state: ParquetStateTable):
    """The analytic read: per e-mail domain, rows and column sums over
    every column of the state table."""
    return state.read().groupBy(
        F.substring_index("email", "@", -1).alias("domain")
    ).agg(
        F.count("*"), F.sum("id"), F.sum(F.length("first_name")),
        F.sum(F.length("last_name")), F.sum(F.length("email")),
    )


def lookup_keys(model: gen.Model, rng: random.Random, gone: list[int]) -> list[int]:
    """Mostly live keys, plus deleted and never-inserted ones whose
    absence the lookup must report."""
    live = rng.sample(sorted(model.rows), min(LOOKUP_KEYS - 3, len(model.rows)))
    dead = [k for k in gone if k not in model.rows][-2:]
    return live + dead + [max(model.rows, default=0) + 10_000 + rng.randrange(1000)]


class Reads:
    """Timed point lookups and scans, each checked against the model."""

    def __init__(self, r: Run, spark, tracer: Tracer | None):
        self.r, self.spark, self.tracer = r, spark, tracer
        self.lookup_ms: list[float] = []
        self.scan_ms: list[float] = []

    def lookup(self, state: ParquetStateTable, model: gen.Model, keys: list[int]) -> None:
        keys_df = self.spark.createDataFrame([(k,) for k in keys], "id long")

        def op():
            t0 = time.perf_counter()
            rows = state.lookup(keys_df).select(*gen.COLUMNS).collect()
            self.lookup_ms.append((time.perf_counter() - t0) * 1000)
            return rows

        if self.tracer is None:
            rows = self.r.attempt(op)
        else:
            with self.tracer.span("lookup"):
                rows = self.r.attempt(op)
        if rows is not None:
            want = {model.rows[k] for k in keys if k in model.rows}
            self.r.check({tuple(x) for x in rows} == want,
                         f"lookup {keys} differs from replay model")

    def scan(self, state: ParquetStateTable, model: gen.Model) -> None:
        def op():
            t0 = time.perf_counter()
            rows = scan_query(state).collect()
            self.scan_ms.append((time.perf_counter() - t0) * 1000)
            return rows

        if self.tracer is None:
            rows = self.r.attempt(op)
        else:
            with self.tracer.span("scan"):
                rows = self.r.attempt(op)
        if rows is not None:
            got = {x[0]: tuple(x[1:]) for x in rows}
            self.r.check(got == model.scan(), "scan differs from replay model")

    def round(self, state, model, rng, gone, lookups: int, scans: int) -> None:
        for _ in range(lookups):
            self.lookup(state, model, lookup_keys(model, rng, gone))
        for _ in range(scans):
            self.scan(state, model)


def layered_apply(tracer: Tracer, raw, state: ParquetStateTable, batch: int) -> None:
    """batch_apply's three layers one at a time, each forced before the
    next, so each span holds only its own layer's work."""
    with tracer.span("parse", batch) as sp:
        parsed = parse_envelope(project_kafka(raw), SPEC, seq_cols=SEQ).cache()
        n_parsed = sp.counts["rows"] = parsed.count()
    with tracer.span("compact", batch) as sp:
        latest = compact_latest(parsed, SPEC.key_cols, order_cols=SEQ).cache()
        sp.counts["rows_in"] = n_parsed
        sp.counts["rows_out"] = latest.count()
    before = parquet_files(state.path)
    with tracer.span("merge", batch) as sp:
        state.merge(latest, data_cols=DATA_COLS)
    after = parquet_files(state.path)
    new = [p for p, ino in after.items() if before.get(p) != ino]
    gone = [p for p in before if p not in after]
    sp.counts["files_written"] = len(new)
    sp.counts["bytes_written"] = sum(os.path.getsize(p) for p in new)
    sp.counts["buckets_rewritten"] = len({os.path.dirname(p) for p in new + gone})
    latest.unpersist()
    parsed.unpersist()


# --------------------------------------------------------- stream plumbing


def committed_batches(ckpt: str) -> tuple[dict[str, set[int]], dict[int, float]]:
    """From a file-source checkpoint: input file → batch ids that read it
    (entries of the source log and its ``.compact`` files carry
    ``batchId``), and batch id → commit time (mtime of its commit file)."""
    src = os.path.join(ckpt, "sources", "0")
    files: dict[str, set[int]] = {}
    for name in os.listdir(src):
        if name.startswith("."):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f.read().splitlines()[1:]:
                e = json.loads(line)
                path = e["path"].removeprefix("file://")
                files.setdefault(os.path.basename(path), set()).add(int(e["batchId"]))
    commits = {
        int(n): os.path.getmtime(os.path.join(ckpt, "commits", n))
        for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()
    }
    return files, commits


def batch_of(files: dict[str, set[int]], name: str) -> int | None:
    ids = files.get(name, set())
    return next(iter(ids)) if len(ids) == 1 else None


def check_batches(r: Run, files: dict[str, set[int]], commits: dict[int, float],
                  expected: list[str]) -> None:
    bad = [f for f in expected if len(files.get(f, ())) != 1
           or next(iter(files[f])) not in commits]
    r.check(not bad, f"{len(bad)} input files not in exactly one committed batch: {bad[:3]}")
    extra = set(files) - set(expected)
    r.check(not extra, f"batches read unexpected files: {sorted(extra)[:3]}")


def progress_stats(progress: list[dict], batch_ids: set[int] | None = None) -> dict:
    rows = [p for p in progress if p["numInputRows"] > 0
            and (batch_ids is None or p["batchId"] in batch_ids)]
    add = [p["durationMs"]["addBatch"] for p in rows]
    over = [p["durationMs"]["triggerExecution"] - p["durationMs"]["addBatch"] for p in rows]
    return {
        "batch_ms": statistics.median(add) if add else 0.0,
        "trigger_overhead_ms": statistics.median(over) if over else 0.0,
        "batch_rows": statistics.median(p["numInputRows"] for p in rows) if rows else 0,
        "batches": len(rows),
    }


def p50(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# ------------------------------------------------------------ host speed

# This 4-vCPU VM shares its hardware: in its loaded state the same work
# takes 1.9-2.7 times longer, for minutes to hours, and the state can
# change between two runs. So every run also times a fixed calibration
# job, plain Spark with none of the engine's code, and reports each
# timing at reference speed: scaled by CAL_REF_MS over the run's median
# calibration time, so a host twice as slow leaves the figures as they
# were while the engine doing twice the work doubles them.
CAL_REF_MS = 250.0
CAL_ROWS = 30_000_000
CAL_WARMUP = 3
CAL_SAMPLES = 6  # calibration jobs at each point they run
TIMINGS = {"setup_s", "freshness_p50_ms", "merge_p50_ms", "lookup_p50_ms", "scan_p50_ms"}
# The runtime SQL settings the calibration job runs under, pinned so
# that a change to the engine's session defaults does not move it.
CAL_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.codegen.wholeStage": "true",
}


class HostSpeed:
    """Times the calibration job: a sum of hashes over a range, one task
    per core, CPU-bound and the same in every run."""

    def __init__(self, r: Run, spark):
        self.r, self.spark = r, spark
        self.ms: list[float] = []
        self.want = None

    def _job(self):
        return self.spark.range(0, CAL_ROWS, 1, CORES).agg(F.sum(F.hash("id"))).first()[0]

    def sample(self, n: int) -> None:
        """Runs the job n times."""
        saved = {k: self.spark.conf.get(k) for k in CAL_CONF}
        for k, v in CAL_CONF.items():
            self.spark.conf.set(k, v)
        try:
            # the job's first runs in a session are JIT warm-up, not kept
            warmup = 0 if self.ms else CAL_WARMUP
            for i in range(warmup + n):
                t0 = time.perf_counter()
                got = self._job()
                if i >= warmup:
                    self.ms.append((time.perf_counter() - t0) * 1000)
                self.want = got if self.want is None else self.want
                self.r.check(got == self.want, f"calibration job gave {got}, then {self.want}")
        finally:
            for k, v in saved.items():
                self.spark.conf.set(k, v)

    def scale(self, metrics: dict[str, float], rates=()) -> dict[str, float]:
        """The run's metrics at reference speed: timings times
        CAL_REF_MS / median calibration time, the named rates divided
        by that factor."""
        f = CAL_REF_MS / p50(self.ms)
        self.r.log(f"calibration job: {p50(self.ms):.0f} ms median of "
                   f"{[round(x) for x in self.ms]}; measured {metrics}")
        return {
            k: v * f if k in TIMINGS else v / f if k in rates else v
            for k, v in metrics.items()
        }


# -------------------------------------------------------------- backfill


def backfill_inputs(r: Run, size: Size):
    seed = r.args.seed
    log = gen.EventLog(seed, size.bf_rows)
    batches = [log.changes(size.bf_batch_events) for _ in range(size.bf_batches)]

    def build(d):
        os.makedirs(os.path.join(d, "snapshot"))
        os.makedirs(os.path.join(d, "log"))
        write_lines(os.path.join(d, "snapshot", "part-0.json"),
                    render_all(log.snapshot, HISTORIC_TS_MS, True))
        base = time.time() - 60
        for i, b in enumerate(batches):
            # distinct, increasing mtimes: the file source reads oldest first
            write_lines(os.path.join(d, "log", f"b{i:04d}.json"),
                        render_all(b, HISTORIC_TS_MS + i, True), base + i)

    d = cached(r.cache, f"backfill-{size.bf_rows}x{size.bf_batches}x{size.bf_batch_events}"
               f"-s{seed}", build)
    return d, log.snapshot, batches


def backfill_round(r: Run, spark, d: str, snapshot, batches, k: int,
                   tracer: Tracer | None, reads: Reads, rng, n_reads: tuple) -> dict:
    root = os.path.join(r.work, f"backfill{k}")
    ckpt = os.path.join(root, "ckpt")
    n_env = n_envelopes(snapshot) + sum(n_envelopes(b) for b in batches)
    ns = argparse.Namespace(
        mode="initial", source="file", input=os.path.join(d, "snapshot"),
        table=SPEC.name, keys="id", schema=gen.SCHEMA_DDL, topic=gen.TOPIC,
        state=os.path.join(root, "state"), checkpoint=ckpt, n_buckets=N_BUCKETS,
        continuous=False, kafka_servers="",
    )
    state_path = os.path.join(root, "state", SPEC.name)
    model = gen.Model()
    model.apply(snapshot)
    out: dict = {}
    t0 = time.perf_counter()
    if tracer is None:
        r.attempt(cdc_run.run, ns, spark)
        drain_start = time.time()
        state = state_table(spark, state_path)
        stream = spark.readStream.schema(cdc_run.RAW_SCHEMA).option(
            "maxFilesPerTrigger", 1).json(os.path.join(d, "log"))
        q = run_cdc_stream(stream, SPEC, state, ckpt, available_now=True)
        q.awaitTermination()
        out["wall_s"] = time.perf_counter() - t0
        r.attempted += len(batches)
        files, commits = committed_batches(ckpt)
        names = sorted(os.listdir(os.path.join(d, "log")))
        names = [n for n in names if n.endswith(".json")]
        check_batches(r, files, commits, names)
        fresh = []
        for name, b in zip(names, batches):
            bid = batch_of(files, name)
            if bid in commits:
                fresh += [(commits[bid] - drain_start) * 1000] * len(b)
        out["freshness"] = fresh
        out["progress"] = q.recentProgress
        out["merge_ms"] = [p["durationMs"]["addBatch"] for p in q.recentProgress
                           if p["numInputRows"] > 0]
    else:
        fs = CountingFS(LocalFS())
        with tracer.span("initial_load"):
            r.attempt(cdc_run.run, ns, spark)
        state = state_table(spark, state_path, fs=fs)
        for i, b in enumerate(batches):
            raw = raw_reader(spark).json(os.path.join(d, "log", f"b{i:04d}.json"))
            r.attempt(layered_apply, tracer, raw, state, i)
        out["wall_s"] = time.perf_counter() - t0
        out["fs"] = fs
    out["events_per_s"] = n_env / out["wall_s"]
    gone = []
    for b in batches:
        model.apply(b)
        gone += [ev.id for ev in b if ev.op == "d"]
    check_state(r, state, model, f"backfill round {k}")
    reads.round(state, model, rng, gone, *n_reads)
    out["bytes_per_row"] = tree_bytes(state_path) / max(1, len(model.rows))
    r.log(f"backfill round {k}: {out['wall_s']:.1f} s, {out['events_per_s']:.0f} envelopes/s")
    return out


def run_backfill(r: Run) -> None:
    size = r.size
    d, snapshot, batches = backfill_inputs(r, size)
    wd, wsnap, wbatches = backfill_inputs(r, SMALL)
    rng = random.Random(r.args.seed)
    spark = r.start()
    # Warm-up round on the small inputs of the same seed: JIT and
    # first-use costs stay in set-up, outside the timed rounds.
    backfill_round(r, spark, wd, wsnap, wbatches, 0, None, Reads(r, spark, None), rng, (1, 1))
    setup_s = time.perf_counter() - r.t_setup0
    r.log("set-up done")
    speed = HostSpeed(r, spark)
    speed.sample(CAL_SAMPLES)
    reads = Reads(r, spark, None)
    # Whole rounds, as many as fit in --seconds and at least one: the
    # next round starts only if one as long as the last would end in time.
    rounds, round_s = [], 0.0
    t_end = time.perf_counter() + r.args.seconds
    while not rounds or (not r.args.trace and time.perf_counter() + round_s <= t_end):
        t = time.perf_counter()
        rounds.append(backfill_round(r, spark, d, snapshot, batches, len(rounds) + 1,
                                     None, reads, rng, size.bf_reads))
        speed.sample(CAL_SAMPLES)
        round_s = time.perf_counter() - t
    if r.args.trace:
        tracer = r.tracer()
        treads = Reads(r, spark, tracer)
        traced = backfill_round(r, spark, d, snapshot, batches, 99, tracer, treads, rng,
                                size.bf_reads)
        r.traced = {
            "tracer": tracer, "fs": traced["fs"], "progress": rounds[0]["progress"],
            "overhead_ms": (traced["wall_s"] - rounds[0]["wall_s"]) * 1000,
        }
    r.metrics.update(speed.scale({
        "setup_s": setup_s,
        "events_per_s": p50(x["events_per_s"] for x in rounds),
        "freshness_p50_ms": p50([v for x in rounds for v in x["freshness"]]),
        "merge_p50_ms": p50([v for x in rounds for v in x["merge_ms"]]),
        "lookup_p50_ms": p50(reads.lookup_ms),
        "scan_p50_ms": p50(reads.scan_ms),
        "state_bytes_per_row": rounds[-1]["bytes_per_row"],
    }, rates=("events_per_s",)))


# ---------------------------------------------------------------- stream


class Generator(threading.Thread):
    """Open-loop source: at each tick writes that tick's events as one
    file, with ``source.ts_ms`` stamped to the tick's due time, whether
    or not the stream has kept up."""

    def __init__(self, ticks: list[list], tick_s: float, out_dir: str, staging: str):
        super().__init__(daemon=True)
        self.ticks, self.tick_s = ticks, tick_s
        self.out_dir, self.staging = out_dir, staging
        self.t0 = 0.0
        self.late_ms: list[float] = []
        self.written: list[tuple[str, float, int]] = []  # name, due, events
        self.error: BaseException | None = None
        self.stop_flag = threading.Event()

    def run(self) -> None:
        try:
            for i, events in enumerate(self.ticks):
                due = self.t0 + i * self.tick_s
                if self.stop_flag.wait(max(0.0, due - time.time())):
                    return
                name = f"t{i:06d}.json"
                tmp = os.path.join(self.staging, name)
                write_lines(tmp, render_all(events, int(due * 1000), True))
                os.rename(tmp, os.path.join(self.out_dir, name))
                self.late_ms.append((time.time() - due) * 1000)
                self.written.append((name, due, len(events)))
        except BaseException as e:  # noqa: BLE001 - re-raised by the main thread
            self.error = e


def stream_phase(r: Run, spark, state, model: gen.Model, log: gen.EventLog,
                 seconds: float, tag: str, rng, reads: Reads,
                 speed: HostSpeed | None = None) -> dict:
    """One continuous run_cdc_stream over a resident state, fed by the
    open-loop generator for warm-up + ``seconds``."""
    size = r.size
    n_ticks = int(round((size.st_warmup_s + seconds) / size.st_tick_s))
    ticks = [log.changes(size.st_per_tick) for _ in range(n_ticks)]
    in_dir = os.path.join(r.work, f"stream-in-{tag}")
    staging = os.path.join(r.work, f"stream-staging-{tag}")
    ckpt = os.path.join(r.work, f"stream-ckpt-{tag}")
    os.makedirs(in_dir)
    os.makedirs(staging)
    stream = spark.readStream.schema(cdc_run.RAW_SCHEMA).json(in_dir)
    q = run_cdc_stream(stream, SPEC, state, ckpt, available_now=False)
    g = Generator(ticks, size.st_tick_s, in_dir, staging)
    g.t0 = time.time() + 0.5
    steady_t0 = g.t0 + size.st_warmup_s
    steady_perf = time.perf_counter() + (steady_t0 - time.time())
    g.start()
    try:
        while g.is_alive():
            g.join(timeout=0.5)
            if q.exception() is not None:
                g.stop_flag.set()
                raise RuntimeError(f"stream failed: {q.exception()}")
        g.join()
        if g.error is not None:
            raise g.error
        q.processAllAvailable()
    finally:
        g.stop_flag.set()
        g.join(timeout=30)
        q.stop()
    progress = q.recentProgress
    r.log(f"stream {tag} drained: {len(progress)} progress reports")
    if speed is not None:
        speed.sample(CAL_SAMPLES)
    files, commits = committed_batches(ckpt)
    check_batches(r, files, commits, [w[0] for w in g.written])
    r.check(len(g.written) == n_ticks, f"generator wrote {len(g.written)} of {n_ticks} files")
    steady, fresh_by_due, steady_batches = [], [], set()
    n_steady_env = 0
    for (name, due, n), events in zip(g.written, ticks):
        bid = batch_of(files, name)
        if bid not in commits or due < steady_t0:
            continue
        f_ms = (commits[bid] - due) * 1000
        r.check(f_ms >= 0, f"negative freshness {f_ms:.1f} ms for {name}")
        steady += [f_ms] * n
        fresh_by_due.append(f_ms)
        steady_batches.add(bid)
        n_steady_env += n_envelopes(events)
    # No growing backlog: the last third of the steady window is not
    # much staler than the first third.
    third = max(1, len(fresh_by_due) // 3)
    first, last = p50(fresh_by_due[:third]), p50(fresh_by_due[-third:])
    r.check(last <= 2 * first + 1000,
            f"backlog grows: freshness p50 {first:.0f} ms -> {last:.0f} ms")
    last_commit = max(commits[b] for b in steady_batches) if steady_batches else steady_t0
    gone = []
    for events in ticks:
        model.apply(events)
        gone += [ev.id for ev in events if ev.op == "d"]
    r.attempted += len(steady_batches)
    r.log(f"stream {tag}: {len(steady_batches)} batches in the steady window, addBatch ms "
          f"{[(p['numInputRows'], p['durationMs'].get('addBatch')) for p in progress]}")
    check_state(r, state, model, f"stream {tag}")
    r.log("stream state checked")
    reads.round(state, model, rng, gone, *r.size.st_reads)
    r.log("stream reads done")
    return {
        "freshness": steady,
        "events_per_s": n_steady_env / max(1e-9, last_commit - steady_t0),
        "progress": progress,
        "steady_batches": steady_batches,
        "late_ms": max(g.late_ms, default=0.0),
        "steady_perf": steady_perf,
    }


def run_stream(r: Run) -> None:
    size = r.size
    log = gen.EventLog(r.args.seed, size.st_rows)
    d = cached(r.cache, f"stream-{size.st_rows}-s{r.args.seed}", lambda d: write_lines(
        os.path.join(d, "snapshot.json"), render_all(log.snapshot, HISTORIC_TS_MS, False)))
    rng = random.Random(r.args.seed)
    model = gen.Model()
    model.apply(log.snapshot)
    spark = r.start()
    state_path = os.path.join(r.work, "stream-state")
    t_load = time.perf_counter()
    r.attempt(initial_load, raw_reader(spark).json(os.path.join(d, "snapshot.json")),
              SPEC, state_table(spark, state_path))
    initial_load_ms = (time.perf_counter() - t_load) * 1000
    r.log("initial load done")
    # Warm the read path, so the reads after the stream are not the
    # session's first. Set-up ends where the steady window begins (the
    # stream's warm-up ticks are part of set-up).
    Reads(r, spark, None).round(state_table(spark, state_path), model, rng, [], 1, 1)
    reads = Reads(r, spark, None)
    # the traced run measures an untraced half, then a traced one
    seconds = r.args.seconds / 2 if r.args.trace else r.args.seconds
    speed = HostSpeed(r, spark)
    out = stream_phase(r, spark, state_table(spark, state_path), model, log,
                       seconds, "a", rng, reads, speed)
    setup_s = out["steady_perf"] - r.t_setup0
    speed.sample(CAL_SAMPLES)
    if r.args.trace:
        fs = CountingFS(LocalFS())
        tracer = r.tracer()
        with tracer.span("stream"):
            traced = stream_phase(r, spark, state_table(spark, state_path, fs=fs),
                                  model, log, seconds, "b", rng, Reads(r, spark, tracer))
        before = progress_stats(out["progress"], out["steady_batches"])
        after = progress_stats(traced["progress"], traced["steady_batches"])
        r.traced = {
            "tracer": tracer, "fs": fs, "progress": traced["progress"],
            "steady_batches": traced["steady_batches"],
            "overhead_ms": after["batch_ms"] - before["batch_ms"],
            "initial_load_ms": initial_load_ms, "late_ms": traced["late_ms"],
        }
    st = progress_stats(out["progress"], out["steady_batches"])
    r.metrics.update(speed.scale({
        "setup_s": setup_s,
        "events_per_s": out["events_per_s"],
        "freshness_p50_ms": p50(out["freshness"]),
        "merge_p50_ms": st["batch_ms"],
        "lookup_p50_ms": p50(reads.lookup_ms),
        "scan_p50_ms": p50(reads.scan_ms),
        "state_bytes_per_row": tree_bytes(state_path) / max(1, len(model.rows)),
    }))


WORKLOADS = {"backfill": run_backfill, "stream": run_stream}
