"""Scale-mechanics tests: salted join exactness, bucketed-merge I/O
pruning (only touched buckets rewritten), and the state table's fixed
costs counted in Spark jobs and tasks (one write task per core, no
listing job for a read)."""

from __future__ import annotations

import contextlib
import itertools
import os
import re

from pyspark.sql import functions as F

from spark_streaming_with_debezium_spark.cdc.merge import ParquetStateTable, apply_changes
from spark_streaming_with_debezium_spark.operators.skew import salted_join
from spark_streaming_with_debezium_spark.sources.tables import load_table
from spark_streaming_with_debezium_spark.storage.manifest import Manifest


def test_salted_join_exact(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    plain = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        salted_join(
            o.withColumnRenamed("o_custkey", "k"),
            c.withColumnRenamed("c_custkey", "k"),
            on=["k"],
            n_salts=4,
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_rejects_outer(spark):
    """Right/full outer would duplicate unmatched small-side rows once
    per salt replica — salted_join must refuse those modes."""
    import pytest

    df = spark.range(4).withColumnRenamed("id", "k")
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(df, df, on=["k"], how=how)
    # left stays allowed (unmatched BIG-side rows match no replica twice)
    left = salted_join(
        df, df.filter(F.col("k") < 2), on=["k"], n_salts=4, how="left"
    )
    assert left.count() == 4


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    state = ParquetStateTable(spark, str(tmp_path / "st"), ["id"], n_buckets=16)
    snapshot = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "id long, val string"
    )
    state.init(snapshot)

    def bucket_dirs():
        # bucket → its immutable directory, as the manifest names it
        return Manifest.open(state.fs, state.path).named("bucket/")

    before = bucket_dirs()
    assert len(before) == 16
    changes = spark.createDataFrame(
        [(7, "v7b", False)], "id long, val string, deleted boolean"
    )
    state.merge(changes)
    after = bucket_dirs()
    assert set(after) == set(before)
    changed = {b for b in after if after[b] != before[b]}
    assert len(changed) == 1, f"expected 1 touched bucket, got {changed}"
    # and the data is correct
    vals = {r.id: r.val for r in state.read().collect()}
    assert vals[7] == "v7b" and vals[8] == "v8" and len(vals) == 200


def test_state_table_lookup_prunes_buckets(spark, tmp_path):
    """lookup(keys): exact point-lookup semantics, and the plan reads
    only the buckets the requested keys hash into (same pruning as
    merge — asserted via the number of paths the scan reads)."""
    state = ParquetStateTable(spark, str(tmp_path / "st"), ["id"], n_buckets=16)
    state.init(
        spark.createDataFrame([(i, f"v{i}") for i in range(500)], "id long, val string")
    )
    keys = spark.createDataFrame([(3,), (250,), (499,), (9999,)], "id long")
    got = {r["id"]: r["val"] for r in state.lookup(keys).collect()}
    assert got == {3: "v3", 250: "v250", 499: "v499"}  # 9999 absent

    # pruning: the scan reads the bucket directories by path, and only
    # the (at most 4) buckets the keys hash into, not all 16
    plan = state.lookup(keys)._jdf.queryExecution().executedPlan().toString()
    n_paths = re.search(r"InMemoryFileIndex\((\d+) paths\)", plan)
    assert n_paths and int(n_paths.group(1)) <= 4, plan
    empty = state.lookup(spark.createDataFrame([], "id long"))
    assert empty.count() == 0


def test_rebucket_migrates_layout_and_persists_modulus(spark, tmp_path):
    """rebucket: all rows preserved under the new layout, and later
    merges route by the STORED modulus even when a reader reopens with a
    stale constructor n_buckets."""
    from pyspark.sql import functions as F

    from spark_streaming_with_debezium_spark.cdc.merge import ParquetStateTable

    path = str(tmp_path / "state")
    st = ParquetStateTable(spark, path, ["id"], n_buckets=4)
    st.init(
        spark.range(200).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        )
    )
    before = sorted(tuple(r) for r in st.read().collect())
    st.rebucket(16)
    assert st.n_buckets == 16
    assert len(Manifest.open(st.fs, path).named("bucket/")) == 16
    assert sorted(tuple(r) for r in st.read().collect()) == before

    # Stale reader: constructor says 4, the manifest says 16 — the
    # stored modulus must win or merges would route keys to wrong dirs.
    stale = ParquetStateTable(spark, path, ["id"], n_buckets=4)
    assert stale.n_buckets == 16
    changes = spark.createDataFrame(
        [(5, 999, False), (1000, 17, False)], "id long, v long, deleted boolean"
    )
    stale.merge(changes)
    got = {r["id"]: r["v"] for r in stale.read().collect()}
    assert got[5] == 999 and got[1000] == 17 and len(got) == 201


def test_hot_key_batch_through_merge(spark, tmp_path):
    """Planted pathological skew (ONE key carries 50% of a 1M-event
    batch — the re-imported-row / null-key-default scenario) through
    LWW compaction (`compact_latest`, the kernel `batch_apply` runs) +
    ParquetStateTable.merge: end-to-end wall for the hot batch must
    stay within 2× of a uniform batch of the same size, and the hot
    key must land its latest event.
    """
    import time

    from spark_streaming_with_debezium_spark.cdc.compact import compact_latest

    n = 1_000_000
    n_keys = 200_000

    def batch(hot: bool):
        df = spark.range(n)
        key = (
            F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id") % n_keys)
            if hot
            else F.col("id") % n_keys
        )
        return df.select(
            key.alias("k"),
            F.col("id").alias("seq"),
            (F.col("id") * 3 % 1000).alias("v"),
            F.lit(False).alias("deleted"),
        )

    # End-to-end wall: compact + merge, hot vs uniform.
    def run(tag: str, hot_flag: bool) -> float:
        state = ParquetStateTable(
            spark, str(tmp_path / f"st_{tag}"), ["k"], n_buckets=32
        )
        state.init(
            spark.range(n_keys).select(
                F.col("id").alias("k"),
                F.lit(-1).cast("long").alias("seq"),
                F.lit(0).cast("long").alias("v"),
            )
        )
        t0 = time.time()
        compacted = compact_latest(batch(hot_flag), ["k"], ["seq"])
        state.merge(compacted, data_cols=["seq", "v"])
        wall = time.time() - t0
        # key 0's latest event: hot → last even id (n-2); uniform → the
        # last id congruent to 0 mod n_keys.
        last_seq = n - 2 if hot_flag else ((n - 1) // n_keys) * n_keys
        got = {r["k"]: (r["seq"], r["v"]) for r in state.read().filter(F.col("k") == 0).collect()}
        assert got[0] == (last_seq, last_seq * 3 % 1000)
        return wall

    t_uniform = run("uniform", False)
    t_hot = run("hot", True)
    assert t_hot <= 2.0 * t_uniform + 2.0, (
        f"hot-key batch {t_hot:.1f}s vs uniform {t_uniform:.1f}s — "
        "the hot key straggles in compaction or merge"
    )


def test_init_preserves_bucket_meta_after_rebucket(spark, tmp_path):
    """Re-init after rebucket must re-land the bucket-count sidecar in
    BOTH init paths (data and empty-snapshot): losing it would let a
    later reader fall back to its constructor guess and prune/write
    buckets under the wrong modulus — silent key loss."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "state")
    st = ParquetStateTable(spark, path, ["id"], n_buckets=4)
    st.init(spark.range(100).select("id", (F.col("id") * 3).alias("v")))
    st.rebucket(16)

    # Non-empty re-init: a fresh handle (stale ctor guess) then a merge
    # must still route under the stored modulus 16.
    st.init(spark.range(50).select("id", (F.col("id") * 5).alias("v")))
    reader = ParquetStateTable(spark, path, ["id"], n_buckets=4)
    assert reader.n_buckets == 16
    reader.merge(
        spark.createDataFrame([(7, 777, False)], "id long, v long, deleted boolean")
    )
    got = {r["id"]: r["v"] for r in reader.read().collect()}
    assert got[7] == 777 and len(got) == 50

    # Empty-snapshot re-init (fast path) must also persist the modulus.
    st2 = ParquetStateTable(spark, path, ["id"], n_buckets=4)
    st2.init(spark.createDataFrame([], "id long, v long"))
    reader2 = ParquetStateTable(spark, path, ["id"], n_buckets=4)
    assert reader2.n_buckets == 16


def test_asof_salted_hot_key_boundaries(spark, tmp_path):
    """`join_asof_salted` must agree with `join_asof` on a PLANTED
    hot-key corpus hitting every decomposition boundary the sf data
    may never exercise: one user owning events across many salt
    buckets (the skew case the face exists for), events BEFORE any
    order (null carry-in), empty buckets between orders (carry-in must
    skip them), an order exactly AT an event's timestamp (>= match),
    two same-date orders (highest orderkey wins), and a user with
    orders but no events."""
    import datetime as dt

    from spark_streaming_with_debezium_spark.operators.joins import (
        join_asof,
        join_asof_salted,
    )

    day = dt.datetime(2000, 1, 1)

    def ts(days):
        return day + dt.timedelta(days=days)

    # hot user 7: events every 30 days over ~6 years (12+ salt buckets)
    events = [
        (100 + i, ts(30 * i), 7, "view", 1.0) for i in range(72)
    ]
    # cold user 8: one event before its only order, one exactly at it
    events += [(900, ts(10), 8, "view", 1.0), (901, ts(400), 8, "view", 1.0)]
    # user 7's orders: sparse — none before day 200 (null carry-in for
    # early events), then gaps > 1 bucket, two same-date orders at 700
    orders = [
        (1, 7, ts(200), 10.0),
        (2, 7, ts(700), 20.0),
        (3, 7, ts(700), 30.0),  # same date: orderkey 3 must win
        (4, 7, ts(1900), 40.0),
    ]
    # user 8: one order exactly at event 901's timestamp (>= matches)
    orders += [(5, 8, ts(400), 50.0)]
    # user 9: orders, no events (must not surface anywhere)
    orders += [(6, 9, ts(100), 60.0)]
    spark.createDataFrame(
        events, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    ).write.parquet(str(tmp_path / "events.parquet"))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_totalprice double",
    ).write.parquet(str(tmp_path / "orders.parquet"))

    plain = sorted(map(tuple, join_asof(spark, str(tmp_path)).collect()))
    salted = sorted(
        map(tuple, join_asof_salted(spark, str(tmp_path)).collect())
    )
    assert salted == plain
    by_event = {r[0]: r for r in salted}
    assert by_event[100][3] is None  # before any order: null carry
    assert by_event[901][3] == 5  # order exactly at ts matches
    # after the same-date pair, the higher orderkey (3) is carried
    first_after_700 = min(k for k in by_event if by_event[k][2] >= ts(700) and by_event[k][1] == 7)
    assert by_event[first_after_700][3] == 3


_GROUPS = itertools.count()


@contextlib.contextmanager
def _jobs(spark):
    """Collect the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    group = f"scale_test_{next(_GROUPS)}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sorted(sc.statusTracker().getJobIdsForGroup(group)))


def _write_stage_tasks(spark, job_ids) -> int:
    """Tasks of the write stage: the result stage of the last job (the
    commit that follows the write runs no Spark job)."""
    tracker = spark.sparkContext.statusTracker()
    stage = max(tracker.getJobInfo(job_ids[-1]).stageIds)
    return tracker.getStageInfo(stage).numTasks


def _files_per_bucket(state) -> dict[str, int]:
    return {
        b: sum(f.endswith(".parquet") for f in os.listdir(d))
        for b, d in Manifest.open(state.fs, state.path).named("bucket/").items()
    }


def _state_64(spark, tmp_path, rows=2000):
    state = ParquetStateTable(spark, str(tmp_path / "st64"), ["id"], n_buckets=64)
    state.init(
        spark.range(rows).select("id", F.concat(F.lit("v"), F.col("id")).alias("val"))
    )
    return state


def test_merge_of_every_bucket_writes_one_task_per_core(spark, tmp_path):
    """A merge touching all 64 buckets runs its write stage with at most
    one task per core, still leaves exactly one file per bucket, and
    yields what ``apply_changes`` yields over the old state."""
    state = _state_64(spark, tmp_path)
    old = state.read().collect()
    before = Manifest.open(state.fs, state.path).named("bucket/")
    # updates of every third key, deletes of every seventh, 300 inserts
    changes = spark.createDataFrame(
        [(i, f"w{i}", False) for i in range(0, 2000, 3) if i % 7]
        + [(i, None, True) for i in range(0, 2000, 7)]
        + [(i, f"n{i}", False) for i in range(2000, 2300)],
        "id long, val string, deleted boolean",
    )
    expected = apply_changes(
        spark.createDataFrame(old, "id long, val string"), changes, ["id"]
    ).collect()

    with _jobs(spark) as job_ids:
        state.merge(changes)
    after = Manifest.open(state.fs, state.path).named("bucket/")
    assert set(after) == set(before) and all(after[b] != before[b] for b in after)
    assert _write_stage_tasks(spark, job_ids) <= spark.sparkContext.defaultParallelism
    assert set(_files_per_bucket(state).values()) == {1}
    assert sorted(map(tuple, state.read().collect())) == sorted(map(tuple, expected))


def test_state_read_schedules_no_listing_job(spark, tmp_path):
    """``read()`` names all 64 bucket directories; the driver lists
    them, so building the DataFrame runs no Spark job."""
    state = _state_64(spark, tmp_path)
    with _jobs(spark) as job_ids:
        df = state.read()
    assert job_ids == []
    assert df.count() == 2000


def test_lookup_duplicate_keys_in_three_jobs(spark, tmp_path):
    """Duplicated lookup keys return each row once, in at most 3 jobs
    (no ``distinct()`` of the keys or of the bucket ids)."""
    state = _state_64(spark, tmp_path)
    keys = spark.createDataFrame(
        [(k,) for k in (5, 5, 5, 77, 77, 1999, 4242, 4242)], "id long"
    )
    with _jobs(spark) as job_ids:
        got = [tuple(r) for r in state.lookup(keys).collect()]
    assert sorted(got) == [(5, "v5"), (77, "v77"), (1999, "v1999")]
    assert len(job_ids) <= 3, job_ids


def test_init_and_rebucket_write_one_file_per_bucket(spark, tmp_path):
    """``init`` and ``rebucket`` write with one task per core too, and
    each bucket is still one file."""
    dp = spark.sparkContext.defaultParallelism
    with _jobs(spark) as job_ids:
        state = _state_64(spark, tmp_path)
    assert _write_stage_tasks(spark, job_ids) <= dp
    files = _files_per_bucket(state)
    assert len(files) == 64 and set(files.values()) == {1}

    with _jobs(spark) as job_ids:
        state.rebucket(16)
    assert _write_stage_tasks(spark, job_ids) <= dp
    files = _files_per_bucket(state)
    assert len(files) == 16 and set(files.values()) == {1}
    assert state.read().count() == 2000
