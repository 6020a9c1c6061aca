"""CDC golden-replay tests — FIXTURES.md §4 scenarios.

Synthesizes Debezium envelopes (the reference's query1–5.sql workloads
+ the StreamingIT scenario) and asserts exact final state after
parse → compact → merge. Pure batch; the streaming path reuses the
same foreachBatch body (tested in test_streaming.py).
"""

from __future__ import annotations

import json

import pytest

from pyspark.sql import types as T

from spark_streaming_with_debezium_spark.cdc.envelope import (
    TableSpec,
    parse_envelope,
)
from spark_streaming_with_debezium_spark.cdc.compact import compact_latest
from spark_streaming_with_debezium_spark.cdc.merge import (
    ParquetStateTable,
    apply_changes,
)

CUSTOMERS = TableSpec(
    name="customers",
    key_cols=("id",),
    value_schema=T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("first_name", T.StringType()),
            T.StructField("last_name", T.StringType()),
            T.StructField("email", T.StringType()),
        ]
    ),
)

RAW_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
    ]
)


def envelope(op, row_id, offset, first="f", last="l", email=None, ts=1000):
    email = email or f"user{row_id}@example.com"
    after = (
        None
        if op == "d"
        else {"id": row_id, "first_name": first, "last_name": last, "email": email}
    )
    before = {"id": row_id} if op in ("d", "u") else None
    key = json.dumps({"schema": {}, "payload": {"id": row_id}})
    value = json.dumps(
        {
            "schema": {},
            "payload": {
                "before": before,
                "after": after,
                "source": {"ts_ms": ts, "db": "inventory", "table": "customers"},
                "op": op,
                "ts_ms": ts,
            },
        }
    )
    return (key, value, "dbserver1.inventory.customers", 0, offset)


def tombstone(row_id, offset):
    key = json.dumps({"schema": {}, "payload": {"id": row_id}})
    return (key, None, "dbserver1.inventory.customers", 0, offset)


def run_replay(spark, tmp_path, snapshot_events, batches):
    state = ParquetStateTable(
        spark, str(tmp_path / "state"), key_cols=["id"], n_buckets=4
    )
    raw0 = spark.createDataFrame(snapshot_events, RAW_SCHEMA)
    from spark_streaming_with_debezium_spark.cdc.pipeline import (
        batch_apply,
        initial_load,
    )

    initial_load(raw0, CUSTOMERS, state)
    for batch in batches:
        raw = spark.createDataFrame(batch, RAW_SCHEMA)
        batch_apply(raw, CUSTOMERS, state)
    return {
        r["id"]: (r["first_name"], r["last_name"], r["email"])
        for r in state.read().collect()
    }


SNAPSHOT = [envelope("r", 1, 0, "Sally", "Thomas"), envelope("r", 2, 1, "George", "B")]


def test_snapshot_load(spark, tmp_path):
    final = run_replay(spark, tmp_path, SNAPSHOT, [])
    assert set(final) == {1, 2}
    assert final[1] == ("Sally", "Thomas", "user1@example.com")


def test_snapshot_load_either_converter_form(spark, tmp_path):
    """Envelopes written with the JSON converter's schemas.enable=false
    (no ``payload`` wrapper on key or value) load to the same state as
    the wrapped form, and none of them is a dead letter."""
    from spark_streaming_with_debezium_spark.cdc.envelope import dead_letters

    def bare(event):
        key, value, *rest = event
        return (
            json.dumps(json.loads(key)["payload"]),
            json.dumps(json.loads(value)["payload"]),
            *rest,
        )

    snapshot = SNAPSHOT + [envelope("r", 7, 2, "Ann", "Lee")]
    wrapped = run_replay(spark, tmp_path / "wrapped", snapshot, [])
    unwrapped = run_replay(spark, tmp_path / "bare", [bare(e) for e in snapshot], [])
    assert unwrapped == wrapped and set(wrapped) == {1, 2, 7}
    raw = spark.createDataFrame([bare(e) for e in snapshot], RAW_SCHEMA)
    assert dead_letters(raw, CUSTOMERS).count() == 0


def test_insert_update_delete_roundtrip(spark, tmp_path):
    # query1.sql: insert → update → delete across batches
    batches = [
        [envelope("c", 3, 2, "John", "Doe")],
        [envelope("u", 3, 3, "John", "Smith")],
        [envelope("d", 3, 4), tombstone(3, 5)],
    ]
    final = run_replay(spark, tmp_path, SNAPSHOT, batches)
    assert set(final) == {1, 2}


def test_same_key_one_batch(spark, tmp_path):
    # query4.sql stress: c → u → d of one key within a single batch
    batches = [
        [
            envelope("c", 3, 2, "A", "A"),
            envelope("u", 3, 3, "B", "B"),
            envelope("d", 3, 4),
            tombstone(3, 5),
        ]
    ]
    final = run_replay(spark, tmp_path, SNAPSHOT, batches)
    assert set(final) == {1, 2}


def test_same_key_one_batch_ends_update(spark, tmp_path):
    batches = [
        [
            envelope("c", 3, 2, "A", "A"),
            envelope("u", 3, 3, "B", "B"),
        ]
    ]
    final = run_replay(spark, tmp_path, SNAPSHOT, batches)
    assert final[3][0] == "B"


def test_bulk_insert_and_delete(spark, tmp_path):
    # query2.sql (3 inserts) then query3.sql (3 deletes)
    ins = [envelope("c", i, 10 + i, "N", "N") for i in (10, 11, 12)]
    dels = [envelope("d", i, 20 + i, ts=2000) for i in (10, 11, 12)]
    final = run_replay(spark, tmp_path, SNAPSHOT, [ins, dels])
    assert set(final) == {1, 2}


def test_range_delete(spark, tmp_path):
    # query5.sql: delete id > 1010
    ins = [envelope("c", i, i, "X", "X") for i in range(1009, 1014)]
    dels = [envelope("d", i, 100 + i, ts=2000) for i in range(1011, 1014)]
    final = run_replay(spark, tmp_path, SNAPSHOT, [ins, dels])
    assert set(final) == {1, 2, 1009, 1010}


def test_unmatched_delete_is_noop(spark, tmp_path):
    # reference defect §2.11-6: unmatched delete must NOT insert a row
    final = run_replay(spark, tmp_path, SNAPSHOT, [[envelope("d", 99, 7)]])
    assert set(final) == {1, 2}


def test_duplicate_delivery_idempotent(spark, tmp_path):
    # Connect re-delivery (DebeziumDeltaFormatter.scala:17 TODO)
    ev = envelope("c", 5, 3, "Dup", "User")
    final = run_replay(spark, tmp_path, SNAPSHOT, [[ev, ev], [ev]])
    assert final[5] == ("Dup", "User", "user5@example.com")
    assert set(final) == {1, 2, 5}


def test_update_with_null_field_wins(spark, tmp_path):
    # after-image with an explicit NULL column must overwrite (when(),
    # not coalesce(), in apply_changes)
    ev = envelope("u", 1, 9, "Sally", "Thomas")
    raw = json.loads(ev[1])
    raw["payload"]["after"]["email"] = None
    batches = [[(ev[0], json.dumps(raw), ev[2], ev[3], ev[4])]]
    final = run_replay(spark, tmp_path, SNAPSHOT, batches)
    assert final[1] == ("Sally", "Thomas", None)


def test_apply_changes_pure(spark):
    # kernel-level check without storage
    target = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, val string"
    )
    changes = spark.createDataFrame(
        [(2, "b2", False), (3, "c", False), (4, None, True)],
        "id long, val string, deleted boolean",
    )
    out = {
        r["id"]: r["val"]
        for r in apply_changes(target, changes, ["id"]).collect()
    }
    assert out == {1: "a", 2: "b2", 3: "c"}


@pytest.mark.parametrize("n_batches", [1, 3])
def test_property_random_replay(spark, tmp_path, n_batches):
    """Final state == last non-delete event per key (random I/U/D)."""
    import random

    rng = random.Random(42)
    events, off = [], 0
    for _ in range(120):
        k = rng.randrange(8)
        op = rng.choice(["c", "u", "d"])
        events.append(envelope(op, k, off, f"f{off}", f"l{off}"))
        off += 1
    # expected: replay sequentially
    expected = {1: ("Sally", "Thomas", "user1@example.com"),
                2: ("George", "B", "user2@example.com")}
    for e in events:
        payload = json.loads(e[1])["payload"]
        k = json.loads(e[0])["payload"]["id"]
        if payload["op"] == "d":
            expected.pop(k, None)
        else:
            a = payload["after"]
            expected[k] = (a["first_name"], a["last_name"], a["email"])
    size = len(events) // n_batches
    batches = [events[i * size : (i + 1) * size] for i in range(n_batches)]
    if len(events) % n_batches:
        batches[-1].extend(events[n_batches * size :])
    final = run_replay(spark, tmp_path, SNAPSHOT, batches)
    assert final == expected


def test_shuffled_input_order_within_batch(spark, tmp_path):
    """Row order in the input collection must not matter — only the
    (partition, offset) sequence defines LWW order."""
    import random

    events = [
        envelope("c", 7, 10, "A", "A"),
        envelope("u", 7, 11, "B", "B"),
        envelope("u", 7, 12, "C", "C"),
        envelope("d", 8, 13),
        envelope("c", 8, 9, "X", "X"),  # earlier offset, listed later
    ]
    rng = random.Random(7)
    rng.shuffle(events)
    final = run_replay(spark, tmp_path, SNAPSHOT, [events])
    assert final[7][0] == "C"
    assert 8 not in final  # d @13 beats c @9 regardless of list order


def test_merge_reapply_idempotent(spark, tmp_path):
    """Re-applying an identical (already-compacted) batch is a no-op —
    the exactly-once-in-effect property checkpoint replay relies on."""
    from spark_streaming_with_debezium_spark.cdc.merge import ParquetStateTable

    state = ParquetStateTable(spark, str(tmp_path / "s"), ["id"], n_buckets=4)
    state.init(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    changes = spark.createDataFrame(
        [(2, "b2", False), (3, "c", False), (1, None, True)],
        "id long, v string, deleted boolean",
    )
    state.merge(changes)
    once = sorted(map(tuple, state.read().collect()))
    state.merge(changes)
    twice = sorted(map(tuple, state.read().collect()))
    assert once == twice == [(2, "b2"), (3, "c")]


def test_schema_evolution_add_column(spark, tmp_path):
    """Debezium adds a column upstream: evolve() widens the registered
    schema; old rows read as NULL, new merges carry the new column."""
    from spark_streaming_with_debezium_spark.cdc.merge import ParquetStateTable

    state = ParquetStateTable(spark, str(tmp_path / "s"), ["id"], n_buckets=4)
    state.init(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    state.evolve({"city": "string"})

    # old data readable, NULL-filled
    assert {(r.id, r.v, r.city) for r in state.read().collect()} == {
        (1, "a", None),
        (2, "b", None),
    }
    # merge a batch that includes the new column
    changes = spark.createDataFrame(
        [(2, "b2", "Valencia", False), (3, "c", "Barcelona", False)],
        "id long, v string, city string, deleted boolean",
    )
    state.merge(changes)
    got = {(r.id, r.v, r.city) for r in state.read().collect()}
    assert got == {(1, "a", None), (2, "b2", "Valencia"), (3, "c", "Barcelona")}


#: The EXACT schema Spark's Kafka source produces — the one seam no
#: local test can reach with a live broker (none in this environment).
KAFKA_SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ]
)


def test_kafka_source_contract_golden(spark, tmp_path):
    """Feed the exact Kafka source schema (BINARY key/value + topic /
    partition / offset / timestamp / timestampType) through
    project_kafka → parse_envelope → merge, covering a tombstone and a
    duplicate-delivery pair ordered by (partition, offset) — the
    reference's TODO'd double-delivery case
    (DebeziumDeltaFormatter.scala:17)."""
    import datetime as dt

    from spark_streaming_with_debezium_spark.cdc.pipeline import (
        batch_apply,
        initial_load,
        project_kafka,
    )

    def krow(ev, secs):
        key, value, topic, partition, offset = ev
        return (
            key.encode("utf-8"),
            value.encode("utf-8") if value is not None else None,
            topic,
            partition,
            offset,
            dt.datetime(2026, 1, 1, 0, 0, secs),
            0,
        )

    state = ParquetStateTable(spark, str(tmp_path / "state"), ["id"], n_buckets=4)
    snap = [
        krow(envelope("r", 1, 0, "Sally", "Thomas"), 1),
        krow(envelope("r", 2, 1, "George", "B"), 2),
    ]
    initial_load(
        project_kafka(spark.createDataFrame(snap, KAFKA_SOURCE_SCHEMA)),
        CUSTOMERS,
        state,
    )

    dup = envelope("c", 3, 5, "John", "Doe")
    redelivered = (dup[0], dup[1], dup[2], dup[3], 6)  # same change, later offset
    batch = [
        krow(envelope("u", 1, 2, "Sally", "T2"), 3),
        krow(dup, 4),
        krow(redelivered, 5),
        krow(envelope("d", 2, 3), 6),
        krow(tombstone(2, 4), 7),  # tombstone: ignored, not a dead letter
    ]
    projected = project_kafka(spark.createDataFrame(batch, KAFKA_SOURCE_SCHEMA))
    # the CAST(value AS STRING) idiom (StreamingJobExecutor.scala:22-23)
    assert [f.dataType.simpleString() for f in projected.schema.fields[:2]] == [
        "string",
        "string",
    ], "project_kafka must cast binary key/value to string"
    assert {"partition", "offset", "timestamp"} <= set(projected.columns)

    batch_apply(projected, CUSTOMERS, state)
    final = {
        r["id"]: (r["first_name"], r["last_name"]) for r in state.read().collect()
    }
    assert final == {1: ("Sally", "T2"), 3: ("John", "Doe")}


def test_schema_evolution_widen_types(spark, tmp_path):
    """Debezium widens a source column's type (INT→BIGINT, REAL→DOUBLE):
    evolve() updates the sidecar, old narrow bucket files upcast on
    read, and post-widening merges carry full-width values."""
    state = ParquetStateTable(spark, str(tmp_path / "s"), ["id"], n_buckets=4)
    state.init(
        spark.createDataFrame(
            [(1, 10, 1.5), (2, 20, 2.5)], "id long, qty int, price float"
        )
    )
    state.evolve({"qty": "bigint", "price": "double"})

    got = {(r.id, r.qty, round(r.price, 2)) for r in state.read().collect()}
    assert got == {(1, 10, 1.5), (2, 20, 2.5)}
    assert dict(state.read().dtypes) == {
        "id": "bigint",
        "qty": "bigint",
        "price": "double",
    }

    big = 2**40  # exceeds int32 — only representable post-widening
    changes = spark.createDataFrame(
        [(2, big, 9.75, False), (3, big + 1, 3.25, False)],
        "id long, qty bigint, price double, deleted boolean",
    )
    state.merge(changes)
    got = {(r.id, r.qty, round(r.price, 2)) for r in state.read().collect()}
    assert got == {(1, 10, 1.5), (2, big, 9.75), (3, big + 1, 3.25)}

    # narrowing / incompatible changes must refuse
    with pytest.raises(ValueError, match="not a lossless widening"):
        state.evolve({"qty": "int"})
    with pytest.raises(ValueError, match="not a lossless widening"):
        state.evolve({"price": "string"})


def test_dead_letter_routing(spark, tmp_path):
    """Malformed envelopes are quarantined, never merged, never fatal."""
    from spark_streaming_with_debezium_spark.cdc.envelope import dead_letters

    rows = [
        envelope("c", 1, 0, "A", "A"),
        ("{}", "this is not json", "t", 0, 1),
        ("{}", '{"payload": {"nope": 1}}', "t", 0, 2),  # no op
        tombstone(9, 3),  # tombstone is NOT a dead letter
    ]
    raw = spark.createDataFrame(rows, RAW_SCHEMA)
    dl = dead_letters(raw, CUSTOMERS)
    assert sorted(r.offset for r in dl.collect()) == [1, 2]
    final = run_replay(spark, tmp_path, SNAPSHOT, [rows])
    assert final[1][0] == "A"  # good row merged; bad rows skipped


def test_mart_job_end_to_end(spark, sf_dir, tmp_path):
    """The CDC-to-marts build: customer_360 agrees row-for-row with the
    state x dims join, region_balance agrees with the oracle-checked
    cdc_state_rollup query, per-nation top-5 ranks are correct against
    a recomputation, and a re-run is idempotent."""
    from spark_streaming_with_debezium_spark.cdc.mart_job import (
        build_customer_360,
        run_mart_job,
    )
    from spark_streaming_with_debezium_spark.operators.cdc_queries import (
        cdc_state_rollup,
    )

    out = str(tmp_path / "marts")
    stats = run_mart_job(spark, sf_dir, out)
    assert stats.n_customer_360 == stats.n_state_rows > 0

    import pyspark.sql.functions as F

    c360 = spark.read.parquet(out + "/customer_360")
    want = {
        tuple(r)
        for r in build_customer_360(spark, sf_dir)
        .select("c_custkey", "c_acctbal", "nation", "region")
        .collect()
    }
    got = {
        tuple(r)
        for r in c360.select("c_custkey", "c_acctbal", "nation", "region").collect()
    }
    assert got == want

    rollup = {
        (r.r_name, r.n_customers)
        for r in spark.read.parquet(out + "/region_balance").collect()
    }
    ref = {
        (r.r_name, r.n_customers)
        for r in cdc_state_rollup(spark, sf_dir).collect()
    }
    assert rollup == ref

    topc = spark.read.parquet(out + "/nation_top_customers")
    per_nation = {}
    for r in topc.collect():
        per_nation.setdefault(r.nation, []).append(r)
    for nation, rows in per_nation.items():
        rows.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rows] == list(range(1, len(rows) + 1)), nation
        balances = [r.c_acctbal for r in rows]
        assert balances == sorted(balances, reverse=True), nation
    # top-5 really is the max balance set per nation
    nation_max = {
        r.nation: r.mx
        for r in build_customer_360(spark, sf_dir)
        .groupBy("nation")
        .agg(F.max("c_acctbal").alias("mx"))
        .collect()
    }
    for nation, rows in per_nation.items():
        assert rows[0].c_acctbal == nation_max[nation], nation

    stats2 = run_mart_job(spark, sf_dir, out)
    assert stats2 == stats


def test_snapshot_to_continuous_handoff(spark, tmp_path):
    """The reference's operational story is 'run
    StreamingJobInitialExecutor, register the connector, switch to
    StreamingJobExecutor' (`README.md:28-42`) — with a real race: the
    connector's first binlog events can OVERLAP keys the snapshot
    already materialized (a row changed between snapshot read and
    stream start, or the snapshot chunk is re-delivered as op='r' on
    the stream). Replay exactly that through BOTH entry points on one
    state dir + one checkpoint, asserting exactly-once final state."""
    import json as _json

    from spark_streaming_with_debezium_spark.cdc.pipeline import (
        initial_load,
        run_cdc_stream,
    )

    # phase 1: snapshot job (op='r') — ids 1..3
    state = ParquetStateTable(
        spark, str(tmp_path / "state"), key_cols=["id"], n_buckets=4
    )
    snap = [
        envelope("r", 1, 0, "Sally", "Thomas"),
        envelope("r", 2, 1, "George", "B"),
        envelope("r", 3, 2, "Edward", "W"),
    ]
    initial_load(spark.createDataFrame(snap, RAW_SCHEMA), CUSTOMERS, state)
    assert {r.id for r in state.read().collect()} == {1, 2, 3}

    # phase 2: continuous job on the SAME state dir; its first events
    # overlap the snapshot — a re-delivered snapshot read for id=1 (an
    # op='r' duplicate must be a no-op upsert, not a double insert), an
    # update for id=2 that raced the snapshot, a delete for id=3, and a
    # fresh insert id=4; plus a tombstone (must be dropped).
    src = tmp_path / "stream_src"
    src.mkdir()
    overlap = [
        envelope("r", 1, 10, "Sally", "Thomas"),  # snapshot re-delivery
        envelope("u", 2, 11, "George", "Bailey", email="gb@new.example"),
        envelope("d", 3, 12),
        tombstone(3, 13),
        envelope("c", 4, 14, "Anne", "K"),
    ]
    lines = []
    for k, v, topic, part, off in overlap:
        lines.append(
            _json.dumps(
                {"key": k, "value": v, "topic": topic,
                 "partition": part, "offset": off}
            )
        )
    (src / "b1.json").write_text("\n".join(lines))
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(RAW_SCHEMA).json(str(src))
    run_cdc_stream(stream, CUSTOMERS, state, ckpt).awaitTermination()

    final = {
        r.id: (r.first_name, r.last_name, r.email)
        for r in state.read().collect()
    }
    assert final == {
        1: ("Sally", "Thomas", "user1@example.com"),
        2: ("George", "Bailey", "gb@new.example"),
        4: ("Anne", "K", "user4@example.com"),
    }

    # phase 3: duplicate delivery of the SAME overlap window after a
    # "connector restart" (new file, same payloads, higher offsets) —
    # the LWW merge must keep the state bit-identical (exactly-once
    # effect under at-least-once delivery).
    lines2 = []
    for i, (k, v, topic, part, off) in enumerate(overlap):
        lines2.append(
            _json.dumps(
                {"key": k, "value": v, "topic": topic,
                 "partition": part, "offset": 20 + i}
            )
        )
    (src / "b2.json").write_text("\n".join(lines2))
    stream2 = spark.readStream.schema(RAW_SCHEMA).json(str(src))
    run_cdc_stream(stream2, CUSTOMERS, state, ckpt).awaitTermination()
    final2 = {
        r.id: (r.first_name, r.last_name, r.email)
        for r in state.read().collect()
    }
    assert final2 == final
