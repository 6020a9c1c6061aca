"""Schema-drift detection + state evolution (cdc/drift.py).

Debezium ships the Connect schema in-band
(`ContainerTestWrapper.scala:21-22`); an upstream ``ALTER TABLE ADD
COLUMN`` must land in the state table (not be silently dropped by the
static from_json schema), and a REMOVED/retyped column must fail the
batch visibly. The goldens replay exactly those DDL sequences.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_streaming_with_debezium_spark.cdc.drift import (
    DriftReport,
    SchemaDriftError,
    apply_drift,
    connect_field_to_spark,
    detect_drift,
    evolve_spec,
    observed_after_schema,
)
from spark_streaming_with_debezium_spark.cdc.envelope import (
    TableSpec,
    parse_envelope,
)
from spark_streaming_with_debezium_spark.cdc.merge import ParquetStateTable
from spark_streaming_with_debezium_spark.cdc.pipeline import run_cdc_stream

SPEC = TableSpec(
    name="customers",
    key_cols=("id",),
    value_schema=T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("email", T.StringType()),
        ]
    ),
)

#: Connect field dicts for the base table.
BASE_FIELDS = [
    {"type": "int64", "optional": False, "field": "id"},
    {"type": "string", "optional": True, "field": "email"},
]


def _connect_schema(fields):
    """The in-band envelope schema Debezium emits with schemas.enable."""
    row = {"type": "struct", "fields": fields, "optional": True}
    return {
        "type": "struct",
        "fields": [
            {**row, "field": "before"},
            {**row, "field": "after"},
            {"type": "string", "optional": False, "field": "op"},
            {"type": "int64", "optional": True, "field": "ts_ms"},
        ],
        "name": "server1.db.customers.Envelope",
    }


def _env(op, row, offset, fields=BASE_FIELDS, with_schema=True):
    value = {
        "payload": {
            "before": row if op == "d" else None,
            "after": None if op == "d" else row,
            "op": op,
            "ts_ms": 1000 + offset,
        }
    }
    if with_schema:
        value["schema"] = _connect_schema(fields)
    return (
        json.dumps({"payload": {"id": row["id"]}}),
        json.dumps(value),
        offset,
    )


def _raw(spark, events):
    return spark.createDataFrame(events, "key string, value string, offset long")


# ---------------------------------------------------------------------------
# detection
# ---------------------------------------------------------------------------


def test_no_drift(spark):
    raw = _raw(spark, [_env("c", {"id": 1, "email": "a@x"}, 0)])
    report = detect_drift(raw, SPEC)
    assert not report.has_drift


def test_no_inband_schema_no_detection(spark):
    """schemas.enable=false producers are tolerated: no schema member,
    no detectable drift, empty report (the static-spec behavior)."""
    raw = _raw(
        spark, [_env("c", {"id": 1, "email": "a@x"}, 0, with_schema=False)]
    )
    assert observed_after_schema(raw) == []
    assert not detect_drift(raw, SPEC).has_drift


def test_added_column_detected(spark):
    fields = BASE_FIELDS + [{"type": "int32", "optional": True, "field": "age"}]
    raw = _raw(
        spark, [_env("c", {"id": 1, "email": "a@x", "age": 33}, 0, fields)]
    )
    report = detect_drift(raw, SPEC)
    assert set(report.added) == {"age"}
    assert report.added["age"] == (T.IntegerType(), None)
    assert not report.incompatible


def test_added_logical_columns_detected(spark):
    fields = BASE_FIELDS + [
        {
            "type": "bytes",
            "name": "org.apache.kafka.connect.data.Decimal",
            "parameters": {"scale": "2", "connect.decimal.precision": "10"},
            "optional": True,
            "field": "balance",
        },
        {
            "type": "int32",
            "name": "io.debezium.time.Date",
            "optional": True,
            "field": "signup_date",
        },
        {
            "type": "int64",
            "name": "io.debezium.time.MicroTimestamp",
            "optional": True,
            "field": "updated_at",
        },
    ]
    raw = _raw(spark, [_env("c", {"id": 1, "email": "a@x"}, 0, fields)])
    report = detect_drift(raw, SPEC)
    assert report.added["balance"] == (T.DecimalType(10, 2), "decimal(10,2)")
    assert report.added["signup_date"] == (T.DateType(), "date")
    assert report.added["updated_at"] == (T.TimestampType(), "timestamp-micros")


def test_missing_column_is_incompatible(spark):
    fields = [BASE_FIELDS[0]]  # email dropped upstream
    raw = _raw(spark, [_env("c", {"id": 1}, 0, fields)])
    report = detect_drift(raw, SPEC)
    assert report.missing == ["email"]
    assert report.incompatible
    with pytest.raises(SchemaDriftError):
        evolve_spec(SPEC, report)


def test_widening_vs_retype(spark):
    spec32 = TableSpec(
        name="t",
        key_cols=("id",),
        value_schema=T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("email", T.StringType()),
                T.StructField("n", T.IntegerType()),
            ]
        ),
    )
    widen = BASE_FIELDS + [{"type": "int64", "optional": True, "field": "n"}]
    raw = _raw(spark, [_env("c", {"id": 1, "email": "a", "n": 5}, 0, widen)])
    report = detect_drift(raw, spec32)
    assert report.widened["n"] == (T.IntegerType(), T.LongType())
    assert not report.incompatible
    evolved = evolve_spec(spec32, report)
    assert dict(
        (f.name, f.dataType) for f in evolved.value_schema.fields
    )["n"] == T.LongType()

    narrow = BASE_FIELDS + [{"type": "string", "optional": True, "field": "n"}]
    raw2 = _raw(spark, [_env("c", {"id": 1, "email": "a", "n": "x"}, 0, narrow)])
    report2 = detect_drift(raw2, spec32)
    assert report2.retyped["n"] == (T.IntegerType(), T.StringType())
    assert report2.incompatible


def test_connect_field_mapping_unknown_type():
    with pytest.raises(SchemaDriftError):
        connect_field_to_spark({"type": "map", "field": "m"})


# ---------------------------------------------------------------------------
# evolution end-to-end: ALTER TABLE ADD COLUMN replayed through state
# ---------------------------------------------------------------------------


def test_add_column_evolves_state_and_spec(spark, tmp_path):
    """The headline golden: batch 1 base schema, batch 2 with an added
    column. The column lands in the parquet state; rows merged BEFORE
    the evolution read back NULL-filled; an incompatible batch 3
    raises instead of merging."""
    state = ParquetStateTable(spark, str(tmp_path / "state"), ["id"], n_buckets=4)
    state.init(spark.createDataFrame([], "id long, email string"))

    b1 = _raw(spark, [_env("c", {"id": 1, "email": "a@x"}, 0),
                      _env("c", {"id": 2, "email": "b@x"}, 1)])
    spec1 = apply_drift(b1, SPEC, state)
    assert spec1 is SPEC  # no drift, same spec
    ch1 = parse_envelope(b1, spec1, seq_cols=("offset",))
    state.merge(ch1.drop("offset", "op", "ts_ms", "ts"), data_cols=["email"])

    fields2 = BASE_FIELDS + [{"type": "int32", "optional": True, "field": "age"}]
    b2 = _raw(
        spark,
        [
            _env("c", {"id": 3, "email": "c@x", "age": 27}, 2, fields2),
            _env("u", {"id": 1, "email": "a2@x", "age": 41}, 3, fields2),
        ],
    )
    spec2 = apply_drift(b2, SPEC, state)
    assert "age" in spec2.data_cols
    ch2 = parse_envelope(b2, spec2, seq_cols=("offset",))
    state.merge(
        ch2.drop("offset", "op", "ts_ms", "ts"), data_cols=["email", "age"]
    )

    rows = {r.id: r for r in state.read().collect()}
    assert rows[1].email == "a2@x" and rows[1].age == 41
    assert rows[2].email == "b@x" and rows[2].age is None  # pre-evolve row
    assert rows[3].age == 27

    # upstream DROPs email → visible failure, nothing merged
    fields3 = [BASE_FIELDS[0], fields2[2]]
    b3 = _raw(spark, [_env("c", {"id": 4, "age": 1}, 4, fields3)])
    with pytest.raises(SchemaDriftError):
        apply_drift(b3, spec2, state)
    assert 4 not in {r.id for r in state.read().collect()}


def test_strict_policy_raises_on_additive(spark, tmp_path):
    state = ParquetStateTable(spark, str(tmp_path / "s"), ["id"], n_buckets=2)
    state.init(spark.createDataFrame([], "id long, email string"))
    fields = BASE_FIELDS + [{"type": "int32", "optional": True, "field": "age"}]
    raw = _raw(spark, [_env("c", {"id": 1, "email": "a", "age": 3}, 0, fields)])
    with pytest.raises(SchemaDriftError):
        apply_drift(raw, SPEC, state, policy="strict")


def test_added_decimal_column_parses_after_evolution(spark):
    """Drift-derived logical annotations compose with the envelope
    decoder: an added Connect-Decimal column decodes to DecimalType on
    the very next parse."""
    import base64
    from decimal import Decimal

    fields = BASE_FIELDS + [
        {
            "type": "bytes",
            "name": "org.apache.kafka.connect.data.Decimal",
            "parameters": {"scale": "2", "connect.decimal.precision": "10"},
            "optional": True,
            "field": "balance",
        }
    ]
    b64 = base64.b64encode((1999).to_bytes(2, "big", signed=True)).decode()
    raw = _raw(
        spark,
        [_env("c", {"id": 1, "email": "a@x", "balance": b64}, 0, fields)],
    )
    spec = evolve_spec(SPEC, detect_drift(raw, SPEC))
    parsed = parse_envelope(raw, spec)
    by_name = {f.name: f.dataType for f in parsed.schema.fields}
    assert by_name["balance"] == T.DecimalType(10, 2)
    assert parsed.collect()[0].balance == Decimal("19.99")


def test_streaming_drift_policy_end_to_end(spark, tmp_path):
    """run_cdc_stream(drift_policy='evolve'): a file-source stream
    whose second batch carries the widened in-band schema; the added
    column lands in state across micro-batches of one stream AND
    across a checkpoint-restarted second stream."""
    RAW_SCHEMA = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("offset", T.LongType()),
        ]
    )

    def line(ev):
        k, v, off = ev
        return json.dumps({"key": k, "value": v, "offset": off})

    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(
            [
                line(_env("c", {"id": 1, "email": "a@x"}, 0)),
                line(_env("c", {"id": 2, "email": "b@x"}, 1)),
            ]
        )
    )
    state = ParquetStateTable(spark, str(tmp_path / "state"), ["id"], n_buckets=4)
    state.init(spark.createDataFrame([], "id long, email string"))
    ckpt = str(tmp_path / "ckpt")

    stream = spark.readStream.schema(RAW_SCHEMA).json(str(src))
    run_cdc_stream(
        stream, SPEC, state, ckpt, drift_policy="evolve"
    ).awaitTermination()
    assert {r.id for r in state.read().collect()} == {1, 2}

    fields2 = BASE_FIELDS + [{"type": "int32", "optional": True, "field": "age"}]
    (src / "b2.json").write_text(
        line(_env("u", {"id": 2, "email": "b2@x", "age": 52}, 2, fields2))
    )
    stream2 = spark.readStream.schema(RAW_SCHEMA).json(str(src))
    run_cdc_stream(
        stream2, SPEC, state, ckpt, drift_policy="evolve"
    ).awaitTermination()
    rows = {r.id: r for r in state.read().collect()}
    assert rows[2].email == "b2@x" and rows[2].age == 52
    assert rows[1].age is None  # pre-evolution row, NULL-filled read


def test_no_drift_with_logical_typed_base_schema(spark):
    """A base spec whose columns are themselves logical-typed (Decimal/
    Date declared via annotations) must compare clean against the
    matching in-band schema — the declared LOGICAL Spark type equals
    the mapped Connect type, not the wire type."""
    spec = TableSpec(
        name="orders",
        key_cols=("id",),
        value_schema=T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("price", T.DecimalType(10, 2)),
                T.StructField("order_date", T.DateType()),
            ]
        ),
        logical=(
            ("price", "org.apache.kafka.connect.data.Decimal"),
            ("order_date", "io.debezium.time.Date"),
        ),
    )
    fields = [
        {"type": "int64", "optional": False, "field": "id"},
        {
            "type": "bytes",
            "name": "org.apache.kafka.connect.data.Decimal",
            "parameters": {"scale": "2", "connect.decimal.precision": "10"},
            "optional": True,
            "field": "price",
        },
        {
            "type": "int32",
            "name": "io.debezium.time.Date",
            "optional": True,
            "field": "order_date",
        },
    ]
    raw = _raw(
        spark,
        [_env("c", {"id": 1, "price": "B0s=", "order_date": 19000}, 0, fields)],
    )
    assert not detect_drift(raw, spec).has_drift


def test_streaming_drift_dead_letter_quarantine(spark, tmp_path):
    """Destructive drift with a dead-letter dir: the offending batch is
    quarantined (with _batch_id/_drift_reason) and SKIPPED, the stream
    keeps running, state is untouched, and a later clean batch still
    merges through the same checkpoint."""
    RAW_SCHEMA = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("offset", T.LongType()),
        ]
    )

    def line(ev):
        k, v, off = ev
        return json.dumps({"key": k, "value": v, "offset": off})

    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.json").write_text(line(_env("c", {"id": 1, "email": "a@x"}, 0)))
    state = ParquetStateTable(spark, str(tmp_path / "state"), ["id"], n_buckets=4)
    state.init(spark.createDataFrame([], "id long, email string"))
    ckpt = str(tmp_path / "ckpt")
    dlq = str(tmp_path / "drift_dlq")

    run_cdc_stream(
        spark.readStream.schema(RAW_SCHEMA).json(str(src)),
        SPEC, state, ckpt,
        drift_policy="evolve", drift_dead_letter_dir=dlq,
    ).awaitTermination()
    assert {r.id for r in state.read().collect()} == {1}

    # batch 2: upstream DROPPED email — destructive; must quarantine
    dropped = [{"type": "int64", "optional": False, "field": "id"}]
    (src / "b2.json").write_text(line(_env("u", {"id": 1}, 1, dropped)))
    run_cdc_stream(
        spark.readStream.schema(RAW_SCHEMA).json(str(src)),
        SPEC, state, ckpt,
        drift_policy="evolve", drift_dead_letter_dir=dlq,
    ).awaitTermination()
    assert {(r.id, r.email) for r in state.read().collect()} == {(1, "a@x")}
    dl = spark.read.parquet(dlq).collect()
    assert len(dl) == 1
    assert "missing: email" in dl[0]._drift_reason
    assert dl[0]._batch_id == 1  # checkpoint continues batch numbering

    # crash between the quarantine write and the checkpoint commit: the
    # restart replays batch 1, which must not quarantine it a second time
    os.remove(os.path.join(ckpt, "commits", "1"))
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run_cdc_stream(
        spark.readStream.schema(RAW_SCHEMA).json(str(src)),
        SPEC, state, ckpt,
        drift_policy="evolve", drift_dead_letter_dir=dlq,
    ).awaitTermination()
    assert spark.read.parquet(dlq).count() == 1

    # batch 3: clean again — stream still works on the same checkpoint
    (src / "b3.json").write_text(line(_env("c", {"id": 2, "email": "b@x"}, 2)))
    run_cdc_stream(
        spark.readStream.schema(RAW_SCHEMA).json(str(src)),
        SPEC, state, ckpt,
        drift_policy="evolve", drift_dead_letter_dir=dlq,
    ).awaitTermination()
    assert {r.id for r in state.read().collect()} == {1, 2}
    assert spark.read.parquet(dlq).count() == 1  # no new quarantines


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_POOL = [
    ("age", {"type": "int32", "optional": True, "field": "age"}, T.IntegerType()),
    ("score", {"type": "double", "optional": True, "field": "score"}, T.DoubleType()),
    ("vip", {"type": "boolean", "optional": True, "field": "vip"}, T.BooleanType()),
    (
        "signup",
        {"type": "int32", "name": "io.debezium.time.Date",
         "optional": True, "field": "signup"},
        T.DateType(),
    ),
]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    add=st.sets(st.integers(0, 3), max_size=3),
    drop_email=st.booleans(),
    widen_n=st.booleans(),
)
def test_detect_drift_matches_perturbation(spark, add, drop_email, widen_n):
    """Random DDL perturbations of a base schema must be reported
    EXACTLY: every added pool field in `added` (with its mapped type),
    a dropped column in `missing`, a numeric widening in `widened`,
    and nothing else."""
    spec = TableSpec(
        name="t",
        key_cols=("id",),
        value_schema=T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("email", T.StringType()),
                T.StructField("n", T.IntegerType()),
            ]
        ),
    )
    fields = [{"type": "int64", "optional": False, "field": "id"}]
    if not drop_email:
        fields.append({"type": "string", "optional": True, "field": "email"})
    fields.append(
        {"type": "int64" if widen_n else "int32", "optional": True, "field": "n"}
    )
    for i in sorted(add):
        fields.append(_POOL[i][1])
    raw = _raw(spark, [_env("c", {"id": 1}, 0, fields)])
    report = detect_drift(raw, spec)
    assert set(report.added) == {_POOL[i][0] for i in sorted(add)}
    for i in sorted(add):
        assert report.added[_POOL[i][0]][0] == _POOL[i][2]
    assert report.missing == (["email"] if drop_email else [])
    assert set(report.widened) == ({"n"} if widen_n else set())
    assert not report.retyped
    assert report.incompatible == drop_email


def test_quarantined_batch_replays_after_spec_fix(spark, tmp_path):
    """The triage loop: a quarantined destructive-drift batch is
    REPLAYABLE — after the operator accepts the narrowed schema (new
    spec + state rebuild), feeding the dead-lettered payload back
    through the batch path merges it."""
    from spark_streaming_with_debezium_spark.cdc.pipeline import batch_apply

    state = ParquetStateTable(spark, str(tmp_path / "st"), ["id"], n_buckets=2)
    state.init(spark.createDataFrame([], "id long, email string"))
    dropped = [{"type": "int64", "optional": False, "field": "id"}]
    bad = _raw(spark, [_env("u", {"id": 7}, 1, dropped)])
    with pytest.raises(SchemaDriftError):
        apply_drift(bad, SPEC, state)
    # quarantine exactly as run_cdc_stream would
    dlq = str(tmp_path / "dlq")
    bad.withColumn("_batch_id", F.lit(0)).withColumn(
        "_drift_reason", F.lit("missing: email")
    ).write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "_batch_id"
    ).parquet(dlq)

    # operator decision: accept the narrowed table (id-only spec), new
    # state dir; replay the quarantined payload through batch_apply
    spec_fixed = TableSpec(
        name="t",
        key_cols=("id",),
        value_schema=T.StructType([T.StructField("id", T.LongType())]),
    )
    state2 = ParquetStateTable(spark, str(tmp_path / "st2"), ["id"], n_buckets=2)
    state2.init(spark.createDataFrame([], "id long"))
    replay = spark.read.parquet(dlq).drop("_batch_id", "_drift_reason")
    batch_apply(replay, spec_fixed, state2, seq_cols=("offset",))
    assert [r.id for r in state2.read().collect()] == [7]


def test_registry_multi_table_drift_isolated(spark, tmp_path):
    """CdcRegistry(drift_policy='evolve'): one topic's ADD COLUMN
    evolves ONLY that table's spec and state; the sibling table on the
    same stream is untouched."""
    from spark_streaming_with_debezium_spark.cdc.registry import CdcRegistry

    reg = CdcRegistry(
        spark, str(tmp_path / "states"), n_buckets=2, drift_policy="evolve"
    )
    spec_a = TableSpec(
        name="a", topic="t.a", key_cols=("id",),
        value_schema=T.StructType(
            [T.StructField("id", T.LongType()),
             T.StructField("email", T.StringType())]
        ),
    )
    spec_b = TableSpec(
        name="b", topic="t.b", key_cols=("id",),
        value_schema=T.StructType(
            [T.StructField("id", T.LongType()),
             T.StructField("email", T.StringType())]
        ),
    )
    sa, sb = reg.register(spec_a), reg.register(spec_b)
    sa.init(spark.createDataFrame([], "id long, email string"))
    sb.init(spark.createDataFrame([], "id long, email string"))

    def with_topic(events, topic):
        return [(k, v, topic, off) for k, v, off in events]

    fields2 = BASE_FIELDS + [{"type": "int32", "optional": True, "field": "age"}]
    batch = spark.createDataFrame(
        with_topic([_env("c", {"id": 1, "email": "a@x", "age": 9}, 0, fields2)], "t.a")
        + with_topic([_env("c", {"id": 5, "email": "e@x"}, 1)], "t.b"),
        "key string, value string, topic string, offset long",
    )
    reg.apply_batch(batch)
    ra = {r.id: r for r in reg.state_of("a").read().collect()}
    assert ra[1].age == 9  # drift-added column landed for table a
    rb = reg.state_of("b").read().collect()
    assert [r.id for r in rb] == [5]
    assert "age" not in rb[0].asDict()  # table b untouched
    # the evolved spec persists on the route for the next batch
    assert "age" in reg._routes["t.a"][0].data_cols
    assert "age" not in reg._routes["t.b"][0].data_cols
