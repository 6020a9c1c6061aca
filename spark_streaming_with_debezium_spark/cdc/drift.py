"""Schema-drift detection + state evolution for the Debezium stream.

Debezium ships the Kafka Connect schema IN-BAND with every record when
``*_CONVERTER_SCHEMAS_ENABLE=true`` (the reference's configuration,
`ContainerTestWrapper.scala:21-22`): the value is
``{"schema": {...}, "payload": {...}}``. The repo's static
``from_json`` parse deliberately ignores the schema member — which
means an ``ALTER TABLE ADD COLUMN`` upstream is silently DROPPED (a
narrower envelope still parses), and a REMOVED column silently nulls
out. Neither surfaces through dead_letters, whose job is unparseable
envelopes only. The reference has the same blindness one step earlier:
its hardcoded single-table schema is its README's acknowledged TODO
(`README.md:51`).

This module closes the loop:

- :func:`observed_after_schema` — the DISTINCT in-band after-image
  schemas of a batch. Scale discipline: records are grouped by a
  64-bit fingerprint of the schema string first (map-side combined;
  distinct count ≈ 1 + number of mid-batch DDL changes, i.e. tiny),
  so the driver collects a handful of schema JSONs, never rows.
- :func:`detect_drift` — diff observed vs ``TableSpec``: added
  columns (with Connect→Spark type + logical-annotation mapping,
  composing with cdc/envelope.py's logical decoders), missing
  columns, retyped columns (split into lossless widenings vs
  incompatible changes).
- :func:`evolve_spec` / :func:`apply_drift` — the decision point:
  additive drift auto-extends the parquet state (stored-schema
  evolution via ``ParquetStateTable.evolve`` — old bucket files stay
  untouched, read NULL-filled) and returns the widened ``TableSpec``
  for subsequent parses; destructive drift raises
  :class:`SchemaDriftError` so the caller can dead-letter the batch
  VISIBLY instead of merging silently-corrupted rows.

``run_cdc_stream(..., drift_policy="evolve")`` wires this into the
continuous path per micro-batch.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_streaming_with_debezium_spark.cdc.envelope import TableSpec

#: Connect primitive type → Spark type.
_CONNECT_PRIMITIVES = {
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
}

#: Connect/Debezium logical schema name → (Spark type or None to keep
#: primitive mapping, logical annotation for TableSpec.logical).
_CONNECT_LOGICAL = {
    "io.debezium.time.date": (T.DateType(), "date"),
    "org.apache.kafka.connect.data.date": (T.DateType(), "date"),
    "io.debezium.time.timestamp": (T.TimestampType(), "timestamp-millis"),
    "org.apache.kafka.connect.data.timestamp": (
        T.TimestampType(),
        "timestamp-millis",
    ),
    "io.debezium.time.microtimestamp": (T.TimestampType(), "timestamp-micros"),
    "io.debezium.time.zonedtimestamp": (T.TimestampType(), "zoned-timestamp"),
    "io.debezium.time.microtime": (T.LongType(), "time-micros"),
}


class SchemaDriftError(ValueError):
    """Raised for destructive drift (dropped/narrowed/retyped columns)
    or for any drift under ``policy='strict'`` — the caller should
    route the batch to a dead-letter sink, not merge it."""

    def __init__(self, message: str, report: "DriftReport"):
        super().__init__(message)
        self.report = report


def connect_field_to_spark(f: dict) -> tuple[T.DataType, str | None]:
    """One Connect schema field dict → (Spark type, logical annotation).

    Debezium's Decimal field looks like ``{"type": "bytes", "name":
    "org.apache.kafka.connect.data.Decimal", "parameters": {"scale":
    "2", "connect.decimal.precision": "10"}}``.
    """
    name = (f.get("name") or "").lower()
    if name == "org.apache.kafka.connect.data.decimal":
        params = f.get("parameters") or {}
        scale = int(params.get("scale", 0))
        precision = int(params.get("connect.decimal.precision", 38))
        return T.DecimalType(precision, scale), f"decimal({precision},{scale})"
    if name in _CONNECT_LOGICAL:
        return _CONNECT_LOGICAL[name]
    t = f.get("type")
    if t in _CONNECT_PRIMITIVES:
        return _CONNECT_PRIMITIVES[t], None
    raise SchemaDriftError(
        f"unmappable Connect field {f.get('field')!r}: type={t!r} "
        f"name={f.get('name')!r}",
        DriftReport(),
    )


def observed_after_schema(
    raw: DataFrame, value_col: str = "value"
) -> list[list[dict]]:
    """Distinct after-image field lists observed in the batch's in-band
    Connect schemas. Returns one ``fields`` list (of Connect field
    dicts) per distinct schema; empty if the producer runs with
    schemas.enable=false (no in-band schema member).

    One distributed aggregate: fingerprint-groupBy on the schema
    string (map-side combine collapses each partition to its distinct
    schemas), then a bounded driver collect of the few survivors.
    """
    sch = F.get_json_object(F.col(value_col).cast("string"), "$.schema")
    distinct = (
        raw.filter(F.col(value_col).isNotNull())
        .select(sch.alias("_schema"))
        .filter(F.col("_schema").isNotNull())
        .groupBy(F.xxhash64("_schema").alias("_fp"))
        .agg(F.first("_schema").alias("_schema"))
        .collect()
    )
    out: list[list[dict]] = []
    for r in distinct:
        doc = json.loads(r._schema)
        for fld in doc.get("fields", []):
            if fld.get("field") == "after":
                out.append(fld.get("fields", []))
                break
    return out


#: Lossless widenings (mirrors ParquetStateTable._WIDENINGS).
_WIDENINGS = frozenset(
    {
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"),
        ("int", "bigint"),
        ("float", "double"),
    }
)


@dataclass
class DriftReport:
    #: col → (Spark type, logical annotation or None) for columns the
    #: source now has that the spec does not.
    added: dict[str, tuple[T.DataType, str | None]] = field(default_factory=dict)
    #: spec columns absent from the observed schema (narrowing!).
    missing: list[str] = field(default_factory=list)
    #: col → (declared, observed) for lossless type widenings.
    widened: dict[str, tuple[T.DataType, T.DataType]] = field(default_factory=dict)
    #: col → (declared, observed) for incompatible type changes.
    retyped: dict[str, tuple[T.DataType, T.DataType]] = field(default_factory=dict)

    @property
    def has_drift(self) -> bool:
        return bool(self.added or self.missing or self.widened or self.retyped)

    @property
    def incompatible(self) -> bool:
        return bool(self.missing or self.retyped)

    def describe(self) -> str:
        bits = []
        if self.added:
            bits.append(
                "added: "
                + ", ".join(
                    f"{c} {t.simpleString()}" for c, (t, _) in self.added.items()
                )
            )
        if self.missing:
            bits.append("missing: " + ", ".join(self.missing))
        if self.widened:
            bits.append(
                "widened: "
                + ", ".join(
                    f"{c} {a.simpleString()}→{b.simpleString()}"
                    for c, (a, b) in self.widened.items()
                )
            )
        if self.retyped:
            bits.append(
                "retyped: "
                + ", ".join(
                    f"{c} {a.simpleString()}→{b.simpleString()}"
                    for c, (a, b) in self.retyped.items()
                )
            )
        return "; ".join(bits) or "none"


def detect_drift(raw: DataFrame, spec: TableSpec, value_col: str = "value") -> DriftReport:
    """Diff the batch's in-band Connect schemas against ``spec``.

    Multiple distinct schemas in one batch (a DDL change mid-batch)
    are unioned ORDER-INDEPENDENTLY (the fingerprint collect has no
    chronology): a column is `missing` only if absent from EVERY
    observed schema; a widening/retype observed in ANY schema is
    reported even if another schema still matches the declared type.
    No in-band schema → no detectable drift (report is empty).
    """
    schemas = observed_after_schema(raw, value_col=value_col)
    report = DriftReport()
    if not schemas:
        return report
    declared = {f.name: f.dataType for f in spec.value_schema.fields}
    seen_cols: set[str] = set()
    for fields in schemas:
        for fld in fields:
            col = fld.get("field")
            if col is None:
                continue
            seen_cols.add(col)
            observed_t, ann = connect_field_to_spark(fld)
            if col not in declared:
                report.added[col] = (observed_t, ann)
                continue
            old_t = declared[col]
            if old_t == observed_t:
                continue
            pair = (old_t.simpleString(), observed_t.simpleString())
            if pair in _WIDENINGS:
                report.widened[col] = (old_t, observed_t)
            else:
                report.retyped[col] = (old_t, observed_t)
    report.missing = [c for c in spec.data_cols if c not in seen_cols]
    return report


def evolve_spec(spec: TableSpec, report: DriftReport) -> TableSpec:
    """The widened TableSpec after additive drift: added columns are
    appended (with their logical annotations), widened columns retyped.
    Raises for incompatible drift — evolve never destroys."""
    if report.incompatible:
        raise SchemaDriftError(
            f"incompatible schema drift for {spec.name}: {report.describe()}",
            report,
        )
    fields = []
    for f in spec.value_schema.fields:
        if f.name in report.widened:
            fields.append(T.StructField(f.name, report.widened[f.name][1]))
        else:
            fields.append(f)
    logical = dict(spec.logical)
    for col, (dtype, ann) in report.added.items():
        fields.append(T.StructField(col, dtype))
        if ann is not None:
            logical[col] = ann
    return TableSpec(
        name=spec.name,
        key_cols=spec.key_cols,
        value_schema=T.StructType(fields),
        topic=spec.topic,
        exclude_cols=spec.exclude_cols,
        logical=tuple(logical.items()),
    )


def apply_drift(
    raw: DataFrame,
    spec: TableSpec,
    state,
    policy: str = "evolve",
    value_col: str = "value",
) -> TableSpec:
    """Detect drift in ``raw`` and act on it. Returns the spec to parse
    this batch with (possibly widened).

    - no drift → ``spec`` unchanged.
    - additive/widening drift, ``policy='evolve'`` → evolve the state
      table's stored schema (old bucket files untouched; they read
      NULL-filled / upcast) and return the widened spec.
    - incompatible drift, or any drift under ``policy='strict'`` →
      :class:`SchemaDriftError` (dead-letter the batch; a narrowed
      envelope must surface, not silently drop data).
    """
    if policy not in ("evolve", "strict"):
        raise ValueError(f"unknown drift policy: {policy!r}")
    report = detect_drift(raw, spec, value_col=value_col)
    if not report.has_drift:
        return spec
    if policy == "strict":
        raise SchemaDriftError(
            f"schema drift for {spec.name} (policy=strict): "
            f"{report.describe()}",
            report,
        )
    new_spec = evolve_spec(spec, report)  # raises when incompatible
    if state is not None:
        changes = {
            col: dtype.simpleString() for col, (dtype, _) in report.added.items()
        }
        changes.update(
            {col: b.simpleString() for col, (_, b) in report.widened.items()}
        )
        state.evolve(changes)
    return new_spec
