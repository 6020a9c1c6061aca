"""Transaction-atomic multi-table CDC apply (Debezium transaction
metadata).

The reference applies every event in a micro-batch independently
(`StreamingJobExecutor.scala:47-61`), so a reader can observe HALF of a
source transaction that touched two tables — or half of one whose
events were split across micro-batches. Debezium's
``provide.transaction.metadata=true`` mode ships the fix on the wire
(public Debezium docs, v1.0+): every data event carries a
``transaction`` block (``{id, total_order, data_collection_order}``)
and a dedicated transaction topic emits ``END`` markers with the
transaction's total ``event_count``. This module buffers data events
until their transaction's END marker AND all of its events have
arrived, then applies the complete transaction's events to every
affected table in one batch — readers never observe a torn source
transaction, across tables OR across micro-batches.

Semantics per micro-batch (:func:`apply_batch_transactional`):

1. events WITHOUT a transaction block apply immediately (passthrough —
   non-transactional topics keep the reference's behavior);
2. transactional events and END markers are unioned into the pending
   buffer, deduplicated by Kafka ``(topic, partition, offset)`` /
   transaction id so foreachBatch replays after a crash cannot
   double-count;
3. a transaction is COMPLETE when ``count(buffered events) ==
   end.event_count``; complete transactions' events are routed through
   the normal per-table parse→compact→merge
   (:meth:`CdcRegistry.apply_batch`), incomplete ones stay buffered.

Crash safety: the buffer is a manifest store (``storage/manifest.py``)
— each write lands its three parquet directories and publishes them in
one manifest — and every table merge commits atomically and is
idempotent (LWW on key + offsets), so the crash-replay of a
micro-batch re-applies the same complete transactions onto the same
state harmlessly.

Scale: the buffer holds only IN-FLIGHT transactions (steady-state: a
few seconds of open transactions, not history); completeness is one
groupBy(transaction id) over buffer∪batch — a uniform key — joined to
the END markers. No driver collect anywhere; per-table applies reuse
the bucketed merge path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_with_debezium_spark.cdc.registry import CdcRegistry
from spark_streaming_with_debezium_spark.storage.fs import StateFS, fs_for_path
from spark_streaming_with_debezium_spark.storage.manifest import Manifest

_EVENTS_SCHEMA = (
    "topic string, key string, value string, partition int, offset long, "
    "txn_id string"
)
_ENDS_SCHEMA = "txn_id string, event_count long"
_APPLIED_SCHEMA = "txn_id string, applied_batch long"


class TxnBuffer:
    """Pending store: buffered ``events``, END markers (``ends``) and
    the ``applied`` ledger, one parquet directory each, named by one
    manifest at ``path``. ``write`` publishes all three at once, so
    every crash state holds one complete buffer."""

    _PARTS = {"events": _EVENTS_SCHEMA, "ends": _ENDS_SCHEMA, "applied": _APPLIED_SCHEMA}

    def __init__(self, spark: SparkSession, path: str, fs: StateFS | None = None):
        self.spark = spark
        self.path = path
        self.fs = fs if fs is not None else fs_for_path(spark, path)

    def read(self) -> tuple[DataFrame, DataFrame, DataFrame]:
        m = Manifest.open(self.fs, self.path)
        return tuple(
            self.spark.read.schema(schema).parquet(m.path(name))
            if name in m.entries
            else self.spark.createDataFrame([], schema)
            for name, schema in self._PARTS.items()
        )

    def write(
        self, events: DataFrame, ends: DataFrame, applied: DataFrame
    ) -> None:
        m = Manifest.open(self.fs, self.path)
        dirs = {name: m.new_dir(name) for name in self._PARTS}
        for name, df in zip(self._PARTS, (events, ends, applied)):
            df.write.mode("overwrite").parquet(dirs[name])
        m.commit(dirs)


def split_transactional(
    raw_batch: DataFrame, txn_topic: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(immediate, txn_events, ends) from one raw Kafka batch.

    ``ends`` parses the transaction topic's END markers; ``txn_events``
    are data events carrying a transaction id; ``immediate`` is
    everything else (non-transactional passthrough)."""
    is_boundary = F.col("topic") == txn_topic
    data = raw_batch.filter(~is_boundary).withColumn(
        "txn_id",
        F.get_json_object(F.col("value").cast("string"), "$.payload.transaction.id"),
    )
    ends = (
        raw_batch.filter(is_boundary)
        .select(
            F.get_json_object(F.col("value").cast("string"), "$.payload.status")
            .alias("status"),
            F.get_json_object(F.col("value").cast("string"), "$.payload.id")
            .alias("txn_id"),
            F.get_json_object(
                F.col("value").cast("string"), "$.payload.event_count"
            )
            .cast("long")
            .alias("event_count"),
        )
        .filter(F.col("status") == "END")
        .select("txn_id", "event_count")
    )
    immediate = data.filter(F.col("txn_id").isNull()).drop("txn_id")
    txn_events = data.filter(F.col("txn_id").isNotNull()).select(
        "topic", "key", "value", "partition", "offset", "txn_id"
    )
    return immediate, txn_events, ends


def apply_batch_transactional(
    registry: CdcRegistry,
    buffer: TxnBuffer,
    raw_batch: DataFrame,
    txn_topic: str,
    batch_id: int = 0,
    keep_applied_batches: int = 1000,
) -> None:
    """foreachBatch body providing source-transaction atomicity on top
    of :meth:`CdcRegistry.apply_batch` (docstring at module top).

    ``keep_applied_batches`` bounds the applied-transaction ledger:
    re-delivered events of an already-applied transaction (a crash
    replay — its END marker is long gone from the buffer) are DROPPED
    against this ledger rather than buffered forever; ids older than
    the retention window age out, matching how far back foreachBatch
    can actually replay."""
    immediate, txn_events, ends = split_transactional(raw_batch, txn_topic)
    registry.apply_batch(immediate, batch_id)

    pend_events, pend_ends, applied = buffer.read()
    applied = applied.persist()
    fresh_events = txn_events.join(applied, "txn_id", "left_anti")
    fresh_ends = ends.join(applied, "txn_id", "left_anti")
    all_events = (
        pend_events.unionByName(fresh_events)
        .dropDuplicates(["topic", "partition", "offset"])
        .persist()
    )
    try:
        all_ends = pend_ends.unionByName(fresh_ends).dropDuplicates(["txn_id"])
        counts = all_events.groupBy("txn_id").agg(
            F.count(F.lit(1)).alias("n_seen")
        )
        complete = (
            counts.join(all_ends, "txn_id")
            .filter(F.col("n_seen") == F.col("event_count"))
            .select("txn_id")
        )
        to_apply = all_events.join(complete, "txn_id", "left_semi").drop(
            "txn_id"
        )
        registry.apply_batch(to_apply, batch_id)
        keep_events = all_events.join(complete, "txn_id", "left_anti")
        keep_ends = all_ends.join(complete, "txn_id", "left_anti")
        new_applied = applied.unionByName(
            complete.withColumn("applied_batch", F.lit(batch_id).cast("long"))
        ).filter(
            F.col("applied_batch") > F.lit(batch_id - keep_applied_batches)
        )
        buffer.write(keep_events, keep_ends, new_applied)
    finally:
        all_events.unpersist()
        applied.unpersist()


def run_transactional_stream(
    registry: CdcRegistry,
    buffer: TxnBuffer,
    raw_stream: DataFrame,
    checkpoint_dir: str,
    txn_topic: str,
    available_now: bool = True,
):
    """One streaming query: transaction-atomic apply across every
    registered table."""
    writer = (
        raw_stream.writeStream.foreachBatch(
            lambda b, bid: apply_batch_transactional(
                registry, buffer, b, txn_topic, bid
            )
        )
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
