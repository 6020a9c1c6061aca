"""Time travel for the CDC state table: reconstruct the keyed state as
of any past batch from an append-only change log.

Delta gets this from its transaction log; on plain parquet one manifest
store at the table's path (``storage/manifest.py``) names

- ``snapshot`` — the state as of the base sequence (the initial state,
  advanced by each ``compact_log`` retention tick);
- ``log/<seq>`` — every compacted change batch, one directory per
  batch, each row carrying its ``_batch_seq``;
- the current state's bucket directories (``self.current``, a
  :class:`ParquetStateTable` on the same store);

and holds the sequence counter, the base sequence and the merged
``data_cols`` as metadata. ``merge_logged`` publishes the logged batch,
the current state's rewritten buckets and the new sequence in ONE
manifest, as do ``init``, ``compact_log`` and ``purge_keys``: a crash
leaves every face of the table at the old version or the new one.

``as_of(seq)`` = LWW-compact the log entries ``base < s <= seq`` and
apply them to the snapshot — one window + one merge join, O(log size up
to seq), no stored per-version copies. (Retained manifests cannot serve
it instead: a micro-batch touching every bucket would make each retained
version a whole copy of the state.) The audit/"what did the dashboard
say on Tuesday" capability CDC pipelines are asked for.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_with_debezium_spark.cdc.compact import compact_latest
from spark_streaming_with_debezium_spark.cdc.merge import (
    ParquetStateTable,
    apply_changes,
)
from spark_streaming_with_debezium_spark.storage.fs import StateFS, fs_for_path
from spark_streaming_with_debezium_spark.storage.manifest import Manifest

_SNAPSHOT, _LOG = "snapshot", "log/"


class TimeTravelStateTable:
    """ParquetStateTable + retained change log + as_of reconstruction."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: Sequence[str],
        n_buckets: int = 16,
        fs: StateFS | None = None,
    ):
        self.spark = spark
        self.path = path
        self.fs = fs if fs is not None else fs_for_path(spark, path)
        self.key_cols = list(key_cols)
        self.current = ParquetStateTable(spark, path, key_cols, n_buckets, fs=self.fs)

    def _manifest(self) -> Manifest:
        return Manifest.open(self.fs, self.path)

    @property
    def _seq(self) -> int:
        """Sequence number of the last logged batch."""
        return self._manifest().meta.get("seq", 0)

    @property
    def _base_seq(self) -> int:
        """Sequence the snapshot represents (0 until a retention tick)."""
        return self._manifest().meta.get("base_seq", 0)

    @property
    def _data_cols(self) -> list[str] | None:
        return self._manifest().meta.get("data_cols")

    def init(self, snapshot: DataFrame) -> None:
        """Bootstrap (or re-bootstrap) from a snapshot. A re-init also
        drops the old change log: replay/as_of must never mix batches of
        two histories."""
        m = self._manifest()
        snap = m.new_dir("snapshot")
        snapshot.write.mode("overwrite").parquet(snap)
        updates, meta = self.current._init_updates(m, self.spark.read.parquet(snap))
        updates.update({_LOG + s: None for s in m.named(_LOG)})
        updates[_SNAPSHOT] = snap
        m.commit(updates, **meta, seq=0, base_seq=0, data_cols=None)

    def merge_logged(
        self, changes: DataFrame, data_cols: Sequence[str] | None = None
    ) -> int:
        """Merge into current state AND append the (compacted) batch to
        the log, in one commit. Returns the batch sequence number."""
        m = self._manifest()
        seq, stored = m.meta.get("seq", 0), m.meta.get("data_cols")
        # as_of applies the SAME column subset as the maintained current
        # state (a balance-only merge must stay balance-only when
        # replayed historically). The guard is two-sided: as_of replays
        # EVERY batch with one data_cols value, so mixing full-row
        # merges (None) with subset merges in either order silently
        # drops columns on replay — reject both.
        if data_cols is None:
            if stored is not None:
                raise ValueError(
                    f"full-row merge after subset merges ({stored}) "
                    "— historical replay would diverge"
                )
        else:
            if stored is not None and list(data_cols) != stored:
                raise ValueError(
                    f"data_cols changed across merges: {stored} "
                    f"vs {list(data_cols)} — historical replay would diverge"
                )
            if stored is None and seq > 0:
                raise ValueError(
                    f"subset merge ({list(data_cols)}) after full-row merges "
                    "— historical replay would diverge"
                )
            stored = list(data_cols)
        seq += 1
        log_dir = m.new_dir("log")
        changes.withColumn("_batch_seq", F.lit(seq)).write.mode("overwrite").parquet(log_dir)
        # replay from what was logged (exactly-once even if the caller's
        # DataFrame is non-deterministic)
        replay = self.spark.read.parquet(log_dir).drop("_batch_seq")
        updates = self.current._merge_updates(m, replay, data_cols)
        updates[f"{_LOG}{seq}"] = log_dir
        m.commit(updates, seq=seq, data_cols=stored)
        return seq

    def read(self) -> DataFrame:
        return self.current.read()

    def as_of(self, seq: int) -> DataFrame:
        """State as of (and including) batch ``seq``; seq=base →
        snapshot. Raises for seq below the retention horizon — that
        history was folded away by :meth:`compact_log`."""
        return self._as_of(self._manifest(), seq)

    def _as_of(self, m: Manifest, seq: int) -> DataFrame:
        base = m.meta.get("base_seq", 0)
        if seq < base:
            raise ValueError(
                f"as_of({seq}) is beyond the retention horizon: log "
                f"batches <= {base} were folded into the "
                "snapshot by compact_log and can no longer be replayed"
            )
        snapshot = self.spark.read.parquet(m.path(_SNAPSHOT))
        logs = [d for s, d in sorted(m.named(_LOG).items()) if base < int(s) <= seq]
        if not logs:
            return snapshot
        latest = compact_latest(
            self.spark.read.parquet(*logs), self.key_cols, order_cols=["_batch_seq"]
        ).drop("_batch_seq")
        return apply_changes(
            snapshot, latest, self.key_cols, data_cols=m.meta.get("data_cols")
        )

    def compact_log(self, upto_seq: int) -> int:
        """Retention: fold log batches ``<= upto_seq`` into the
        snapshot and drop their entries, in one commit. After this,
        ``as_of(s)`` serves only ``s >= upto_seq`` — the standard lake
        trade of history depth for bounded storage; the reconstruction
        is one window + one merge. Returns the number of log batches
        dropped."""
        m = self._manifest()
        upto_seq = min(upto_seq, m.meta.get("seq", 0))
        if upto_seq <= m.meta.get("base_seq", 0):
            return 0
        snap = m.new_dir("snapshot")
        self._as_of(m, upto_seq).write.mode("overwrite").parquet(snap)
        folded = {_LOG + s: None for s in m.named(_LOG) if int(s) <= upto_seq}
        m.commit({_SNAPSHOT: snap, **folded}, base_seq=upto_seq)
        return len(folded)


def reduce_and(conds):
    """AND-fold a non-empty list of Column predicates."""
    from functools import reduce

    return reduce(lambda x, y: x & y, conds)


def changes_between(
    table: TimeTravelStateTable, seq_a: int, seq_b: int
) -> DataFrame:
    """Change feed between two retained versions — the "table changes"
    API (Delta CDF / Debezium snapshot-diff shape): one row per key
    whose state differs between ``as_of(seq_a)`` and ``as_of(seq_b)``,
    tagged ``_change_type`` ∈ insert/delete/update, with the NEW image
    for inserts/updates and the OLD image for deletes.

    Plan: one full outer join on the key columns (both sides already
    reconstruct through bucket-pruned snapshot+log merges); equality
    compares the data columns null-safely. No per-version log scans
    beyond what as_of itself needs. At 100 TB the join co-partitions
    on the same key both state tables bucket by."""
    a = table.as_of(seq_a)
    b = table.as_of(seq_b)
    data_cols = [c for c in b.columns if c not in table.key_cols]
    # Side-presence via literal flags, NOT key nullability: the join is
    # eqNullSafe (NULL key values are legal), so a row whose first key
    # column is legitimately NULL must still read as "present".
    aa = a.select(
        *[F.col(c).alias(f"_a_{c}") for c in a.columns],
        F.lit(True).alias("_a_present"),
    )
    b = b.withColumn("_b_present", F.lit(True))
    join_cond = [
        F.col(f"_a_{k}").eqNullSafe(F.col(k)) for k in table.key_cols
    ]
    j = aa.join(b, on=reduce_and(join_cond), how="full")
    in_a = F.col("_a_present").isNotNull()
    in_b = F.col("_b_present").isNotNull()
    same = reduce_and(
        [F.col(f"_a_{c}").eqNullSafe(F.col(c)) for c in data_cols]
    )
    change = (
        F.when(~in_a & in_b, "insert")
        .when(in_a & ~in_b, "delete")
        .when(~same, "update")
    )
    keyed = [
        F.coalesce(F.col(k), F.col(f"_a_{k}")).alias(k)
        for k in table.key_cols
    ]
    imaged = [
        F.when(in_b, F.col(c)).otherwise(F.col(f"_a_{c}")).alias(c)
        for c in data_cols
    ]
    return (
        j.withColumn("_change_type", change)
        .filter(F.col("_change_type").isNotNull())
        .select(*keyed, *imaged, "_change_type")
    )




def purge_keys(table: TimeTravelStateTable, keys: DataFrame) -> dict[str, int]:
    """Right-to-be-forgotten: scrub every row matching ``keys`` (on the
    table's key columns) from the CURRENT state, the base SNAPSHOT, and
    every retained LOG batch — after this, no ``read()``, ``as_of``
    or ``changes_between`` at any version can reproduce the keys.
    Unlike a tombstone merge (which deletes forward but leaves history
    replayable), purge rewrites history itself — the GDPR/erasure
    semantics a lake table needs out-of-band of normal CDC flow.

    Keys are a broadcast anti-join side (erasure requests are small by
    nature). The three rewrites land in new directories and one commit
    publishes them all, so a crash leaves every store scrubbed or none;
    re-invoking purge with the same keys is a no-op rewrite. Returns
    rows dropped per store. At 100 TB: one bounded rewrite per store;
    the log rewrite keeps one directory per batch so as_of still reads
    only the batches it needs."""
    spark = table.spark
    m = table._manifest()
    k = F.broadcast(keys.select(*table.key_cols).distinct())
    dropped: dict[str, int] = {}

    def scrub(df: DataFrame, name: str) -> DataFrame:
        keep = df.join(k, table.key_cols, "left_anti")
        dropped[name] = df.count() - keep.count()
        return keep

    snap = m.new_dir("snapshot")
    scrub(spark.read.parquet(m.path(_SNAPSHOT)), "snapshot").write.mode(
        "overwrite"
    ).parquet(snap)
    updates: dict[str, str | None] = {_SNAPSHOT: snap}
    logs = m.named(_LOG)
    dropped["log"] = 0
    if logs:
        # one directory per batch: partition by a copy of _batch_seq so
        # the files keep the column as_of orders by
        kept = scrub(spark.read.parquet(*logs.values()), "log")
        updates.update({_LOG + s: None for s in logs})
        for s, d in m.write_partitioned(
            kept.withColumn("_log", F.col("_batch_seq")), "log", "_log"
        ).items():
            updates[_LOG + s] = d
    # rebuilt as by init(): new directories, so the rewrite may read
    # the current state it replaces
    cur, meta = table.current._init_updates(m, scrub(table.current._read(m), "current"))
    m.commit({**updates, **cur}, **meta)
    return dropped
