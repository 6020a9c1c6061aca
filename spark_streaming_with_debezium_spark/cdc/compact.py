"""Last-write-wins compaction of a change batch (SURVEY §2.5 W1).

The reference gets in-batch ordering implicitly by replaying events one
at a time through the driver (`DebeziumDeltaFormatter.scala:14-26`); a
set-based merge instead errors on duplicate keys (Delta's
multiple-match error — reference defect §2.11-4). Compacting each batch
to the latest event per key BEFORE merging fixes that and is also the
scale win: the merge join then touches each key once, however many
events the batch carried.

Implementation: :func:`compact_latest`, the engine's one LWW kernel — a
single hash-partitioned window (shuffle on the merge key — the same
shuffle the merge join needs, so at scale Catalyst reuses the
partitioning) + ``row_number() == 1``. A batch whose key is half of all
events stays within 2× of a uniform batch end to end
(``test_hot_key_batch_through_merge``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def compact_latest(
    changes: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str] = ("ts_ms",),
) -> DataFrame:
    """Keep only the latest change row per key (highest ``order_cols``).

    ``order_cols`` must be a total order within a key — for Kafka input
    use ``("partition", "offset")``; for synthesized batches a
    monotone sequence id. (Debezium guarantees per-key ordering within
    a topic partition, so (partition, offset) is a correct LWW order.)
    """
    ordering = [F.col(c).desc_nulls_last() for c in order_cols]
    w = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(*ordering)
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
