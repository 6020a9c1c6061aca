"""Parquet table catalog for the synthetic star schema (TESTDATA.md).

Scans stay declarative (``spark.read.parquet``) so Catalyst gets
predicate pushdown, column pruning and partition pruning for free —
check with ``plans.explain.scan_info``. At 100 TB the same call reads a
partitioned/bucketed layout; nothing here assumes single-file input.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # events.parquet stores ts as TIMESTAMP(NANOS), which Spark 4 rejects
    # unless read as a long; convert ns→µs here so every consumer sees a
    # TimestampType column. Set the confs per-call so the engine works in
    # any host session (e.g. the driver's own SparkSession): UTC makes
    # session-tz-sensitive ops line up with DuckDB's tz-naive values.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def table_column_max(sf_dir: str, name: str, col: str):
    """Max of a numeric column from parquet FOOTER statistics — zero
    data scan (row-group max stats are exact for int64). The
    scale-honest way to pick a batch split point: an
    ``agg(max).collect()`` would cost one extra full scan of the table
    per query invocation. Fails closed: returns None when the column is
    missing or ANY row group lacks stats (a max over the rest could be
    too small), and the caller falls back to the scan."""
    import glob as _glob

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    files = (
        sorted(_glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    mx = None
    for fp in files:
        meta = pq.ParquetFile(fp).metadata
        col_idx = next(
            (
                i
                for i in range(meta.num_columns)
                if meta.schema.column(i).path == col
            ),
            None,
        )
        if col_idx is None:
            return None
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(col_idx).statistics
            if st is None or not st.has_min_max:
                return None
            mx = st.max if mx is None else max(mx, st.max)
    return mx


#: Logical node names allowed in a frame the partition probe may touch:
#: bare relation scans plus narrow per-row operators. Anything else
#: (Aggregate, Window, Join, Generate, ...) means ``Dataset.rdd`` would
#: MATERIALIZE upstream query stages under AQE — a real job, executed
#: eagerly and discarded — instead of merely planning file splits.
_SCAN_ONLY_NODES = frozenset(
    {"Project", "Filter", "LogicalRelation", "Relation", "RelationV2"}
)


def _leaf_scan_partitions(df: DataFrame) -> int | None:
    """Input-split count of a SCAN-ROOTED frame, or ``None`` when the
    frame is streaming or carries any non-trivial operator.

    The guard is load-bearing (r13 advice): ``df.rdd`` on a frame with
    a shuffle/window upstream executes those stages eagerly under AQE
    — on the streaming CDC dedup path that silently ran the whole
    parse+compact window once per micro-batch just to read a partition
    count that was then discarded. Restricting the probe to plans made
    of scan + project/filter keeps it a pure planning operation (file
    splits are computed driver-side, no job)."""
    if df.isStreaming:
        return None
    plan = df._jdf.queryExecution().optimizedPlan()
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() not in _SCAN_ONLY_NODES:
            return None
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return df.rdd.getNumPartitions()


def scan_is_small(df: DataFrame) -> bool:
    """True iff ``df`` is a scan-rooted frame whose scan yields fewer
    splits than ``defaultParallelism`` — the local single-row-group
    regime where the spread/broadcast-friendly plan shapes apply. At
    production data volumes (many files / row groups) this is False,
    so callers' small-input fast paths self-disable."""
    parts = _leaf_scan_partitions(df)
    return (
        parts is not None
        and parts < df.sparkSession.sparkContext.defaultParallelism
    )


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Fan a small single-split scan out to every core before heavy
    per-row compute.

    The local test tables are single-row-group parquet files, so each
    scan plans as ONE input split and any expensive projection chained
    onto it (shingle explode + md5, chunk-boundary hashing, JSON
    encode/decode) runs on one core of local[N] — the input-skew
    pattern of the optimization guide (§2.5/§6: a split can never be
    finer than a row group). One round-robin exchange of the projected
    columns costs a single pass over a few MB and buys N-way
    parallelism for everything downstream (measured 3.3× on
    dedup_cdc_chunks at sf0.1: 4.06 s → 1.22 s interleaved A/B).

    Scale-adaptive by construction: when the scan already yields at
    least ``defaultParallelism`` splits (any real deployment — many
    files / many row groups), the exchange is skipped entirely, so
    production plans are untouched. Apply AFTER the narrowest
    projection so only needed columns cross the exchange (guide §2.3).
    Only scan-rooted frames are probed (``_leaf_scan_partitions``):
    for those the partition probe plans the scan but runs no job;
    any other frame (e.g. the streaming dedup micro-batch, already
    shuffle-partitioned upstream) is returned unchanged.
    """
    parts = _leaf_scan_partitions(df)
    if parts is None:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if parts >= target:
        return df
    return df.repartition(target)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    """Register each table as a temp view (for the ``spark.sql`` surface)."""
    tables = load_tables(spark, sf_dir, names)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
