"""Real Structured Streaming jobs (SURVEY §2.9 T1–T9).

These run the SAME event-time expressions as ``streaming.batch_equiv``
but as genuine streams: file source → watermark → windowed agg /
dedup → sink, driven deterministically with ``availableNow`` (drain
everything, then stop) — the trigger a 100 TB backfill would use, and
the only deterministic one for tests.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_streaming_with_debezium_spark.storage.fs import StateFS, fs_for_path
from spark_streaming_with_debezium_spark.storage.manifest import Manifest

_LOG = logging.getLogger(__name__)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_file_stream(
    spark: SparkSession, dir_path: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """Deterministic file-source stream of events rows (json lines).

    One file per trigger by default so multi-file inputs replay as
    multiple micro-batches (watermarks only advance BETWEEN batches —
    in a single batch nothing is ever 'late')."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(dir_path)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """T5+T6: watermarked tumbling-window aggregate. In append mode a
    window emits once the watermark passes its end — late rows beyond
    the watermark are dropped (T9)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def trending_topk_stream(
    events: DataFrame,
    out_dir: str,
    k: int = 3,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "1 hour",
):
    """The real streaming face of `stream_trending_topk`: a watermarked
    sliding-window count in append mode, ranked per window in
    ``foreachBatch`` (rank over an append stream is not expressible
    inside one streaming query — the sink stage ranks each emitted
    window; identical expressions to the batch query).

    Append mode emits ALL of a window's (window, event_type) rows in
    the single micro-batch whose watermark closes the window, so the
    per-batch rank always sees a complete window — no cross-batch
    rank state is needed. The rank window partitions on window_start
    with at most |event_type| rows per partition. The sink writes each
    closed window's top-k with DYNAMIC PARTITION OVERWRITE on
    window_start: a replayed batch (failure between the parquet write
    and the checkpoint commit, or a full re-drain without a
    checkpoint) re-emits the same closed windows and overwrites
    exactly those partitions — genuinely idempotent, where a plain
    append would duplicate them (ADVICE r7)."""
    from pyspark.sql import Window

    counted = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n"
        )
    )

    def rank_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return  # P3 empty-batch guard
        w = Window.partitionBy("window_start").orderBy(
            F.col("n").desc(), F.col("event_type")
        )
        (
            batch_df.withColumn("rn", F.row_number().over(w).cast("long"))
            .filter(F.col("rn") <= k)
            .write.option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .partitionBy("window_start")
            .parquet(out_dir)
        )

    q = (
        counted.writeStream.outputMode("append")
        .foreachBatch(rank_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def dedup_within_watermark(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """T8: streaming duplicate-delivery guard — state for each seen key
    is kept only within the watermark, so state size is bounded by the
    event rate × watermark, not the full history (the 100 TB
    requirement for infinite streams)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Drain an availableNow stream into an in-memory table; returns the
    query (stopped) for inspection via ``spark.sql(f"select * from {name}")``."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def running_totals_stateful(events: DataFrame) -> DataFrame:
    """T10: arbitrary stateful op — per-user running totals via
    applyInPandasWithState. Custom state beyond what windowed aggs
    express: keeps (count, total) per user across micro-batches and
    emits the updated snapshot each batch.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def attribution_stateful(events: DataFrame) -> DataFrame:
    """T10 + the streaming face of `events_attribution_last_touch`:
    per-user last-touch state via applyInPandasWithState. Each
    micro-batch sorts its rows by (ts, event_id), attributes every
    purchase to the carried last NON-purchase touch ('direct' when
    none), and advances the state to the latest touch — so attribution
    is correct across batch boundaries, which is exactly what the
    batch window cannot give a stream. State is ONE (type, ts_us)
    pair per user: O(users), not O(history). Correct under per-key
    event-time-ordered batch arrival (the file-source tests' shape);
    an out-of-order event older than the carried touch never
    overwrites it (the ts guard below)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("channel", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_type", T.StringType()),
            T.StructField("last_us", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        last_type, last_us = (
            state.get if state.exists else (None, -(1 << 62))
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        out = []
        for r in batch.itertuples(index=False):
            ts_us = int(r.ts.value // 1000)  # pandas ns -> us
            if r.event_type == "purchase":
                out.append(
                    (
                        int(r.event_id),
                        int(key[0]),
                        last_type if last_type is not None else "direct",
                        float(r.value),
                    )
                )
            elif ts_us >= last_us:
                last_type, last_us = r.event_type, ts_us
        state.update((last_type, last_us))
        if out:
            yield pd.DataFrame(
                out, columns=["event_id", "user_id", "channel", "value"]
            )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_totals_tws(events: DataFrame) -> DataFrame:
    """T10 on the Spark 4 API: transformWithStateInPandas with a
    StatefulProcessor + ValueState — the successor to
    applyInPandasWithState (kept above for comparison). Same semantics:
    per-user running (count, total) emitted each batch.

    Requires ``google.protobuf`` (the state-server protocol) and the
    RocksDB state store; in environments without protobuf use
    :func:`running_totals_stateful` (identical semantics).
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    # transformWithState requires the RocksDB state store (the provider
    # that supports its multi-state-variable layout); the default HDFS
    # provider crashes the state worker.
    events.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            state_schema = T.StructType(
                [
                    T.StructField("n", T.LongType()),
                    T.StructField("total", T.DoubleType()),
                ]
            )
            self._state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, total = (0, 0.0)
            if self._state.exists():
                n, total = self._state.get()
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def run_to_console(df: DataFrame, output_mode: str = "append"):
    """S8: console/debug sink — the reference's per-batch df.show()
    (`DebeziumDeltaFormatter.scala:28`) as a proper sink; availableNow
    so it drains and stops."""
    q = (
        df.writeStream.format("console")
        .outputMode(output_mode)
        .option("truncate", "false")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def rate_source(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Built-in rate source — infinite (timestamp, value) rows; the
    zero-dependency way to smoke a streaming topology."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


def interval_join_streams(
    views: DataFrame,
    clicks: DataFrame,
    max_gap: str = "30 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """T-family stream-stream join with event-time bounds: clicks
    within ``max_gap`` after a view by the same user — the genuine
    two-stream form of ``batch_equiv.stream_interval_join`` (same
    condition, same output columns).

    Both sides carry a watermark and the join condition bounds
    click_ts relative to view_ts in BOTH directions, so Spark can
    expire per-user state once the watermark passes view_ts + max_gap
    — without the bounds the state store grows forever (the classic
    unbounded stream-join failure).

    ``how='left_outer'`` additionally emits unmatched views with null
    click columns — but only once the watermark has passed the view's
    join window (Spark must be SURE no matching click can still
    arrive), which happens in a batch AFTER the one that advanced the
    watermark. Callers draining with availableNow therefore see outer
    nulls only if at least one more micro-batch runs after the
    watermark moved past view_ts + max_gap."""
    v = views.withWatermark("ts", watermark).select(
        F.col("user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    return v.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {max_gap}")),
        how,
    ).select(
        "user_id",
        "view_id",
        "click_id",
        "view_ts",
        "click_ts",
        (F.unix_timestamp("click_ts") - F.unix_timestamp("view_ts")).alias(
            "gap_sec"
        ),
    )


def enrich_stream_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    on,
    how: str = "inner",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static join: enrich a streaming fact with a batch
    dimension. Structured Streaming re-resolves the STATIC side every
    micro-batch, so a dimension backed by a parquet/Delta path serves
    fresh snapshots to a long-running stream without a restart — the
    streaming twin of ``sources.csv_source.enrich``.

    The static side is broadcast by default: the stream side then needs
    NO shuffle for the join (stateless, unlike stream-stream joins — no
    watermark or state store involved), which is the only plan that
    holds up when the stream side is the 100 TB fact. ``how`` follows
    batch join semantics; left joins keep unmatched stream rows."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, on, how)


def sessionize_stateful(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful sessionization with EVENT-TIME TIMEOUTS: emits
    each user session exactly once, when it CLOSES — either because a
    later event arrived past the gap (data-driven close) or because
    the watermark passed session_end + gap with no successor
    (timeout-driven close; an open session would otherwise never emit).
    The streaming dual of the batch ``events_sessionize_gap`` query,
    and the one stateful-API feature ``running_totals_stateful``
    doesn't exercise: ``GroupStateTimeout.EventTimeTimeout`` +
    ``setTimeoutTimestamp``, the mechanism that bounds state for keys
    that simply stop talking (state per user is one (start, last, n)
    triple, freed at timeout — without it, one-visit users accumulate
    state forever).

    Event times are tracked in epoch MICROseconds (the engine's
    event-time grain; see SCALING.md §10). Timeout timestamps are
    milliseconds per the GroupState API — the gap comparison itself
    never truncates. REQUIRES a UTC session timezone (enforced below):
    Arrow hands the state function wall-clock-naive timestamps in the
    session zone, while the GroupState watermark API speaks true UTC
    epoch millis — under any other zone every timeout would shift by
    the zone offset. In-watermark out-of-order arrivals reconcile via
    an interval walk: batch events and the stored (start, last, n)
    triple sort together by start time and merge under the gap rule
    (start=min, end=max, counts add), so multiple late events that
    predate the stored session sessionize AMONG THEMSELVES — batch
    08:00+08:10 against a 10:00 session emits ONE late session, the
    same answer the batch ``events_sessionize_gap`` dual gives — and
    only the walk's final session stays open in state. (Remaining
    limitation: an already-EMITTED late session can't be re-opened by
    an even-later arrival in a subsequent micro-batch; it would emit
    as a separate session.)"""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    tz = events.sparkSession.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise ValueError(
            f"sessionize_stateful requires spark.sql.session.timeZone=UTC "
            f"(got {tz!r}): the state function sees session-zone wall-clock "
            "timestamps but GroupState timeouts are UTC epoch millis"
        )
    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def close_row(user_id, start_us, last_us, n):
        return (
            user_id,
            pd.to_datetime(start_us, unit="us"),
            pd.to_datetime(last_us, unit="us"),
            n,
        )

    def update(key, pdfs, state: GroupState):
        closed = []
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            closed.append(close_row(key[0], start_us, last_us, n))
            state.remove()
        else:
            # pin the unit explicitly: pandas 2.x may hand Arrow batches
            # back as datetime64[us]/[ms], where a bare int64 view would
            # silently shift all session math by 1000x
            items = []
            for pdf in pdfs:
                ns = pdf["ts"].astype("datetime64[ns]").astype("int64")
                items.extend((int(v) // 1000, int(v) // 1000, 1) for v in ns)
            if state.exists:
                items.append(tuple(state.get))
            # interval walk: single events and the stored session triple
            # merge in start order under the gap rule — late events
            # sessionize among themselves instead of each emitting alone,
            # and start<=end holds for any out-of-order interleaving
            items.sort(key=lambda it: (it[0], it[1]))
            cur = None
            for it in items:
                if cur is None:
                    cur = it
                elif it[0] - cur[1] > gap_us:
                    # next item starts beyond the gap: close, open new
                    closed.append(close_row(key[0], *cur))
                    cur = it
                else:
                    cur = (cur[0], max(cur[1], it[1]), cur[2] + it[2])
            if cur is not None:
                # fire once the WATERMARK (not the clock) passes
                # last-event-time + gap; API takes epoch millis. If the
                # watermark ALREADY passed that point (e.g. another key
                # advanced it far beyond this group's events), the API
                # rejects the stale timestamp — and the session is by
                # definition closeable NOW, so emit it directly.
                timeout_ms = cur[1] // 1000 + gap_minutes * 60_000
                if timeout_ms <= state.getCurrentWatermarkMs():
                    closed.append(close_row(key[0], *cur))
                    if state.exists:
                        state.remove()
                else:
                    state.update(cur)
                    state.setTimeoutTimestamp(timeout_ms)
        yield pd.DataFrame(
            closed,
            columns=["user_id", "session_start", "session_end", "n_events"],
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_heavy_hitters(
    events: DataFrame,
    token_col: str = "event_type",
    n_buckets: int = 64,
    k_per_bucket: int = 1024,
) -> DataFrame:
    """Streaming heavy hitters with BOUNDED state: per hash-bucket of
    tokens, a mergeable Misra-Gries summary (k counters) lives in
    ``applyInPandasWithState`` state and absorbs each micro-batch via
    a vectorized value_counts merge + overflow prune — the streaming
    dual of ``text_heavy_hitter_tokens`` (llm/text_analysis.py), and
    the one sketch shape windowed aggregations cannot express (a
    per-token groupBy would grow state with vocabulary size forever;
    this holds ≤ n_buckets × k counters TOTAL, no timeouts needed).

    A token maps to exactly one bucket, so the MG bound applies per
    bucket: any token absent from its bucket's summary has true count
    ≤ bucket_count/k, and every token with global count above that is
    guaranteed present (emitted counts are MG lower bounds; they are
    EXACT while a bucket's vocabulary fits in k). Each batch emits
    the updated summary for buckets that saw data (update mode)."""
    import pandas as pd

    def mg_update(key, pdfs, state):
        if state.exists:
            toks, counts = state.get
            acc = pd.Series(list(counts), index=list(toks), dtype="int64")
        else:
            acc = pd.Series(dtype="int64")
        for pdf in pdfs:
            acc = acc.add(pdf["tok"].value_counts(), fill_value=0)
            if len(acc) > k_per_bucket:
                cut = acc.nlargest(k_per_bucket + 1).iloc[-1]
                acc = acc - cut
                acc = acc[acc > 0]
        acc = acc.astype("int64")
        state.update((list(acc.index.astype(str)), [int(v) for v in acc]))
        yield pd.DataFrame(
            {
                "bucket": key[0],
                "token": acc.index.astype(str),
                "min_count": acc.to_numpy(),
            }
        )

    out_schema = T.StructType(
        [
            T.StructField("bucket", T.IntegerType()),
            T.StructField("token", T.StringType()),
            T.StructField("min_count", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("toks", T.ArrayType(T.StringType())),
            T.StructField("counts", T.ArrayType(T.LongType())),
        ]
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    toks = events.select(
        F.pmod(F.xxhash64(F.col(token_col)), F.lit(n_buckets))
        .cast("int")
        .alias("bucket"),
        F.col(token_col).cast("string").alias("tok"),
    )
    return toks.groupBy("bucket").applyInPandasWithState(
        mg_update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_STATE = "state"  # manifest entry naming a sketch stream's state directory


def sketch_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The committed state rows of :func:`run_rolling_hll_stream`
    (``day, sk``) or :func:`run_cms_token_stream` (``i, bucket, c``),
    read from the directory the state's manifest names."""
    m = Manifest.open(fs_for_path(spark, state_dir), state_dir)
    return spark.read.parquet(m.path(_STATE))


def _commit_state(m: Manifest, state: DataFrame, **meta) -> None:
    """Write a sketch stream's whole (tiny) state into a new directory
    and publish it, with ``meta``, in one manifest commit."""
    out = m.new_dir(_STATE)
    state.write.mode("overwrite").parquet(out)
    m.commit({_STATE: out}, **meta)


def run_rolling_hll_stream(
    events: DataFrame, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental DAILY-HLL sketch state maintained by a stream — the
    streaming face of ``operators/sketches.py``: each micro-batch
    folds its rows into per-day sketches (``hll_sketch_agg``) and
    MERGES them into a (day, sketch) parquet state table with the
    two-arg ``hll_union`` — the whole point of a mergeable sketch is
    that this incremental fold needs NO raw-event history: state is
    O(days) × 4 KiB forever, and any rolling-window distinct count is
    served from state alone (`sketch_hll_rolling_users` shape)
    without re-reading a single event.

    Replay safety: each batch rewrites the full (tiny) state into a new
    directory published by one manifest commit (``storage/manifest.py``),
    so a crash at ANY point leaves the previous state or the new one. A
    replayed batch re-unions the same day sketches — HLL union is
    IDEMPOTENT (set-semantics state machine), so duplicate delivery
    cannot inflate estimates, which a counter-based state table cannot
    claim.
    """
    fs = fs_for_path(events.sparkSession, state_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.take(1):  # P3 empty-batch guard
            _hll_fold(fs, state_dir, batch_df)

    q = (
        events.writeStream.outputMode("append")
        .foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _hll_fold(fs: StateFS, state_dir: str, batch_df: DataFrame) -> None:
    """One micro-batch of :func:`run_rolling_hll_stream`."""
    from spark_streaming_with_debezium_spark.operators.sketches import (
        LG_CONFIG_K,
    )

    m = Manifest.open(fs, state_dir)
    daily = batch_df.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(LG_CONFIG_K)).alias("sk_new")
    )
    if _STATE in m.entries:
        merged = (
            batch_df.sparkSession.read.parquet(m.path(_STATE))
            .join(daily, "day", "full_outer")
            .select(
                "day",
                F.when(
                    F.col("sk").isNotNull() & F.col("sk_new").isNotNull(),
                    F.expr("hll_union(sk, sk_new)"),
                )
                .otherwise(F.coalesce("sk", "sk_new"))
                .alias("sk"),
            )
        )
    else:
        merged = daily.select("day", F.col("sk_new").alias("sk"))
    _commit_state(m, merged)


def rolling_hll_estimates(spark: SparkSession, state_dir: str) -> DataFrame:
    """7-day rolling distinct estimates served PURELY from the sketch
    state table (no event access) — the query side of
    :func:`run_rolling_hll_stream`."""
    daily = sketch_state(spark, state_dir)
    days = daily.select(F.col("day").alias("anchor"))
    in_window = (F.col("day") <= F.col("anchor")) & (
        F.col("day") >= F.date_sub(F.col("anchor"), 6)
    )
    return (
        days.join(F.broadcast(daily), in_window)
        .groupBy("anchor")
        .agg(F.expr("hll_union_agg(sk)").alias("sk"))
        .select(
            F.col("anchor").alias("day"),
            F.expr("hll_sketch_estimate(sk)").alias("est_users_7d"),
        )
    )


DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def docs_file_stream(
    spark: SparkSession, dir_path: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """Deterministic file-source stream of (doc_id, text) json lines —
    the document twin of :func:`events_file_stream`."""
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(dir_path)


def run_cms_token_stream(
    docs: DataFrame, state_dir: str, checkpoint_dir: str
) -> None:
    """Incremental token count-min sketch maintained by a stream — the
    streaming face of ``operators/sketches.sketch_cms_heavy_hitters``,
    and the EXACTLY-ONCE counterpart of :func:`run_rolling_hll_stream`:
    HLL union is idempotent, so replays are harmless there; CMS cells
    are COUNTERS, merged by addition, and a replayed batch would
    double-count. The standard Structured Streaming recipe applies —
    fence on the monotone ``batch_id`` foreachBatch provides: the state
    records the last applied id, and a batch with id ≤ last is skipped
    (a restart replays the uncommitted batch with the SAME id, so the
    fence makes add-merge transactional).

    Atomicity: the fence lives in the same manifest that names the
    counters' directory, and each batch publishes both in one commit,
    so counters and fence can never diverge — and the fence check reads
    the manifest, not the state rows (no Spark job).

    ADVICE r9: the state also records the checkpoint's stable query id
    (``run_id``). Batch ids restart at 0 when a stream is pointed at
    existing state with a FRESH checkpoint directory, so the fence
    still skips (re-drains of the same source must stay idempotent) —
    but a fenced batch whose run identity differs from the state's is
    logged as a loud warning: if the fresh-checkpoint stream carries
    genuinely new data, that skip is data loss and the operator must
    either reuse the original checkpoint or reset the state table.

    State is d×w longs (16 KiB) forever — any token's running count is
    served from state alone via :func:`cms_token_estimates`, no
    document history kept. At 100 TB the per-batch sketch build is one
    explode + map-side-combined groupBy into ≤ d·w rows.
    """
    import json
    import os

    fs = fs_for_path(docs.sparkSession, state_dir)

    def _checkpoint_query_id() -> str:
        """Stable per-checkpoint stream identity — Structured Streaming
        writes ``<checkpoint>/metadata`` ({"id": uuid}) once at stream
        start and reuses it on every restart of the same checkpoint."""
        try:
            with open(os.path.join(checkpoint_dir, "metadata")) as f:
                return str(json.load(f).get("id", ""))
        except (OSError, ValueError):
            return ""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.take(1):  # P3 empty-batch guard
            _cms_fold(fs, state_dir, batch_df, batch_id, _checkpoint_query_id())

    q = (
        docs.writeStream.outputMode("append")
        .foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _cms_fold(
    fs: StateFS, state_dir: str, batch_df: DataFrame, batch_id: int, run_id: str
) -> None:
    """One micro-batch of :func:`run_cms_token_stream`, fenced on
    ``batch_id``."""
    from spark_streaming_with_debezium_spark.llm.corpus_rules import (
        normalize_text,
    )
    from spark_streaming_with_debezium_spark.llm.dedup import _md5_60bit
    from spark_streaming_with_debezium_spark.operators.sketches import (
        _cms_hash_exprs,
    )

    m = Manifest.open(fs, state_dir)
    last = m.meta.get("last_batch_id")
    if last is not None and batch_id <= last:
        prev_run = m.meta.get("run_id")
        if prev_run and run_id and prev_run != run_id:
            _LOG.warning(
                "cms fence: batch %d <= committed %d but the "
                "stream identity changed (%s -> %s) — a fresh "
                "checkpoint was pointed at existing CMS state. "
                "Skipping keeps re-drains idempotent; if this "
                "stream carries NEW data the skip is data loss: "
                "reuse the original checkpoint or reset the "
                "state table.",
                batch_id, last, prev_run, run_id,
            )
        else:
            _LOG.warning(
                "cms fence: skipping replayed batch %d "
                "(last committed %d)", batch_id, last,
            )
        return  # fenced: this batch already committed
    toks = batch_df.select(
        F.explode(F.split(normalize_text("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    tok_counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("cnt")
    ).withColumn("h", _md5_60bit(F.col("tok")))
    delta = (
        tok_counts.select(
            "cnt",
            F.posexplode(
                F.array(*_cms_hash_exprs(F.col("h")))
            ).alias("i", "bucket"),
        )
        .groupBy("i", "bucket")
        .agg(F.sum("cnt").alias("dc"))
    )
    if _STATE in m.entries:
        merged = (
            batch_df.sparkSession.read.parquet(m.path(_STATE))
            .join(delta, ["i", "bucket"], "full_outer")
            .select(
                "i",
                "bucket",
                (
                    F.coalesce(F.col("c"), F.lit(0))
                    + F.coalesce(F.col("dc"), F.lit(0))
                ).alias("c"),
            )
        )
    else:
        merged = delta.select("i", "bucket", F.col("dc").alias("c"))
    _commit_state(m, merged, last_batch_id=int(batch_id), run_id=run_id)


def cms_token_estimates(
    spark: SparkSession, state_dir: str, tokens: list[str]
) -> DataFrame:
    """Point-query the streaming CMS state: (token, est_cnt) with
    est = min over the d row cells — served purely from the 16 KiB
    counter state, no document access (the query side of
    :func:`run_cms_token_stream`)."""
    from spark_streaming_with_debezium_spark.llm.dedup import _md5_60bit
    from spark_streaming_with_debezium_spark.operators.sketches import (
        _cms_hash_exprs,
    )

    state = sketch_state(spark, state_dir)
    toks = spark.createDataFrame(
        [(t,) for t in tokens], "token string"
    ).withColumn("h", _md5_60bit(F.col("token")))
    hashed = toks.select(
        "token",
        F.posexplode(F.array(*_cms_hash_exprs(F.col("h")))).alias(
            "i", "bucket"
        ),
    )
    return (
        hashed.join(F.broadcast(state), ["i", "bucket"], "left")
        .groupBy("token")
        .agg(
            F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("est_cnt")
        )
    )


def run_ivf_upsert_stream(
    vectors: DataFrame, index_path: str, checkpoint_dir: str
) -> None:
    """Streaming ANN index maintenance: a stream of (vec_id, embedding)
    rows — e.g. the CDC feed of an embeddings table — folds into the
    persistent :class:`~spark_streaming_with_debezium_spark.llm.
    ivf_index.IvfIndex` via its touched-cell ``upsert``, so searches
    see new/changed vectors without any rebuild. The index must exist
    (``IvfIndex.build`` on the initial corpus — the snapshot/binlog
    split, same as the CDC jobs).

    Replay safety comes from upsert's LWW semantics (a batch id always
    supersedes the resident row), so no batch fencing is needed —
    re-delivery lands the identical rows. Per batch, cost is O(batch)
    assignment + a rewrite of only the touched cells; centroids stay
    frozen (re-train on ``cell_balance`` drift, the standard IVF
    policy)."""
    from spark_streaming_with_debezium_spark.llm.ivf_index import IvfIndex

    spark = vectors.sparkSession
    idx = IvfIndex(spark, index_path)

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return  # P3 empty-batch guard
        idx.upsert(batch_df)

    q = (
        vectors.writeStream.outputMode("append")
        .foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
