"""Property tests for the round-4 pipeline operators — independent
Python references, not the SQL oracles (those are mirrored in
test_oracle_equivalence; these check the SEMANTICS hold against a
from-scratch reimplementation)."""

from pyspark.sql import functions as F

from spark_streaming_with_debezium_spark.llm.pipeline_ops import pack_sequences
from spark_streaming_with_debezium_spark.operators.more_relational import (
    events_sessionize_gap,
)
from spark_streaming_with_debezium_spark.sources.tables import load_table


def test_pack_sequences_offsets_are_contiguous(spark, sf_dir):
    """Walking docs per source in doc_id order, each doc must start
    exactly where the previous one ended: seq_id*2048 + seq_offset ==
    running token total so far."""
    rows = pack_sequences(spark, sf_dir).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    assert by_source
    for source, docs in by_source.items():
        docs.sort(key=lambda r: r.doc_id)
        running = 0
        for r in docs:
            assert r.seq_id * 2048 + r.seq_offset == running, (source, r)
            running += r.n_tokens


def test_sessionize_gap_boundaries(spark, sf_dir):
    """Within a session, consecutive event gaps are <= 30 min; every
    session's first event either opens the user's history or follows a
    gap > 30 min; session indexes are 1..n_sessions contiguous."""
    e = load_table(spark, sf_dir, "events")
    events = sorted(
        e.select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("usec"),
        ).collect(),
        # mirror the operator's window ordering: (ts, event_id)
        key=lambda r: (r.user_id, r.usec, r.event_id),
    )
    sessions = events_sessionize_gap(spark, sf_dir).collect()

    # independent reference: assign sessions by walking the stream
    ref = {}
    last_sec, idx = {}, {}
    for r in events:
        u = r.user_id
        # microsecond-precise gap, matching the operator (a whole-second
        # reference truncates 1800.5s gaps to 1800 and misses boundaries)
        if u not in last_sec or r.usec - last_sec[u] > 1800 * 1_000_000:
            idx[u] = idx.get(u, 0) + 1
        last_sec[u] = r.usec
        key = (u, idx[u])
        start, n = ref.get(key, (r.usec, 0))
        ref[key] = (min(start, r.usec), n + 1)

    got = {(s.user_id, s.session_idx): (s.n_events, s.duration_sec) for s in sessions}
    assert set(got) == set(ref)
    for key, (n_events, duration) in got.items():
        assert n_events == ref[key][1], key
    # contiguous indexes per user
    by_user = {}
    for u, i in got:
        by_user.setdefault(u, []).append(i)
    for u, idxs in by_user.items():
        assert sorted(idxs) == list(range(1, len(idxs) + 1)), u


def test_timeseries_prefilter_pair_equality(spark, sf_dir):
    """The prefix-filtering candidate set must make the bucketed
    timeseries_user_similarity bit-identical to the naive per-day
    all-pairs formulation (recall is a THEOREM of prefix filtering,
    but this pins the implementation: global ordering total and
    shared, prefix length d - T + 1, verification over the FULL
    overlap not just prefix days)."""
    from pyspark.sql import Window

    from spark_streaming_with_debezium_spark.operators.more_relational import (
        _similarity_candidates,
        _user_day_series,
        timeseries_user_similarity,
    )

    ud = _user_day_series(spark, sf_dir)
    # exact reference: per-day all-pairs, overlap >= 3 (testdata span is
    # short, so exercise the machinery at a threshold with rich output)
    T = 3
    exact = (
        ud.alias("a")
        .join(
            ud.alias("b"),
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(F.col("a.user_id").alias("ua"), F.col("b.user_id").alias("ub"))
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= T)
    )
    exact_pairs = {(r.ua, r.ub) for r in exact.collect()}
    cand = _similarity_candidates(ud, min_days=T)
    cand_pairs = {(r.user_a, r.user_b) for r in cand.collect()}
    assert exact_pairs, "degenerate testdata: no qualifying pairs"
    # completeness: every truly-overlapping pair survives the prefilter
    assert exact_pairs <= cand_pairs
    # effectiveness: at the production threshold the candidate join's
    # INPUT (prefix rows) is a strict subset of the full day series —
    # that's the quadratic-fan-out reduction (pair counts can tie on
    # tiny dense testdata where everyone co-occurs with everyone)
    day_freq = ud.groupBy("day").agg(F.count(F.lit(1)).alias("day_df"))
    w_rank = Window.partitionBy("user_id").orderBy("day_df", "day")
    w_all = Window.partitionBy("user_id")
    prefix_rows = (
        ud.join(F.broadcast(day_freq), "day")
        .select(
            "user_id",
            F.row_number().over(w_rank).alias("rk"),
            F.count(F.lit(1)).over(w_all).alias("d_u"),
        )
        .filter((F.col("d_u") >= 20) & (F.col("rk") <= F.col("d_u") - 19))
        .count()
    )
    assert 0 < prefix_rows < ud.count()
    # and the full query agrees with its oracle-shaped exact dual at the
    # production threshold (min_days=20, corr >= 0.5) — row sets equal
    got = {
        tuple(r)
        for r in timeseries_user_similarity(spark, sf_dir).collect()
    }
    dec = "decimal(38,6)"
    an, bn = F.col("a.n"), F.col("b.n")
    ref = (
        ud.alias("a")
        .join(
            ud.alias("b"),
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_days"),
            F.sum(an.cast(dec)).cast("double").alias("sx"),
            F.sum(bn.cast(dec)).cast("double").alias("sy"),
            F.sum((an * bn).cast(dec)).cast("double").alias("sxy"),
            F.sum((an * an).cast(dec)).cast("double").alias("sx2"),
            F.sum((bn * bn).cast(dec)).cast("double").alias("sy2"),
        )
        .filter(F.col("n_days") >= 20)
    )
    vx = F.col("n_days") * F.col("sx2") - F.col("sx") * F.col("sx")
    vy = F.col("n_days") * F.col("sy2") - F.col("sy") * F.col("sy")
    corr = (F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(vx) * F.sqrt(vy)
    )
    want = {
        tuple(r)
        for r in ref.filter((vx > 0) & (vy > 0) & (corr >= 0.5))
        .select(
            "user_a",
            "user_b",
            F.col("n_days").cast("long").alias("n_days"),
            F.round(corr, 6).alias("activity_corr"),
        )
        .collect()
    }
    assert got == want


def test_pack_sequences_bucketed_identical(spark, sf_dir):
    """The two-pass (source, doc_id-bucket) packing must be
    bit-identical to a single per-source window, at a bucket size
    small enough that testdata actually spans many buckets."""
    rows = sorted(
        tuple(r) for r in pack_sequences(spark, sf_dir, bucket_docs=32).collect()
    )
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim("text"), "\\s+")).cast("long").alias("n_tokens"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = toks.withColumn("running", F.sum("n_tokens").over(w))
    start = F.col("running") - F.col("n_tokens")
    want = sorted(
        tuple(r)
        for r in run.select(
            "doc_id",
            "source",
            "n_tokens",
            F.floor(start / 2048).cast("long").alias("seq_id"),
            (start % 2048).cast("long").alias("seq_offset"),
        ).collect()
    )
    assert rows == want


def test_global_running_matches_naive_window(spark, sf_dir):
    """scalable_windows.global_ordered_running must equal the naive
    single-task global window bit-for-bit (rank AND running sums, ASC
    and DESC orders), and ntile_from_rank must equal F.ntile for
    several k — including k > n_rows."""
    from pyspark.sql import Window

    from spark_streaming_with_debezium_spark.operators.scalable_windows import (
        global_ordered_running,
        ntile_from_rank,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    order = [F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"]
    got = global_ordered_running(
        li,
        key=(-F.col("l_extendedprice")).cast("double"),
        order_cols=order,
        sums={"cum_qty": F.col("l_quantity")},
        rank_name="rk",
        n_buckets=16,
    ).select("l_orderkey", "l_linenumber", "cum_qty", "rk")
    w = Window.orderBy(*order)
    want = li.select(
        "l_orderkey",
        "l_linenumber",
        F.sum("l_quantity")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_qty"),
        F.row_number().over(w).alias("rk"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # ntile equivalence on the exact rank, several k
    n_rows = li.count()
    for k in (3, 4, 7, n_rows + 5):
        tiles = (
            global_ordered_running(
                li,
                key=(-F.col("l_extendedprice")).cast("double"),
                order_cols=order,
                rank_name="rk",
                n_buckets=16,
            )
            .select(
                "l_orderkey",
                "l_linenumber",
                ntile_from_rank(F.col("rk"), F.lit(n_rows), k).alias("t"),
            )
        )
        ref = li.select(
            "l_orderkey",
            "l_linenumber",
            F.ntile(k).over(w).alias("t"),
        )
        assert sorted(map(tuple, tiles.collect())) == sorted(
            map(tuple, ref.collect())
        ), k


def test_token_budget_mix_respects_budget_and_greedy_prefix(spark, sf_dir):
    """Per source: selected token mass never exceeds the 40% budget,
    the selection is a PREFIX of the quality order (adding the next
    unselected doc would bust the budget), and the checksum pins the
    selected id set — all recomputed from the raw table in Python."""
    from spark_streaming_with_debezium_spark.llm.pipeline_ops import (
        _CHECKSUM_P,
        BUDGET_DEN,
        BUDGET_NUM,
        corpus_token_budget_mix,
    )
    import hashlib
    import math

    got = {r.source: r for r in corpus_token_budget_mix(spark, sf_dir).collect()}
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text", "n_chars")
        .collect()
    )
    by_source = {}
    for r in docs:
        toks = len(r.text.split())
        alpha = len([c for c in r.text if c.isascii() and c.isalpha()]) / r.n_chars
        hid = (
            int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:15], 16)
            % _CHECKSUM_P
        )
        by_source.setdefault(r.source, []).append((alpha, r.doc_id, toks, hid))
    assert set(by_source) == set(got)
    for source, rows in by_source.items():
        rows.sort(key=lambda t: (-t[0], t[1]))
        total = sum(t[2] for t in rows)
        budget = math.floor(total * BUDGET_NUM / BUDGET_DEN)
        cum, sel = 0, []
        for alpha, doc_id, toks, hid in rows:
            cum += toks
            if cum <= budget:
                sel.append((doc_id, toks, hid))
            else:
                break  # greedy prefix: first overflow ends selection
        g = got[source]
        assert g.tok_total == total and g.budget_tok == budget
        assert g.n_selected == len(sel)
        assert g.tok_selected == sum(t[1] for t in sel) <= budget
        assert g.ids_checksum == sum(t[2] for t in sel)


def test_dsir_weights_tilt_toward_target_domain(spark, sf_dir):
    """The point of importance weighting: target-domain (zh) documents
    must score a higher mean log weight than the rest of the corpus,
    and token accounting must cover the whole corpus."""
    from spark_streaming_with_debezium_spark.llm.pipeline_ops import (
        sample_importance_dsir,
    )

    rows = sample_importance_dsir(spark, sf_dir).collect()
    zh = [r.dsir_logweight / r.n_tokens for r in rows if r.lang == "zh"]
    other = [r.dsir_logweight / r.n_tokens for r in rows if r.lang != "zh"]
    assert zh and other
    assert sum(zh) / len(zh) > sum(other) / len(other)
    d = load_table(spark, sf_dir, "documents")
    n_tok = d.select(
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
    ).collect()[0][0]
    assert sum(r.n_tokens for r in rows) == n_tok
    assert len(rows) == d.count()  # every doc gets a weight


def test_shard_manifest_partitions_the_corpus(spark, sf_dir):
    """Shards 0..N-1 cover every document exactly once, token totals
    reconcile with the corpus, and hash balance stays within a loose
    statistical band (the manifest's own balance_ratio)."""
    from spark_streaming_with_debezium_spark.llm.pipeline_ops import (
        N_SHARDS,
        shuffle_shard_manifest,
    )

    rows = shuffle_shard_manifest(spark, sf_dir).collect()
    assert sorted(r.shard for r in rows) == list(range(N_SHARDS))
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    n_tok = d.select(
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
    ).collect()[0][0]
    assert sum(r.n_docs for r in rows) == n_docs
    assert sum(r.n_tokens for r in rows) == n_tok
    for r in rows:
        assert 0.4 <= r.balance_ratio <= 1.6, r
        assert abs(r.balance_ratio - r.n_docs * N_SHARDS / n_docs) < 1e-6


def test_group_split_colocates_every_near_dup_pair(spark, sf_dir):
    """The group split's whole point, checked from the raw pair list:
    every verified near-dup pair lands in ONE split; the reported
    leakage columns must agree with an independent recount; doc counts
    must cover the corpus."""
    from spark_streaming_with_debezium_spark.llm.cluster import (
        pair_components,
        split_leakage_safe_groups,
    )
    from spark_streaming_with_debezium_spark.llm.dedup import dedup_minhash_lsh

    rows = split_leakage_safe_groups(spark, sf_dir).collect()
    assert {r.split for r in rows} <= {"train", "holdout"}
    assert all(r.leak_pairs_grouped == 0 for r in rows)
    d = load_table(spark, sf_dir, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    # independent recount of the naive-split leakage from raw pairs
    import hashlib

    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b").collect()
    ]
    texts = {r.doc_id: r.text for r in d.select("doc_id", "text").collect()}

    def naive(doc):
        return (
            "holdout"
            if hashlib.md5(texts[doc].encode()).hexdigest()[:2] < "14"
            else "train"
        )

    expected_naive_leak = sum(1 for a, b in pairs if naive(a) != naive(b))
    assert all(r.leak_pairs_naive == expected_naive_leak for r in rows)
    # and the group split really is constant within each component
    comps = {
        r.node: r.comp
        for r in pair_components(
            dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
        ).collect()
    }
    def gsplit(doc):
        rep = comps.get(doc, doc)
        return (
            "holdout"
            if hashlib.md5(str(rep).encode()).hexdigest()[:2] < "14"
            else "train"
        )
    assert all(gsplit(a) == gsplit(b) for a, b in pairs)


def test_global_prev_min_matches_naive_window(spark, sf_dir):
    """global_ordered_running(prev_mins=...) must equal the naive
    single-task strictly-preceding global MIN window bit-for-bit,
    including the NULL for the global first row and bucket-boundary
    rows (first row of every non-first bucket)."""
    from pyspark.sql import Window

    from spark_streaming_with_debezium_spark.operators.scalable_windows import (
        global_ordered_running,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"
    )
    order = ["l_extendedprice", "l_orderkey", "l_linenumber"]
    got = global_ordered_running(
        li,
        key=F.col("l_extendedprice"),
        order_cols=order,
        prev_mins={"pm": F.col("l_quantity")},
        n_buckets=16,
    ).select("l_orderkey", "l_linenumber", "pm")
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, -1)
    want = li.select(
        "l_orderkey",
        "l_linenumber",
        F.min("l_quantity").over(w).alias("pm"),
    )
    keyf = lambda r: (r[0], r[1])  # noqa: E731 — NULL pm unsortable
    g = sorted(map(tuple, got.collect()), key=keyf)
    e = sorted(map(tuple, want.collect()), key=keyf)
    assert g == e
    assert any(r[2] is None for r in g)  # the global first row is NULL


def test_timeseries_bucket_guard_binds_identically(spark, tmp_path):
    """Pathological corpus for the VERDICT-r7 skew scenario: thousands
    of users sharing the same (rare-ish) days. The _MAX_DAY_BUCKET
    guard must bind, the engine and the DuckDB oracle must drop the
    SAME buckets (identical — here empty — output), and
    similarity_capped_days must log exactly the dropped days; with the
    guard lifted the candidates reappear, proving the guard (not a
    recall bug) removed them."""
    import datetime

    import duckdb

    from spark_streaming_with_debezium_spark.operators.more_relational import (
        _MAX_DAY_BUCKET,
        _similarity_candidates,
        _user_day_series,
        similarity_capped_days,
        timeseries_user_similarity,
    )
    from spark_streaming_with_debezium_spark.registry import load_all

    n_users = _MAX_DAY_BUCKET + 52
    n_days = 25  # > the T=20 overlap threshold
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (u, base + datetime.timedelta(days=d, hours=u % 24))
        for u in range(n_users)
        for d in range(n_days)
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    path = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(path)

    got = timeseries_user_similarity(spark, str(tmp_path)).collect()
    assert got == [], "engine: guard should drop every candidate bucket"

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    oracle_sql = load_all()["timeseries_user_similarity"].oracle
    assert con.execute(oracle_sql).fetchall() == [], (
        "oracle: must mirror the guard and drop the same buckets"
    )
    con.close()

    capped = {
        (r.day, r.bsize)
        for r in similarity_capped_days(spark, str(tmp_path)).collect()
    }
    # every user is active all 25 days with identical day frequency, so
    # each prefix = the first 25-20+1 = 6 calendar days, each shared by
    # ALL users (> cap)
    expect_days = {
        (base + datetime.timedelta(days=d)).date() for d in range(6)
    }
    assert capped == {(d, n_users) for d in expect_days}

    uncapped = _similarity_candidates(
        _user_day_series(spark, str(tmp_path)), 20, max_bucket=10**9
    )
    assert uncapped.limit(1).count() == 1, (
        "without the guard the candidates must reappear"
    )


def test_systematic_pps_exact_draw_count(spark, sf_dir):
    """Systematic PPS must deliver exactly PPS_M draws, never pick a
    zero-weight doc, and always pick every doc heavier than W/m."""
    from spark_streaming_with_debezium_spark.llm.pipeline_ops import (
        PPS_M,
        sample_systematic_pps,
    )
    from spark_streaming_with_debezium_spark.sources.tables import load_table

    rows = sample_systematic_pps(spark, sf_dir).collect()
    assert sum(r.n_picks for r in rows) == PPS_M
    assert all(r.weight > 0 for r in rows)
    d = load_table(spark, sf_dir, "documents")
    W = d.agg(F.sum(F.col("n_chars").cast("long"))).collect()[0][0]
    heavy = {
        r.doc_id
        for r in d.filter(F.col("n_chars").cast("long") * PPS_M >= W).collect()
    }
    picked = {r.doc_id for r in rows}
    assert heavy <= picked


def test_cdc_chunks_survive_insertion(spark, tmp_path):
    """THE content-defined-chunking property: inserting text near the
    top of a document shifts every byte offset but leaves downstream
    chunk boundaries — and so their hashes — aligned. Most of the
    original document's chunk mass must be recognized as shared with
    its prefix-edited twin (fixed-stride shingling would lose all of
    it)."""
    import hashlib

    from spark_streaming_with_debezium_spark.llm.dedup import (
        dedup_cdc_chunks,
    )

    parts = []
    h = b"seed"
    for _ in range(120):
        h = hashlib.md5(h).digest()
        parts.append(h.hex())
    text = " ".join(parts)  # ~3.9k chars of varied content
    edited = "an inserted preamble sentence! " + text
    df = spark.createDataFrame(
        [(1, text, "en", "a", len(text)), (2, edited, "en", "a", len(edited))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    rows = dedup_cdc_chunks(spark, str(tmp_path)).collect()
    shared = sum(r.n_chars for r in rows if r.n_docs == 2)
    assert shared >= 0.8 * len(text), (
        f"only {shared} of {len(text)} chars recognized as shared"
    )
