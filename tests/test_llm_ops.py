"""Property tests for the non-oracle LLM operators: LSH recall vs the
exact baseline, simhash sanity, deterministic fake decode."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from spark_streaming_with_debezium_spark.registry import load_all
from spark_streaming_with_debezium_spark.sources.tables import load_table
from spark_streaming_with_debezium_spark.storage.manifest import Manifest

QUERIES = load_all()


def test_minhash_lsh_finds_exact_neardups(spark, sf_dir):
    """Pairs with exact 3-gram-shingle jaccard >= 0.8 must be found by
    the MinHash-LSH candidates with high recall (theoretical candidate
    probability at j=0.8 with 8 bands x 4 rows is ~0.985)."""
    from spark_streaming_with_debezium_spark.llm.dedup import shingle_set

    d = load_table(spark, sf_dir, "documents")
    ws = d.select("doc_id", shingle_set(F.col("text")).alias("sh"))
    a, b = ws.alias("a"), ws.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size("a.sh") + F.size("b.sh") - inter
    jac = inter.cast("double") / union
    exact = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("j"),
        )
        .filter(F.col("j") >= 0.8)
        .collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    if exact:
        recall = len(exact & lsh) / len(exact)
        assert recall >= 0.9, f"LSH recall {recall:.2f}; missed {exact - lsh}"


def test_minhash_deterministic(spark, sf_dir):
    a = sorted(
        tuple(r) for r in QUERIES["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    )
    b = sorted(
        tuple(r) for r in QUERIES["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    )
    assert a == b


def test_simhash_pairs_are_near(spark, sf_dir):
    """Simhash-close pairs must share most of their vocabulary."""
    pairs = QUERIES["dedup_simhash"].fn(spark, sf_dir).collect()
    assert len(pairs) > 0
    d = load_table(spark, sf_dir, "documents")
    words = {
        r.doc_id: set(r.w)
        for r in d.select(
            "doc_id", F.split(F.lower(F.trim("text")), "\\s+").alias("w")
        ).collect()
    }
    for r in pairs[:20]:
        a, b = words[r.doc_a], words[r.doc_b]
        jac = len(a & b) / len(a | b)
        assert jac > 0.3, f"simhash pair ({r.doc_a},{r.doc_b}) jaccard={jac}"


def test_ann_lsh_recall_vs_exact(spark, sf_dir):
    exact = {
        (r.query_id, r.vec_id)
        for r in QUERIES["ann_cosine_topk"].fn(spark, sf_dir).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in QUERIES["ann_lsh_topk"].fn(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"SRP-LSH recall {recall:.2f} below 0.5"


def test_ann_ivf_recall_vs_exact(spark, sf_dir):
    exact = {
        (r.query_id, r.vec_id)
        for r in QUERIES["ann_cosine_topk"].fn(spark, sf_dir).collect()
    }
    from spark_streaming_with_debezium_spark.llm.similarity import (
        ivf_topk_rows,
    )

    approx = {
        (r.query_id, r.vec_id)
        for r in ivf_topk_rows(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall {recall:.2f} below 0.6"
    # the registered bound-check face must gate green on the same data
    for r in QUERIES["ann_ivf_topk"].fn(spark, sf_dir).collect():
        assert r.recall_ok == 1, f"query {r.query_id} below recall floor"


def test_ann_brp_recall_vs_exact(spark, sf_dir):
    """BRP-LSH top-k (single approxSimilarityJoin, no driver loop) vs
    the exact baseline. Unit-norm embeddings make euclidean top-k and
    cosine top-k identical rankings (d² = 2 − 2·cos)."""
    exact = {
        (r.query_id, r.vec_id)
        for r in QUERIES["ann_cosine_topk"].fn(spark, sf_dir).collect()
    }
    from spark_streaming_with_debezium_spark.llm.ml_lsh import (
        brp_topk_rows,
    )

    rows = brp_topk_rows(spark, sf_dir).collect()
    approx = {(r.query_id, r.vec_id) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"BRP recall {recall:.2f} below 0.5"
    per_q: dict[int, list[float]] = {}
    for r in rows:
        assert r.query_id != r.vec_id, "self-match leaked"
        per_q.setdefault(r.query_id, []).append(r.dist)
    for q, dists in per_q.items():
        assert len(dists) <= 5, f"query {q}: {len(dists)} neighbors"


def test_fake_decode_deterministic_and_correct(spark, sf_dir):
    rows = (
        QUERIES["multimodal_fake_decode"].fn(spark, sf_dir).orderBy("doc_id").limit(5).collect()
    )
    d = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(5).collect()
    for r, doc in zip(rows, d):
        b = doc.text.encode("utf-8")
        hist = [0, 0, 0, 0]
        for byte in b:
            hist[byte % 4] += 1
        assert (r.n_bytes, r.f0, r.f1, r.f2, r.f3) == (len(b), *hist)


def test_approx_count_distinct_accuracy(spark, sf_dir):
    """The bound-check face must report correct exact counts AND an
    estimate inside the 3·rsd bound (within_bound=1 for every group —
    the property the DuckDB oracle hash certifies)."""
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    rows = QUERIES["approx_count_distinct"].fn(spark, sf_dir).collect()
    got = {r.l_returnflag: (r.exact_orders, r.within_bound) for r in rows}
    assert got == {k: (n, 1) for k, n in exact.items()}


def test_approx_percentile_accuracy(spark, sf_dir):
    """Independent value-space check alongside the query's rank-space
    gate: the raw percentile_approx median must sit within 2% of the
    exact median, and the query's own rank gates must all pass."""
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r.m
        for r in li.groupBy("l_returnflag")
        .agg(F.expr("percentile(l_extendedprice, 0.5)").alias("m"))
        .collect()
    }
    approx = {
        r.l_returnflag: r.am
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("am")
        )
        .collect()
    }
    for k, m in exact.items():
        assert abs(approx[k] - m) / m < 0.02
    rows = QUERIES["agg_approx_percentile"].fn(spark, sf_dir).collect()
    for r in rows:
        assert (r.median_ok, r.q1_ok, r.q3_ok) == (1, 1, 1), r


def test_ml_minhash_finds_exact_dups(spark, sf_dir):
    """pyspark.ml MinHashLSH must (at minimum) find pairs of EXACTLY
    identical documents that exact dedup flags."""
    groups = QUERIES["dedup_exact_groups"].fn(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import functions as F2

    by_hash = (
        d.select("doc_id", F2.md5(F2.regexp_replace(F2.lower(F2.trim("text")), "\\s+", " ")).alias("h"))
        .collect()
    )
    hash_to_ids = {}
    for r in by_hash:
        hash_to_ids.setdefault(r.h, []).append(r.doc_id)
    exact_pairs = set()
    for g in groups:
        ids = sorted(hash_to_ids[g.content_hash])
        exact_pairs.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1 :])
    from spark_streaming_with_debezium_spark.llm.ml_lsh import (
        minhash_ml_pairs,
    )

    ml = {
        (r.doc_a, r.doc_b)
        for r in minhash_ml_pairs(spark, sf_dir).collect()
    }
    missed = exact_pairs - ml
    assert not missed, f"ml LSH missed exact-dup pairs: {missed}"
    # Pair-rate sanity (r3 verdict: unigram vectors flagged 55% of all
    # C(n,2) pairs as "near-dups" — O(n²) output, useless signal). With
    # shingle vectors the flagged pairs must stay a small multiple of
    # the true duplicate count, far below quadratic blowup.
    n_docs = d.count()
    all_pairs = n_docs * (n_docs - 1) // 2
    assert len(ml) < 0.01 * all_pairs, (
        f"ml LSH pair rate O(n^2)-shaped: {len(ml)} of {all_pairs} "
        f"possible pairs flagged"
    )
    assert len(ml) <= max(50, 20 * len(exact_pairs)), (
        f"ml LSH pairs ({len(ml)}) not commensurate with true dup "
        f"count ({len(exact_pairs)})"
    )


def test_cluster_faces_agree_on_exact_dups(spark, sf_dir):
    """Native-LSH and ml-LSH clusters share one clustering path
    (clusters_from_pairs); every exact-duplicate group must land inside
    one cluster in BOTH faces, with the same canonical doc."""
    d = load_table(spark, sf_dir, "documents")
    by_hash = (
        d.select(
            "doc_id",
            F.md5(F.regexp_replace(F.lower(F.trim("text")), "\\s+", " ")).alias("h"),
        )
        .groupBy("h")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .collect()
    )
    exact_groups = [sorted(r.ids) for r in by_hash]
    from spark_streaming_with_debezium_spark.llm.cluster import (
        clusters_ml_rows,
    )

    faces = {
        "dedup_clusters": lambda: QUERIES["dedup_clusters"].fn(spark, sf_dir),
        "clusters_ml_rows": lambda: clusters_ml_rows(spark, sf_dir),
    }
    for qname, face in faces.items():
        clusters = face().collect()
        member_to_canon = {}
        for c in clusters:
            for m in c.members.split(","):
                member_to_canon[int(m)] = c.canonical_doc
        for g in exact_groups:
            canons = {member_to_canon.get(i) for i in g}
            assert len(canons) == 1 and None not in canons, (
                f"{qname}: exact-dup group {g} split across clusters {canons}"
            )
            assert min(canons) <= g[0], f"{qname}: canonical not min for {g}"


def test_quantize_roundtrip_error_bounded(spark, sf_dir):
    rows = QUERIES["embedding_quantize_int8"].fn(spark, sf_dir).limit(20).collect()
    d = {
        r.vec_id: r.embedding
        for r in load_table(spark, sf_dir, "embeddings").limit(200).collect()
    }
    for r in rows:
        if r.vec_id not in d:
            continue
        step = r.absmax / 127
        q = [int(x) for x in r.q.split(",")]  # joined-string output
        for orig, qv in zip(d[r.vec_id], q):
            assert abs(float(orig) - qv * step) <= step * 0.51 + 1e-6


def test_connected_components_vs_union_find(spark):
    from spark_streaming_with_debezium_spark.llm.cluster import pair_components

    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 4), (22, 23)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.node: r.comp for r in pair_components(pairs).collect()}

    # reference union-find
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    expected = {n: find(n) for n in parent}
    assert got == expected
    assert got[4] == 1 and got[23] == 20 and got[11] == 10


def test_dedup_clusters_fail_closed_past_round_budget(spark):
    """A path graph labels in one round per edge: one edge short of the
    dedup round budget converges, twice the budget must raise rather
    than return the half-propagated labels."""
    from spark_streaming_with_debezium_spark.llm.cluster import (
        DEDUP_CC_ROUNDS,
        clusters_from_pairs,
    )

    def path(n_edges):
        return spark.createDataFrame(
            [(i, i + 1) for i in range(n_edges)], "doc_a long, doc_b long"
        )

    (row,) = clusters_from_pairs(path(DEDUP_CC_ROUNDS - 1)).collect()
    assert (row.canonical_doc, row.cluster_size) == (0, DEDUP_CC_ROUNDS)
    with pytest.raises(RuntimeError, match="did not converge"):
        clusters_from_pairs(path(2 * DEDUP_CC_ROUNDS))


def test_dedup_clusters_consistent_with_pairs(spark, sf_dir):
    from spark_streaming_with_debezium_spark.llm.dedup import dedup_minhash_lsh

    pairs = [(r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, sf_dir).collect()]
    clusters = QUERIES["dedup_clusters"].fn(spark, sf_dir).collect()
    member_to_canon = {}
    for c in clusters:
        members = [int(m) for m in c.members.split(",")]  # joined-string output
        for m in members:
            member_to_canon[m] = c.canonical_doc
        assert c.canonical_doc == min(members)
    for a, b in pairs:
        assert member_to_canon[a] == member_to_canon[b], (a, b)


def test_semdedup_pairs_truly_near(spark, sf_dir):
    """Every (drop, keep) pair must be a genuine ≥ NUM/DEN-cosine pair
    ON THE 1e-6 GRID (the exact-integer membership test), with
    keep_id < drop_id (deterministic keep-lowest rule) — and the
    operator must actually fire (nonzero drops) at every SF, unlike
    the old 0.95-threshold face that was vacuously empty on the
    random synthetic embeddings."""
    import math

    from spark_streaming_with_debezium_spark.llm.similarity import (
        SEMDEDUP_DEN,
        SEMDEDUP_NUM,
    )

    rows = QUERIES["dedup_semdedup_cells"].fn(spark, sf_dir).collect()
    assert rows, "semdedup found no pairs — threshold not exercising"
    vecs = {
        r.vec_id: [math.floor(float(x) * 1_000_000) for x in r.embedding]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    thr = SEMDEDUP_NUM / SEMDEDUP_DEN
    for r in rows[:50]:
        assert r.keep_id < r.drop_id
        a, b = vecs[r.keep_id], vecs[r.drop_id]
        dot = sum(x * y for x, y in zip(a, b))
        n2a = sum(x * x for x in a)
        n2b = sum(y * y for y in b)
        # exact integer membership: DEN²·dot² ≥ NUM²·|a|²·|b|²
        assert dot > 0
        assert SEMDEDUP_DEN**2 * dot * dot >= SEMDEDUP_NUM**2 * n2a * n2b
        assert abs(r.cos_sim - dot / math.sqrt(n2a * n2b)) < 1e-5
        assert r.cos_sim >= thr - 1e-6


def test_ivf_index_persistent_search(spark, sf_dir, tmp_path):
    """Build-once search-many IVF: results match the inline ann_ivf_topk
    plan (same centroids, same probes) and the probe scan is pruned."""
    from spark_streaming_with_debezium_spark.llm.ivf_index import IvfIndex
    from spark_streaming_with_debezium_spark.plans.explain import plan_text

    e = load_table(spark, sf_dir, "embeddings")
    idx = IvfIndex(spark, str(tmp_path / "ivf"))
    idx.build(e)
    queries = e.filter(F.col("vec_id") < 8)
    got = {
        (r.query_id, r.vec_id, r.rnk)
        for r in idx.search(queries, k=5, n_probe=5).collect()
    }
    from spark_streaming_with_debezium_spark.llm.similarity import (
        ivf_topk_rows,
    )

    inline = {
        (r.query_id, r.vec_id, r.rnk)
        for r in ivf_topk_rows(spark, sf_dir).collect()
    }
    assert got == inline
    # pruning: a read of two cells scans only those cells' directories
    df = idx.read([1, 2])
    assert {r.cell for r in df.select("cell").distinct().collect()} <= {1, 2}
    n_paths = re.search(r"InMemoryFileIndex\((\d+) paths\)", plan_text(df, "simple"))
    assert n_paths and int(n_paths.group(1)) <= 2


def test_contamination_hot_gram_capped(spark, tmp_path):
    """A stop-phrase 5-gram shared by every doc must NOT generate
    O(m²) pairs: groups over max_gram_docs are dropped before pair
    generation (r3 verdict #4). Docs that ALSO share a rare gram across
    sources are still flagged."""
    import os

    from pyspark.sql import functions as F2

    from spark_streaming_with_debezium_spark.llm.pipeline_ops import (
        contamination_ngram_overlap,
    )

    boiler = "all rights reserved by the publisher"  # >=5 words, shared by all
    rare = "zephyr quokka obelisk harpsichord nimbus"
    rows = []
    for i in range(40):
        src = f"src{i % 2}"
        text = f"document number {i} unique filler content {i * 7} " + boiler
        if i in (3, 4):  # cross-source pair sharing the rare gram
            text += " " + rare
        rows.append((i, src, text))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).write.parquet(os.path.join(sf, "documents.parquet"))

    out = contamination_ngram_overlap(spark, sf, max_gram_docs=8).collect()
    pairs = {(r.doc_id, r.dup_of) for r in out}
    assert (4, 3) in pairs, f"rare-gram pair missed: {pairs}"
    # without the cap the boilerplate gram alone yields 20*20=400
    # cross-source pairs; with it only the rare-gram pair survives
    assert len(pairs) <= 3, f"hot gram not capped: {len(pairs)} pairs"


def test_curation_job_end_to_end(spark, sf_dir, tmp_path):
    """The composed curation job: writes a (split, lang)-partitioned
    corpus whose counts agree with the oracle-checked funnel, packing
    offsets stay contiguous per (split, source), and a re-run via
    dynamic partition overwrite is idempotent (no doubling)."""
    from spark_streaming_with_debezium_spark.llm.curation_job import (
        run_curation_job,
    )
    from spark_streaming_with_debezium_spark.llm.pipeline_ops import (
        corpus_curation_funnel,
    )

    out = str(tmp_path / "corpus")
    stats = run_curation_job(spark, sf_dir, out)
    funnel = {r.stage: r.n_docs for r in corpus_curation_funnel(spark, sf_dir).collect()}
    assert stats.n_input == funnel["0_total"]
    assert stats.n_canonical == funnel["4_dedup_canonical"]
    assert stats.n_decontaminated == funnel["5_decontaminated"]
    assert stats.n_decontaminated < stats.n_canonical  # stage bites on testdata
    assert stats.n_train + stats.n_eval_holdout == stats.n_decontaminated

    back = spark.read.parquet(out)
    # partition columns materialize, packing is contiguous per stream
    rows = back.select("split", "source", "doc_id", "n_tokens", "seq_id", "seq_offset").collect()
    streams = {}
    for r in rows:
        streams.setdefault((r.split, r.source), []).append(r)
    for key, docs in streams.items():
        docs.sort(key=lambda r: r.doc_id)
        running = 0
        for r in docs:
            assert r.seq_id * 2048 + r.seq_offset == running, (key, r)
            running += r.n_tokens

    # idempotent re-run: same partitions replaced, same total
    stats2 = run_curation_job(spark, sf_dir, out)
    assert stats2 == stats
    assert spark.read.parquet(out).count() == stats.n_decontaminated


def test_substring_report_shares_gram_pass(spark, sf_dir):
    """`substring_dedup_report` must (a) return rows bit-identical to
    the two standalone substring faces and (b) actually SHARE the
    explode+md5 gram pass: after the first face materializes the
    persisted gram frame, the second face's physical plan reads the
    in-memory relation, not the documents parquet (VERDICT r10 item
    5 — one corpus scan for both faces)."""
    from spark_streaming_with_debezium_spark.llm.curation_job import (
        substring_dedup_report,
    )
    from spark_streaming_with_debezium_spark.plans.explain import plan_text

    coverage, spans, release = substring_dedup_report(spark, sf_dir)
    try:
        solo_cov = QUERIES["dedup_exact_substring"].fn(spark, sf_dir)
        solo_spans = QUERIES["dedup_substring_spans"].fn(spark, sf_dir)
        assert sorted(map(tuple, coverage.collect())) == sorted(
            map(tuple, solo_cov.collect())
        )
        assert sorted(map(tuple, spans.collect())) == sorted(
            map(tuple, solo_spans.collect())
        )
        # both composed plans read the shared cached gram frame — the
        # corpus explode executes once, at cache materialization. In
        # "simple" mode every InMemoryTableScan prints its CACHED child
        # plan (a FileScan line) beneath it, so an honest "no uncached
        # scan" check is count equality: a consumer that bypassed the
        # cache would add a FileScan with no InMemoryTableScan parent.
        for df in (coverage, spans):
            txt = plan_text(df, "simple")
            n_mem = txt.count("InMemoryTableScan")
            n_file = txt.count("FileScan parquet")
            assert n_mem >= 1, txt
            assert n_mem == n_file, txt
    finally:
        # the report's contract: the CALLER releases the shared gram
        # cache after the last action on either frame
        release()
        spark.catalog.clearCache()


def test_heavy_hitter_candidates_superset(spark, sf_dir):
    """The Misra-Gries candidate phase must be a PROVABLE superset of
    every token with global frequency > N/k_mg (the mergeable-summary
    guarantee), and the full query must equal the naive full-vocab
    groupBy at the report threshold."""
    from pyspark.sql import functions as F

    from spark_streaming_with_debezium_spark.llm.corpus_rules import (
        normalize_text,
    )
    from spark_streaming_with_debezium_spark.llm.text_analysis import (
        text_heavy_hitter_tokens,
    )

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(normalize_text("text"), " ")).alias("token")
    )
    full = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    n = toks.count()
    heavy_true = {
        r.token for r in full.filter(F.col("freq") * 4096 > n).collect()
    }
    # re-run just the query; its semi-joined recount can only contain
    # candidate tokens, so result == naive dual proves the candidate
    # superset held end-to-end
    got = {(r.token, r.freq) for r in text_heavy_hitter_tokens(spark, sf_dir).collect()}
    want = {
        (r.token, r.freq)
        for r in full.filter(F.col("freq") * 512 >= n).collect()
    }
    assert got == want
    assert heavy_true, "degenerate testdata: no heavy tokens at N/4096"
    # every reported token sits inside the MG capture zone (N/512 ≥
    # N/4096), so the superset guarantee is what made got == want
    assert {t for t, _ in want} <= heavy_true

    # the tree-reduced root must ITSELF be a valid MG summary: one
    # bounded partition, exact total, candidate superset, and every
    # counter an underestimate within the cumulative decrement bound
    from spark_streaming_with_debezium_spark.llm.text_analysis import (
        mg_summary_tree,
    )

    k_mg = 4096
    root = mg_summary_tree(toks, k_mg).collect()
    assert len(root) <= k_mg + 1 + 1  # ≤ k counters + one total row
    n_root = sum(r.n_local for r in root if r.token is None)
    assert n_root == n
    counters = {r.token: r.cnt for r in root if r.token is not None}
    assert heavy_true <= set(counters)
    true_freq = {r.token: r.freq for r in full.collect()}
    for t, est in counters.items():
        assert est <= true_freq[t], (t, est, true_freq[t])
        assert est >= true_freq[t] - n / (k_mg + 1), (t, est, true_freq[t])


def test_job_clis_run_end_to_end(tmp_path):
    """The spark-submit-able mains are the user-facing entrypoints —
    run both through their real argv paths in a subprocess-free way
    (main() builds its own session via get_spark and stops it)."""
    import os
    import subprocess
    import sys

    env = dict(os.environ)
    env["PYTHONPATH"] = "/root/repo"
    out = subprocess.run(
        [
            sys.executable,
            "-m",
            "spark_streaming_with_debezium_spark.llm.curation_job",
            "--input",
            "/root/testdata/sf0.001",
            "--output",
            str(tmp_path / "corpus"),
        ],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "curation done:" in out.stdout, out.stdout
    out2 = subprocess.run(
        [
            sys.executable,
            "-m",
            "spark_streaming_with_debezium_spark.cdc.mart_job",
            "--input",
            "/root/testdata/sf0.001",
            "--output",
            str(tmp_path / "marts"),
        ],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert out2.returncode == 0, out2.stderr[-2000:]
    assert "marts done:" in out2.stdout, out2.stdout


def test_ivf_upsert_serves_new_vectors_without_rebuild(spark, sf_dir, tmp_path):
    """Incremental IVF: vectors appended via upsert must be findable by
    search (a query AT an upserted vector returns it as top hit),
    re-delivered ids must not duplicate, and resident cells must not
    be rewritten (untouched cells keep their directory)."""
    from pyspark.sql import functions as F

    from spark_streaming_with_debezium_spark.llm.ivf_index import IvfIndex
    from spark_streaming_with_debezium_spark.sources.tables import load_table

    idx = IvfIndex(spark, str(tmp_path / "ivf"))
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    extra = emb.filter(F.col("vec_id") % 2 == 1).limit(20)
    idx.build(base)

    def cell_dirs():
        # cell → its immutable directory, as the index manifest names it
        return Manifest.open(idx.fs, idx.path).named("cell/")

    before = cell_dirs()
    idx.upsert(extra)
    idx.upsert(extra)  # re-delivery: left-anti drop, no duplicates
    total = idx.read().count()
    assert total == base.count() + extra.count()

    probe = extra.limit(3)
    hits = idx.search(probe, k=3).collect()
    assert hits  # upserted vectors participate in search
    got_ids = {r["query_id"] for r in hits}
    assert got_ids == {r["vec_id"] for r in probe.collect()}

    from spark_streaming_with_debezium_spark.llm.similarity import (
        nearest_cells,
        norm,
    )

    after = cell_dirs()
    assigned = nearest_cells(
        extra.select("vec_id", "embedding").withColumn(
            "nrm", norm(F.col("embedding"))
        ),
        idx._centroids(idx._manifest()),
        "embedding", "nrm", 1, "cell",
    )
    touched_cells = {
        str(r["cell"]) for r in assigned.select("cell").distinct().collect()
    }
    for cell, n in before.items():
        if cell not in touched_cells:
            assert after[cell] == n, f"untouched {cell} was rewritten"

    bal = idx.cell_balance().collect()
    assert all(r["skew_ratio"] >= 1.0 for r in bal)


def test_ivf_upsert_replaces_changed_embeddings(spark, sf_dir, tmp_path):
    """TRUE upsert: a vec_id re-delivered with a DIFFERENT embedding
    must end up stored exactly once with the new embedding — even when
    the new embedding assigns to a different cell than the resident row
    (the stale row in the old cell is scrubbed, not left to serve
    divergent results)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spark_streaming_with_debezium_spark.llm.ivf_index import IvfIndex
    from spark_streaming_with_debezium_spark.sources.tables import load_table

    idx = IvfIndex(spark, str(tmp_path / "ivf"))
    emb = load_table(spark, sf_dir, "embeddings")
    idx.build(emb)
    n0 = idx.read().count()

    # Re-deliver 10 existing ids carrying ANOTHER vector's embedding —
    # guaranteed-different values, often a different nearest cell.
    donors = emb.filter(F.col("vec_id") >= 10).limit(10).select(
        F.col("embedding").alias("new_emb")
    )
    victims = emb.filter(F.col("vec_id") < 10).select("vec_id")
    moved = (
        victims.withColumn(
            "rn", F.row_number().over(Window.orderBy("vec_id"))
        )
        .join(
            donors.withColumn(
                "rn", F.row_number().over(Window.orderBy(F.col("new_emb")[0]))
            ),
            "rn",
        )
        .select("vec_id", F.col("new_emb").alias("embedding"))
    )
    expected = {r["vec_id"]: r["embedding"] for r in moved.collect()}

    idx.upsert(moved)
    after = idx.read()
    assert after.count() == n0  # replaced, not duplicated
    got = {
        r["vec_id"]: r["embedding"]
        for r in after.filter(F.col("vec_id") < 10).collect()
    }
    assert len(got) == 10
    for vid, e in expected.items():
        assert list(got[vid]) == list(e), f"vec {vid} kept a stale embedding"

    # the id→cell sidecar tracked the moves: every batch id maps to the
    # cell its row actually lives in
    sidecar = {
        r["vec_id"]: r["cell"]
        for r in idx._idmap().lookup(moved.select("vec_id")).collect()
    }
    actual = {
        r["vec_id"]: r["cell"]
        for r in after.filter(F.col("vec_id") < 10).collect()
    }
    assert sidecar == actual

    # a second change of the same ids lands the same way
    moved2 = moved.withColumn("embedding", F.reverse("embedding"))
    expected2 = {r["vec_id"]: r["embedding"] for r in moved2.collect()}
    idx.upsert(moved2)
    after2 = idx.read()
    assert after2.count() == n0
    got2 = {
        r["vec_id"]: r["embedding"]
        for r in after2.filter(F.col("vec_id") < 10).collect()
    }
    for vid, e in expected2.items():
        assert list(got2[vid]) == list(e)


def test_ivf_pq_search_recall_and_code_only_scan(spark, sf_dir, tmp_path):
    """PQ-compressed IVF serving: (a) the ADC candidate scan reads ONLY
    (vec_id, cell, pq_code, nrm) — never the embedding column (the
    column-pruning that shrinks a 100 TB probe scan to the code bytes);
    (b) after exact refine, recall@5 vs the brute-force cosine top-5
    stays close to the uncompressed IVF search's recall."""
    from spark_streaming_with_debezium_spark.llm.ivf_index import IvfIndex
    from spark_streaming_with_debezium_spark.plans.explain import plan_text

    e = load_table(spark, sf_dir, "embeddings")
    idx = IvfIndex(spark, str(tmp_path / "ivfpq"))
    idx.build(e, pq_m=8)
    stored = idx.read()
    assert "pq_code" in stored.columns
    assert stored.filter(F.size("pq_code") != 8).count() == 0

    queries = e.filter(F.col("vec_id") < 8)
    got = idx.search_pq(queries, k=5, n_probe=5, refine=40)
    # (a) column pruning: the ADC stage's scan schema excludes embedding
    txt = plan_text(got, "formatted")
    scans = [
        seg for seg in txt.split("Scan parquet")[1:] if "cells" in seg[:600]
    ]
    adc_scans = [s for s in scans if "pq_code" in s[:900]]
    assert adc_scans, "no code scan found in plan"
    assert any(
        "embedding" not in s[: s.index("ReadSchema") + 400]
        for s in adc_scans
        if "ReadSchema" in s
    ), "ADC scan reads the embedding column"

    # (b) recall vs exact brute force
    from spark_streaming_with_debezium_spark.llm.similarity import (
        cosine_prenormed,
        norm,
    )
    from pyspark.sql import Window

    v = e.select("vec_id", "embedding").withColumn(
        "nrm", norm(F.col("embedding"))
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    ).withColumn("qnrm", norm(F.col("qe")))
    exact = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos",
            cosine_prenormed(
                F.col("qe"), F.col("embedding"), F.col("qnrm"), F.col("nrm")
            ),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cos").desc(), "vec_id"
                )
            ),
        )
        .filter(F.col("rnk") <= 5)
    )
    truth = {(r.query_id, r.vec_id) for r in exact.collect()}
    found = {(r.query_id, r.vec_id) for r in got.collect()}
    pq_recall = len(truth & found) / len(truth)
    flat = {
        (r.query_id, r.vec_id)
        for r in idx.search(queries, k=5, n_probe=5).collect()
    }
    flat_recall = len(truth & flat) / len(truth)
    # refine pool of 20 recovers nearly everything ADC mis-ranks: the
    # PQ path may lose at most a small margin vs the uncompressed scan
    assert pq_recall >= flat_recall - 0.1, (pq_recall, flat_recall)
    assert pq_recall >= 0.5, pq_recall


def test_ivf_pq_upsert_encodes_with_frozen_books(spark, sf_dir, tmp_path):
    """Upserted vectors get PQ codes from the books trained at build
    time (no retrain), land in their cells, and are immediately
    servable through search_pq."""
    from spark_streaming_with_debezium_spark.llm.ivf_index import IvfIndex

    e = load_table(spark, sf_dir, "embeddings")
    idx = IvfIndex(spark, str(tmp_path / "ivfpq"))
    idx.build(e.filter(F.col("vec_id") >= 8), pq_m=8)
    books_before = idx._load_books(idx._manifest().path("pq_books"))
    new = e.filter(F.col("vec_id") < 8)
    idx.upsert(new)
    books_after = idx._load_books(idx._manifest().path("pq_books"))
    assert books_before == books_after
    stored = idx.read()
    assert stored.filter(F.col("vec_id") < 8).count() == 8
    assert stored.filter(F.col("pq_code").isNull()).count() == 0
    # a query finds ITS OWN upserted twin region: searching with an
    # upserted vector must return rows (it lives in a probed cell)
    got = idx.search_pq(new, k=3, n_probe=5, refine=20)
    assert got.count() == 24  # 8 queries × 3


def test_ivf_rebuild_without_pq_clears_stale_codebooks(spark, sf_dir, tmp_path):
    """ADVICE r7: rebuilding a previously-PQ index with pq_m=0 must
    delete the stale codebooks — otherwise upsert() PQ-encodes new
    batches against plain resident rows (AnalysisException) and
    search_pq() misreports the index as PQ-capable."""
    import pytest

    from spark_streaming_with_debezium_spark.llm.ivf_index import IvfIndex

    e = load_table(spark, sf_dir, "embeddings")
    idx = IvfIndex(spark, str(tmp_path / "ivf"))
    idx.build(e, pq_m=8)
    assert "pq_books" in idx._manifest().entries

    idx.build(e, pq_m=0)  # rebuild WITHOUT PQ
    assert "pq_books" not in idx._manifest().entries, "stale pq_books survived"
    with pytest.raises(ValueError, match="without PQ"):
        idx.search_pq(e.filter(F.col("vec_id") < 2))
    # upsert must take the plain (non-PQ) path cleanly
    batch = e.filter(F.col("vec_id") < 4).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    idx.upsert(batch)
    got = idx.search(e.filter(F.col("vec_id") < 2), k=3, n_probe=8).count()
    assert got > 0


def test_neardup_components_transitive_and_canonical(spark, sf_dir):
    """Every verified near-dup pair must land in one cluster, the
    cluster label must be the component's min doc_id, cluster_size
    must count members, and all nodes must report stable=1 on shipped
    data."""
    from collections import defaultdict

    pairs = [
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    ]
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    ref = defaultdict(set)
    for n in list(parent):
        ref[find(n)].add(n)
    ref_comps = {frozenset(v) for v in ref.values()}

    rows = QUERIES["dedup_neardup_components"].fn(spark, sf_dir).collect()
    assert rows and all(r.stable == 1 for r in rows)
    got = defaultdict(set)
    for r in rows:
        got[r.cluster].add(r.doc_id)
    assert {frozenset(v) for v in got.values()} == ref_comps
    for r in rows:
        assert r.cluster == min(got[r.cluster])
        assert r.cluster_size == len(got[r.cluster])


def test_containment_finds_planted_quote(spark, tmp_path):
    """A verbatim quote (doc 2) lifted from inside a long article
    (doc 1) must be flagged as contained in it with containment 1.0;
    the reverse direction and the unrelated doc must not appear."""
    import hashlib

    from spark_streaming_with_debezium_spark.llm.dedup import (
        dedup_containment,
    )

    def words(seed, n):
        out, h = [], seed.encode()
        for _ in range(n):
            h = hashlib.md5(h).digest()
            out.append(h.hex()[:8])
        return out

    big_words = words("article", 200)
    quote = " ".join(big_words[50:90])
    big = " ".join(big_words)
    other = " ".join(words("unrelated", 120))
    df = spark.createDataFrame(
        [
            (1, big, "en", "a", len(big)),
            (2, quote, "en", "a", len(quote)),
            (3, other, "en", "a", len(other)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    rows = {
        (r.doc_a, r.doc_b): r.containment
        for r in dedup_containment(spark, str(tmp_path)).collect()
    }
    assert rows.get((2, 1)) == 1.0, rows
    assert (1, 2) not in rows  # the article is NOT contained in the quote
    assert not any(3 in pair for pair in rows), rows


def test_lloyd_train_cap_guard(spark, sf_dir):
    """The FAISS-convention training-sample cap (`train_cap`): (a) a
    cap >= n is a NO-OP — centroids bit-identical to the full-corpus
    fixpoint, so enabling the guard at scale cannot silently change
    small-corpus results; (b) a binding cap still yields k valid
    centroids deterministically (same cap -> same centroids); (c) the
    capped train's subsample is the md5-order prefix, so the seeds are
    unchanged."""
    from spark_streaming_with_debezium_spark.llm.cluster import (
        _KM_K,
        _gridded_embeddings,
        _lloyd_centroids,
    )

    e = _gridded_embeddings(spark, sf_dir).select("vec_id", "v")
    n = e.count()
    full = _lloyd_centroids(e, k=_KM_K)
    nocap = _lloyd_centroids(e, k=_KM_K, train_cap=int(n))
    assert nocap == full

    small = max(_KM_K, int(n) // 4)
    capped1 = _lloyd_centroids(e, k=_KM_K, train_cap=small)
    capped2 = _lloyd_centroids(e, k=_KM_K, train_cap=small)
    assert capped1 == capped2
    assert len(capped1) == _KM_K
    assert all(len(c) == 64 for c in capped1)
    # binding cap fits on fewer points => fixpoint may differ from full
    # (that is the point); but seeds are shared, so iteration-0 seeds
    # appear in both histories — weakly check the capped result is not
    # degenerate (k distinct centroids)
    assert len({tuple(c) for c in capped1}) == _KM_K
