"""Similarity search over embedding columns (north star).

- :func:`cosine` — deterministic double-precision cosine between two
  ``array<float>`` columns, built from higher-order functions
  (zip_with + aggregate): JVM-side, codegen'd, no UDF.
- ``ann_cosine_topk`` — exact brute-force top-k for a query set:
  broadcast the queries, score every (query, vector) pair, per-query
  top-k window. The O(n·q) baseline every ANN variant is measured
  against; at 100 TB it's the correct plan whenever q is small (the
  query side broadcasts, the corpus never shuffles).
- ``ann_lsh_topk`` — sign-random-projection LSH: 16-bit signatures
  from fixed hyperplanes, hamming-band candidate generation, exact
  re-rank of candidates. The scale path: candidates per query ≈
  corpus/2^bits × bands, not the whole corpus.
- ``ann_ivf_topk`` — IVF-style: k-means-ish centroids chosen
  deterministically (hash-sampled seed vectors), vectors assigned to
  nearest centroid (one broadcast join), queries probe the nearest
  ``n_probe`` centroids only.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_streaming_with_debezium_spark.registry import query
from spark_streaming_with_debezium_spark.sources.tables import load_table

N_QUERIES = 8  # vec_id < 8 are the standing query vectors
TOP_K = 5


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision (deterministic left-to-right)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_prenormed(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine with precomputed norms — in pairwise scoring, norms are
    per-VECTOR quantities; computing them per PAIR triples the
    (non-codegen) higher-order-function work. Bit-identical to
    :func:`cosine` (same expressions, same order)."""
    return dot(a, b) / (norm_a * norm_b)


_COSINE_SQL = (
    "list_cosine_similarity(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
)


@query(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         scored AS (
           SELECT q.query_id, e.vec_id,
                  {_COSINE_SQL.format(a='q.qe', b='e.embedding')} AS cos
           FROM q JOIN embeddings e ON e.vec_id <> q.query_id
         ),
         ranked AS (
           SELECT query_id, vec_id, cos, ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
           FROM scored
         )
    SELECT query_id, vec_id, round(cos, 6) AS cos_sim, rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k (the ANN baseline).

    Queries are broadcast; the corpus is scanned once with no shuffle
    before the per-query top-k window (which shuffles only q·n score
    rows — and TakeOrdered-style truncation keeps it tiny).
    """
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", norm(F.col("embedding"))
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("nrm").alias("qnrm"),
        )
    )
    scored = (
        e.join(q, F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos",
            cosine_prenormed(
                F.col("qe"), F.col("embedding"), F.col("qnrm"), F.col("nrm")
            ),
        )
        .select("query_id", "vec_id", "cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cos_sim"), "rnk")
    )


@query(
    "embedding_cosine_neardup",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_COSINE_SQL.format(a='a.embedding', b='b.embedding')} AS cos
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, round(cos, 6) AS cos_sim
    FROM pairs WHERE cos >= 0.90
    """,
)
def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (the cluster
    id doubles as the blocking key — at 100 TB the block comes from
    IVF assignment instead)."""
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", norm(F.col("embedding"))
    )
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        cosine_prenormed(
            F.col("a.embedding"),
            F.col("b.embedding"),
            F.col("a.nrm"),
            F.col("b.nrm"),
        ).alias("cos"),
    )
    return pairs.filter(F.col("cos") >= 0.90).select(
        "vec_a", "vec_b", F.round("cos", 6).alias("cos_sim")
    )


def srp_planes(bits: int = 32, dim: int = 64) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix for sign-random-projection,
    derived from md5 in PYTHON (hashlib) — the same literal matrix is
    embedded in the Spark expression and the DuckDB oracle SQL, so the
    signature computation is engine-portable with no in-engine hashing
    at all (what lets ann_lsh_topk carry a full value-hash oracle)."""
    import hashlib

    planes = []
    for b in range(bits):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"{b},{i}".encode()).hexdigest()[:15], 16)
            row.append(1.0 if h & 1 == 0 else -1.0)
        planes.append(row)
    return planes


def with_srp_signature(
    df: DataFrame, vec_col: str, out_col: str = "sig",
    bits: int = 32, dim: int = 64,
) -> DataFrame:
    """Attach the sign-random-projection signature from the literal
    plane matrix (:func:`srp_planes`). Each projection is a strict
    left-to-right double sum — ``0.0 + e₁·s₁ + e₂·s₂ + …`` — so the
    IEEE result (and hence every sign bit) is reproducible bit-for-bit
    by any engine evaluating the same expression order.

    Each projection is a ``zip_with`` against a 64-double literal sign
    array folded with ``aggregate`` — zip_with preserves index order
    and aggregate folds strictly left, so the float result is identical
    to the SQL oracle's explicit ``0.0 + e₁·s₁ + …`` chain. (A flat
    2048-term expression computes the same values but exceeds janino's
    method-size limit, throwing every stage into interpreted mode with
    multi-MB task binaries — measured 10× slower than the HOF form.)"""
    planes = srp_planes(bits, dim)
    vec = F.col(vec_col)
    projs = []
    for b in range(bits):
        signs = F.array(*[F.lit(v) for v in planes[b]])
        proj = F.aggregate(
            F.zip_with(vec, signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        projs.append(proj.alias(f"_p{b}"))
    staged = df.select("*", *projs)
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(F.col(f"_p{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return staged.withColumn(out_col, sig).drop(*[f"_p{b}" for b in range(bits)])


def srp_ranked_ctes() -> str:
    """DuckDB CTE chain for the full SRP-LSH retrieval up to the
    ``ranked`` relation — shared by the :func:`ann_lsh_topk` oracle and
    the recall-report oracle built on top of it."""
    planes = srp_planes()
    projs = ",\n             ".join(
        f"0.0 + "
        + " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE)*{planes[b][i]:g}"
            for i in range(64)
        )
        + f" AS p{b}"
        for b in range(32)
    )
    sig = "\n               + ".join(
        f"(CASE WHEN p{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(32)
    )
    bands = "\n      UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, (sig >> {b * 4}) & 15 AS bucket FROM sigs"
        for b in range(8)
    )
    return f"""proj AS (
      SELECT vec_id,
             {projs}
      FROM embeddings
    ),
    sigs AS (
      SELECT vec_id,
             {sig} AS sig
      FROM proj
    ),
    banded AS ({bands}),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
      FROM banded q JOIN banded c
        ON q.band = c.band AND q.bucket = c.bucket
      WHERE q.vec_id < 8 AND c.vec_id != q.vec_id
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                    CAST(ce.embedding AS DOUBLE[])) AS cos
      FROM cand
      JOIN embeddings qe ON qe.vec_id = cand.query_id
      JOIN embeddings ce ON ce.vec_id = cand.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cos,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, vec_id
             ) AS rnk
      FROM scored
    )"""


def _srp_oracle() -> str:
    """Full SRP-LSH oracle: the shared CTE chain + the top-k select."""
    return f"""
    WITH {srp_ranked_ctes()}
    SELECT query_id, vec_id, round(cos, 6) AS cos_sim, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """


@query("ann_lsh_topk", oracle=_srp_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k via sign-random-projection LSH.

    32-bit signatures; candidates = vectors sharing any of eight 4-bit
    bands with the query signature; exact cosine re-rank of candidates.
    Recall vs ann_cosine_topk is asserted in tests (≥ 0.5 at these
    parameters on the synthetic clusters). Recall/cost is tuned by the
    band count — each extra band adds ~corpus/2^bits candidates.
    Fully oracle-checked since round 7: the hyperplanes are a literal
    ±1 matrix computed once in Python (:func:`srp_planes`) and embedded
    in both engines' expressions with identical float evaluation order,
    so signatures, banding, candidates and the re-rank all carry a
    value-hash DuckDB dual."""
    e = with_srp_signature(
        load_table(spark, sf_dir, "embeddings"), "embedding"
    ).withColumn("nrm", norm(F.col("embedding")))
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("sig", b * 4).bitwiseAND(F.lit(0xF)).alias("bucket"),
            )
            for b in range(8)
        ]
    )
    # Candidate generation carries ONLY (query_id, vec_id): the distinct
    # dedups 16-byte id pairs, not embedding arrays (the old plan
    # shuffled dim×8-byte vectors through the distinct). Embeddings are
    # re-attached afterwards via broadcast joins, so the corpus is never
    # shuffled. The candidate set is bounded by bands × corpus/2^bits
    # per query — at scale, widen the signature so it stays broadcastable.
    banded = e.select("vec_id", F.explode(bands).alias("bb")).select(
        "vec_id", "bb.band", "bb.bucket"
    )
    qs = F.broadcast(
        banded.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), "band", "bucket"
        )
    )
    cand_ids = (
        banded.join(qs, ["band", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    corpus = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", norm(F.col("embedding"))
    )
    q_vecs = F.broadcast(
        corpus.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("nrm").alias("qnrm"),
        )
    )
    scored = (
        corpus.join(F.broadcast(cand_ids), "vec_id")
        .join(q_vecs, "query_id")
        .withColumn(
            "cos",
            cosine_prenormed(
                F.col("qe"), F.col("embedding"), F.col("qnrm"), F.col("nrm")
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cos_sim"), "rnk")
    )


def _recall_report_oracle() -> str:
    """DuckDB dual of the LSH-vs-exact recall report: the SRP CTE chain
    (shared with the ann_lsh_topk oracle) plus an independently-renamed
    exact-top-k chain, joined per query."""
    return f"""
    WITH {srp_ranked_ctes()},
    lsh AS (SELECT query_id, vec_id FROM ranked WHERE rnk <= {TOP_K}),
    eq AS (SELECT vec_id AS query_id, embedding AS qe
           FROM embeddings WHERE vec_id < {N_QUERIES}),
    escored AS (
      SELECT eq.query_id, e.vec_id,
             {_COSINE_SQL.format(a='eq.qe', b='e.embedding')} AS cos
      FROM eq JOIN embeddings e ON e.vec_id <> eq.query_id
    ),
    eranked AS (
      SELECT query_id, vec_id, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
      FROM escored
    ),
    exact AS (SELECT query_id, vec_id FROM eranked WHERE rnk <= {TOP_K}),
    hits AS (
      SELECT e.query_id, COUNT(*) AS n_hits
      FROM exact e JOIN lsh l
        ON l.query_id = e.query_id AND l.vec_id = e.vec_id
      GROUP BY e.query_id
    ),
    denom AS (SELECT query_id, COUNT(*) AS n_exact FROM exact GROUP BY query_id)
    SELECT d.query_id,
           CAST(d.n_exact AS BIGINT) AS n_exact,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / d.n_exact, 6) AS recall
    FROM denom d LEFT JOIN hits h USING (query_id)
    """


@query("ann_recall_report", oracle=_recall_report_oracle())
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality monitoring as a QUERY: per-query recall@k of
    the SRP-LSH face against the exact brute-force baseline — the
    number a pipeline tracks to decide when to widen signatures or add
    bands. Both faces are deterministic (literal planes, fixed tie
    order), so even this meta-query carries a full value-hash DuckDB
    oracle; at 100 TB the same report runs over a sampled query set.
    """
    exact = ann_cosine_topk(spark, sf_dir).select("query_id", "vec_id")
    approx = ann_lsh_topk(spark, sf_dir).select("query_id", "vec_id")
    hits = (
        exact.join(approx, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    denom = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return denom.join(hits, "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.round(
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
            / F.col("n_exact"),
            6,
        ).alias("recall"),
    )


IVF_K = 16  # bounded centroid count; 2^14-2^16 at 100 TB — NEVER f(corpus size)
IVF_TRAIN_CAP = 4096  # k-means training sample rows (bounded, hash-deterministic)
IVF_N_PROBE = 5


#: fingerprinted (see llm/cluster.dataset_fingerprint) centroid cache:
#: repeated serving-path calls (bench warm+median runs, recall gates)
#: skip the KMeans refit — the fit is deterministic (fixed seed +
#: hash-ordered sample), so the cache changes latency, never results.
_CENTROID_CACHE: dict[tuple, list] = {}


def train_centroids(
    spark: SparkSession,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = IVF_K,
    train_cap: int = IVF_TRAIN_CAP,
    seed: int = 7,
    cache_key: str | None = None,
) -> DataFrame:
    """Bounded-k IVF centroids: KMeans on a deterministic hash-ordered
    sample of ≤``train_cap`` vectors.

    ``k`` is FIXED and independent of corpus size, so the centroid table
    is always broadcastable and assignment is O(n·k) total work at any
    scale. (The round-1 hash-mod-31 scheme grew centroids linearly with
    the corpus — an n/31-row broadcast and O(n²/31) assignment join —
    which cannot survive 100 TB.) Training cost is bounded by
    ``train_cap`` regardless of corpus size; fixed seed + deterministic
    sample ⇒ reproducible centroids.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    ck = None
    if cache_key is not None:
        from spark_streaming_with_debezium_spark.llm.cluster import (
            dataset_fingerprint,
        )

        # ADVICE r9: fold id_col/vec_col into the key — two callers over
        # the same sf_dir but different vector sources/transforms must
        # not share cached centroids (callers applying a transform
        # should additionally tag via the `sf_dir|tag` convention).
        ck = (dataset_fingerprint(cache_key), id_col, vec_col, k, train_cap, seed)
        if ck in _CENTROID_CACHE:
            cents = spark.createDataFrame(
                _CENTROID_CACHE[ck], "cent_id INT, ce ARRAY<DOUBLE>"
            )
            return cents.withColumn("cnrm", norm(F.col("ce")))
    sample = (
        vectors.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_id")), F.col("_id"))
        .limit(train_cap)
        .select(array_to_vector(F.col("_v").cast("array<double>")).alias("features"))
    ).persist()
    try:
        # random init: the k-means|| init passes cost ~3× the fit itself
        # on a bounded sample, and the extra init quality doesn't move
        # recall at probe counts ≥ 5 (measured locally)
        model = KMeans(k=k, seed=seed, maxIter=5, initMode="random").fit(sample)
    finally:
        sample.unpersist()
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    if ck is not None:
        _CENTROID_CACHE[ck] = centers
    cents = spark.createDataFrame(centers, "cent_id INT, ce ARRAY<DOUBLE>")
    return cents.withColumn("cnrm", norm(F.col("ce")))


def nearest_cells(
    df: DataFrame,
    cents: DataFrame,
    vec_col: str,
    nrm_col: str,
    n: int,
    out_col: str = "cell",
) -> DataFrame:
    """Attach the ``n`` nearest centroid ids (by cosine) as exploded
    rows.

    Pure projection against the broadcast centroid ARRAY — zero
    shuffle: the round-1 formulation (n×k join + row_number window)
    shuffled the entire corpus with its embedding payloads just to pick
    the argmax. Per-row cost is O(k·dim) inside one higher-order
    expression; the corpus never moves.
    """
    arr = cents.agg(
        F.array_sort(F.collect_list(F.struct("cent_id", "ce", "cnrm"))).alias("_cents")
    )
    # Struct fields compare in order: (cs, -cent_id) sorted DESC keeps
    # the LOWEST cent_id on exact-cosine ties — same tie order as the
    # round-1 row_number(orderBy cs desc, cent_id asc) formulation, so
    # IvfIndex data written before the rewrite stays probe-consistent.
    scored = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            (dot(F.col(vec_col), c["ce"]) / (F.col(nrm_col) * c["cnrm"])).alias("cs"),
            (-c["cent_id"]).alias("_neg_id"),
            c["cent_id"].alias("cent_id"),
        ),
    )
    best = F.slice(F.sort_array(scored, asc=False), 1, n)
    return (
        df.crossJoin(F.broadcast(arr))
        .withColumn(out_col, F.explode(F.transform(best, lambda s: s["cent_id"])))
        .drop("_cents")
    )


def probe_topk(
    queries: DataFrame,
    cents: DataFrame,
    read_cells: Callable[[DataFrame], DataFrame],
    n_probe: int,
    k: int,
) -> DataFrame:
    """IVF search tail: probe the ``n_probe`` cells nearest each query
    (``query_id, qe, qnrm``), score by cosine the vectors
    ``read_cells(probes)`` returns (``vec_id, embedding, nrm, cell``)
    and keep the ``k`` best per query, ties to the lower vec_id.
    ``read_cells`` sees the probes so a cell-partitioned store can read
    only the probed cells."""
    probes = nearest_cells(queries, cents, "qe", "qnrm", n_probe, "cell")
    # no distinct needed: a vector lives in exactly one cell and probes
    # are unique per (query, cell), so each (query, vec) scores once
    cands = read_cells(probes).join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.withColumn(
        "cos",
        cosine_prenormed(F.col("qe"), F.col("embedding"), F.col("qnrm"), F.col("nrm")),
    ).select("query_id", "vec_id", "cos")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cos_sim"), "rnk")
    )


def ivf_topk_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate top-k with bounded-k sampled-KMeans
    centroids — the raw per-(query, neighbor) row face (the registered
    ``ann_ivf_topk`` query wraps this in a recall bound-check so the
    float/pyspark.ml path gets a driver hash row instead of rows-only).

    Index build = one shuffle-free projection assigning each vector to
    its nearest of ``IVF_K`` centroids; search probes the
    ``IVF_N_PROBE`` nearest cells per query, so each query scores
    ~n·probes/k candidates instead of the whole corpus. At 100 TB the
    assignment is written partitioned-by-cell (see ``IvfIndex``) so a
    probe reads only its cells' files.
    """
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", norm(F.col("embedding"))
    )
    cents = train_centroids(spark, e, cache_key=sf_dir)
    assigned = nearest_cells(e, cents, "embedding", "nrm", 1, "cell")
    qs = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    return probe_topk(qs, cents, lambda _probes: assigned, IVF_N_PROBE, TOP_K)


#: per-query recall floor for the ann_ivf_topk bound-check: the IVF
#: face must hit ≥ NUM/DEN of the exact top-k for EVERY standing
#: query. Measured min per-query recall is 0.4 at every SF (nprobe=5,
#: k=16, seed 7), so 1/5 carries a 2× margin against partitioning /
#: KMeans-seed drift.
IVF_RECALL_NUM, IVF_RECALL_DEN = 1, 5


@query(
    "ann_ivf_topk",
    oracle=f"""
    SELECT CAST(vec_id AS BIGINT) AS query_id,
           CAST(LEAST({TOP_K}, (SELECT COUNT(*) FROM embeddings) - 1)
                AS BIGINT) AS n_exact,
           CAST(1 AS BIGINT) AS recall_ok
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall bound-check face of the float/pyspark.ml IVF pipeline
    (:func:`ivf_topk_rows`) — the r8 sketch pattern applied to ANN:
    emit the DuckDB-reproducible exact part (per standing query, the
    exact-top-k size) plus a BIGINT 0/1 gate asserting the IVF result
    hits ≥ ``IVF_RECALL_NUM/IVF_RECALL_DEN`` of the exact cosine top-k
    (:func:`ann_cosine_topk`, itself fully hash-oracled). Promotes the
    inline float-IVF path from rows-only to a driver hash row; the raw
    neighbor rows stay available via :func:`ivf_topk_rows` and the
    persistent ``IvfIndex``."""
    ivf = ivf_topk_rows(spark, sf_dir).select("query_id", "vec_id")
    exact = ann_cosine_topk(spark, sf_dir).select("query_id", "vec_id")
    hits = (
        exact.join(ivf, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    denom = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    return denom.join(hits, "query_id", "left").select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("n_exact").cast("long").alias("n_exact"),
        (
            F.coalesce(F.col("n_hits"), F.lit(0)) * IVF_RECALL_DEN
            >= F.col("n_exact") * IVF_RECALL_NUM
        )
        .cast("long")
        .alias("recall_ok"),
    )


#: SemDeDup cosine threshold NUM/DEN — calibrated to the synthetic
#: corpus: the embeddings are random unit-ish vectors whose within-cell
#: cosines top out near 0.53 (measured max 0.48-0.53 across SFs), so
#: the canonical 0.95 paper threshold never fires here; 2/5 keeps the
#: operator exercising real drop decisions (~p99 of the pair cosine
#: distribution) while production would pass its own threshold.
SEMDEDUP_NUM, SEMDEDUP_DEN = 2, 5


def _semdedup_oracle() -> str:
    """DuckDB dual of the Lloyd-cell SemDeDup: the shared k-means CTE
    chain gives bit-identical cells; the drop test is EXACT integer
    arithmetic (dot > 0 AND DEN²·dot² ≥ NUM²·|a|²·|b|² on the 1e-6
    grid, HUGEINT interior), so threshold membership can never waver
    on a float ulp; the reported cosine is two exact-int→double casts,
    one multiply, sqrt, divide — single-rounded IEEE in both engines."""
    from spark_streaming_with_debezium_spark.llm.cluster import (
        _km_cte_chain,
    )

    n2 = "CAST(list_sum(list_transform(list_zip({a}, {b}), p -> p[1]*p[2])) AS BIGINT)"
    return f"""
    WITH {_km_cte_chain()},
    sq AS (
      SELECT vec_id, v, {n2.format(a='v', b='v')} AS n2
      FROM xi
    ),
    cl AS (
      SELECT s.vec_id, s.v, s.n2, a.cluster AS cell
      FROM sq s JOIN afinal a USING (vec_id)
    ),
    pr AS (
      SELECT a.vec_id AS keep_id, b.vec_id AS drop_id,
             {n2.format(a='a.v', b='b.v')} AS dot,
             a.n2 AS n2a, b.n2 AS n2b
      FROM cl a JOIN cl b ON a.cell = b.cell AND a.vec_id < b.vec_id
    ),
    near AS (
      SELECT * FROM pr
      WHERE dot > 0
        AND CAST({SEMDEDUP_DEN * SEMDEDUP_DEN} AS HUGEINT) * dot * dot
            >= CAST({SEMDEDUP_NUM * SEMDEDUP_NUM} AS HUGEINT) * n2a * n2b
    )
    SELECT drop_id, keep_id,
           round(CAST(dot AS DOUBLE)
                 / sqrt(CAST(n2a AS DOUBLE) * CAST(n2b AS DOUBLE)), 6)
             AS cos_sim
    FROM near
    QUALIFY row_number() OVER (PARTITION BY drop_id ORDER BY keep_id) = 1
    """


@query("dedup_semdedup_cells", oracle=_semdedup_oracle())
def dedup_semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: drop-list of embeddings whose
    cosine to a LOWER-id vector in the SAME centroid cell reaches
    ``SEMDEDUP_NUM/SEMDEDUP_DEN`` — promoted from rows-only to a FULL
    value-hash oracle (VERDICT r8 item 4) by rebasing the coarse
    quantizer on the deterministic exact-integer Lloyd cells
    (``embedding_kmeans_lloyd``, itself hash-green) and making the
    threshold test exact integer arithmetic on the 1e-6 grid:
    dot > 0 AND DEN²·dot² ≥ NUM²·|a|²·|b|² (decimal(38) interior;
    grid dots are ≤ 64·10¹² so every square fits), so cell membership
    AND drop membership are bit-determined cross-engine.

    Scale shape unchanged: bounded-k centroids broadcast as literals
    (one shuffle-free assignment pass), within-cell pairs are one
    shuffle on cell id, pair work O(n²/k) with k scaling to 2^14-2^16
    at 100 TB. Keep/drop rule (keep lowest vec_id) is deterministic.
    """
    from spark_streaming_with_debezium_spark.llm.cluster import (
        _gridded_embeddings,
        _km_best_struct,
        _lloyd_centroids,
    )

    e = _gridded_embeddings(spark, sf_dir).select("vec_id", "v")
    cents = _lloyd_centroids(e, cache_key=sf_dir)
    cell = _km_best_struct(cents)["cluster"]
    n2 = F.aggregate(
        F.zip_with("v", "v", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    cells = e.select("vec_id", "v", cell.alias("cell"), n2.alias("n2"))
    a, b = cells.alias("a"), cells.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = a.join(
        b,
        (F.col("a.cell") == F.col("b.cell"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("keep_id"),
        F.col("b.vec_id").alias("drop_id"),
        dot.alias("dot"),
        F.col("a.n2").alias("n2a"),
        F.col("b.n2").alias("n2b"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    near = pairs.filter(
        (F.col("dot") > 0)
        & (
            F.lit(SEMDEDUP_DEN * SEMDEDUP_DEN)
            * dec(F.col("dot"))
            * dec(F.col("dot"))
            >= F.lit(SEMDEDUP_NUM * SEMDEDUP_NUM)
            * dec(F.col("n2a"))
            * dec(F.col("n2b"))
        )
    )
    # one row per dropped vector: its lowest-id retained neighbor
    w = Window.partitionBy("drop_id").orderBy("keep_id")
    return (
        near.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "drop_id",
            "keep_id",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(
                    F.col("n2a").cast("double") * F.col("n2b").cast("double")
                ),
                6,
            ).alias("cos_sim"),
        )
    )


_DEQUANT_SQL = (
    "list_transform({e}, x -> "
    "CAST(round(CAST(CAST(x AS DOUBLE) / {am} * 127 AS DECIMAL(20,10))) "
    "AS DOUBLE) * {am} / 127)"
)


@query(
    "ann_int8_rescore",
    oracle=f"""
    WITH c AS (
      SELECT vec_id, embedding,
             greatest(abs(CAST(list_max(embedding) AS DOUBLE)),
                      abs(CAST(list_min(embedding) AS DOUBLE))) AS absmax
      FROM embeddings
    ),
    dqc AS (
      SELECT vec_id, embedding,
             {_DEQUANT_SQL.format(e='embedding', am='absmax')} AS dq
      FROM c
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe
          FROM embeddings WHERE vec_id < {N_QUERIES}),
    coarse AS (
      SELECT q.query_id, d.vec_id, d.embedding, q.qe,
             {_COSINE_SQL.format(a='q.qe', b='d.dq')} AS approx_cos,
             ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY {_COSINE_SQL.format(a='q.qe', b='d.dq')} DESC,
                        d.vec_id) AS crk
      FROM q JOIN dqc d ON d.vec_id <> q.query_id
    ),
    rescored AS (
      SELECT query_id, vec_id,
             {_COSINE_SQL.format(a='qe', b='embedding')} AS cos,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY {_COSINE_SQL.format(a='qe', b='embedding')} DESC,
                        vec_id) AS rnk
      FROM coarse WHERE crk <= 20
    )
    SELECT query_id, vec_id, round(cos, 6) AS cos_sim, rnk
    FROM rescored WHERE rnk <= {TOP_K}
    """,
)
def ann_int8_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-coarse / exact-rescore top-k: score every candidate
    against the int8-DEQUANTIZED corpus (absmax grid, the exact
    ``embedding_quantize_int8`` formula including its decimal-hop
    rounding), keep the top-20 coarse candidates per query, then
    rescore those exactly and emit the top-5 — the standard two-stage
    retrieval pattern where the wide scan reads 4x-smaller vectors and
    full precision touches only the short-list.

    Fully oracle-checked (unlike the LSH/IVF faces): the quantization
    grid, both cosine folds, and both tie-broken windows are
    deterministic on each engine. Plan: queries broadcast, corpus
    scanned once, the only shuffles are the two per-query top-k
    windows (q·n then q·20 rows)."""
    e = load_table(spark, sf_dir, "embeddings")
    absmax = F.greatest(
        F.abs(F.array_max("embedding").cast("double")),
        F.abs(F.array_min("embedding").cast("double")),
    )
    dq = F.transform(
        F.col("embedding"),
        lambda x: F.round(
            (x.cast("double") / F.col("_am") * 127).cast("decimal(20,10)")
        ).cast("double")
        * F.col("_am")
        / F.lit(127),
    )
    corpus = e.withColumn("_am", absmax).withColumn("dq", dq)
    q = F.broadcast(
        e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("approx_cos").desc(), F.col("vec_id")
    )
    shortlist = (
        corpus.join(q, F.col("vec_id") != F.col("query_id"))
        .withColumn("approx_cos", cosine(F.col("qe"), F.col("dq")))
        .withColumn("crk", F.row_number().over(wc))
        .filter(F.col("crk") <= 20)
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    return (
        shortlist.withColumn("cos", cosine(F.col("qe"), F.col("embedding")))
        .withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cos_sim"), "rnk")
    )


#: Semantic-decontamination gate. Production uses ~0.85 (near-dup
#: embeddings); the synthetic embeddings are cluster-noise vectors
#: whose same-label cross-split cosines top out near 0.47, so the gate
#: sits at the p99 tail (0.30) to keep the operator's candidate join,
#: threshold and rollup genuinely exercised (18/19/223 flagged train
#: vectors at sf0.001/0.01/0.1) instead of vacuously empty.
SEMANTIC_DECON_TAU = 0.30


@query(
    "decontaminate_semantic_cosine",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, label, embedding,
             CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '14'
                  THEN 'eval' ELSE 'train' END AS split
      FROM embeddings
    ),
    hits AS (
      SELECT t.vec_id,
             {_COSINE_SQL.format(a='t.embedding', b='e.embedding')} AS cos
      FROM s t JOIN s e
        ON t.label = e.label AND t.split = 'train' AND e.split = 'eval'
    )
    SELECT vec_id AS train_vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
           round(MAX(cos), 6) AS max_cos
    FROM hits WHERE cos >= {SEMANTIC_DECON_TAU}
    GROUP BY 1
    """,
)
def decontaminate_semantic_cosine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEMANTIC decontamination of the train split against eval: train
    vectors whose embedding sits within cosine ≥ τ of ANY eval
    vector — the paraphrase/translation leakage that survives both the
    exact n-gram decontaminator (`decontaminate_train_ngram`) and the
    lexical MinHash one (`decontaminate_fuzzy_minhash`); the third
    rung of the decontamination ladder. Output: each contaminated
    train vector with its eval-hit count and worst (max) cosine — the
    rows a curation job quarantines before training.

    The split is the deterministic md5-of-id convention (~8% eval —
    no RNG state); candidate pairs are blocked on the label/cluster
    key exactly like `embedding_cosine_neardup` (at 100 TB the block
    comes from IVF cell assignment, same as the ANN faces), so the
    cross join is per-block, never corpus×eval. MAX/COUNT are
    order-independent aggregates, so the only float sensitivity is
    the cosine itself — computed by the same prenormed expression the
    ✓oracled neardup face already proves engine-identical."""
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "split",
        F.when(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2)
            < F.lit("14"),
            F.lit("eval"),
        ).otherwise(F.lit("train")),
    ).withColumn("nrm", norm(F.col("embedding")))
    t = e.filter(F.col("split") == "train").alias("t")
    ev = e.filter(F.col("split") == "eval").alias("e")
    hits = t.join(ev, F.col("t.label") == F.col("e.label")).select(
        F.col("t.vec_id").alias("train_vec_id"),
        cosine_prenormed(
            F.col("t.embedding"),
            F.col("e.embedding"),
            F.col("t.nrm"),
            F.col("e.nrm"),
        ).alias("cos"),
    )
    return (
        hits.filter(F.col("cos") >= SEMANTIC_DECON_TAU)
        .groupBy("train_vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_eval_hits"),
            F.round(F.max("cos"), 6).alias("max_cos"),
        )
    )


#: Matryoshka prefix-dimension grid: recall of exact top-k computed on
#: only the first d coordinates vs the full-width exact top-k. 64 = the
#: corpus width, so its recall row is the built-in 1.0 sanity anchor.
MATRYOSHKA_DIMS = (8, 16, 32, 64)


def _matryoshka_oracle() -> str:
    dims_vals = ", ".join(f"({d})" for d in MATRYOSHKA_DIMS)
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    dgrid(dims) AS (VALUES {dims_vals}),
    scored AS (
      SELECT d.dims, q.query_id, e.vec_id,
             list_cosine_similarity(
               CAST(q.qe[1:d.dims] AS DOUBLE[]),
               CAST(e.embedding[1:d.dims] AS DOUBLE[])) AS cos
      FROM q, dgrid d, embeddings e
      WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT dims, query_id, vec_id,
             row_number() OVER (PARTITION BY dims, query_id
                                ORDER BY cos DESC, vec_id) AS rnk
      FROM scored
    ),
    approx AS (SELECT dims, query_id, vec_id FROM ranked
               WHERE rnk <= {TOP_K}),
    truth AS (SELECT query_id, vec_id FROM ranked
              WHERE dims = {max(MATRYOSHKA_DIMS)} AND rnk <= {TOP_K}),
    hits AS (
      SELECT a.dims, a.query_id, count(t.vec_id) AS n_hit
      FROM approx a LEFT JOIN truth t
        ON a.query_id = t.query_id AND a.vec_id = t.vec_id
      GROUP BY 1, 2
    )
    SELECT dims,
           round(CAST(SUM(n_hit) AS DOUBLE) / (COUNT(*) * {TOP_K}), 6)
             AS avg_recall,
           round(CAST(MIN(n_hit) AS DOUBLE) / {TOP_K}, 6) AS min_recall
    FROM hits GROUP BY 1
    """


@query("ann_matryoshka_recall", oracle=_matryoshka_oracle())
def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / prefix-dimension serving curve: recall@k of the
    exact cosine top-k computed on only the FIRST d coordinates
    (d ∈ ``MATRYOSHKA_DIMS``) against the full-width exact top-k — the
    measured basis for the MRL serving trade (scan d/64 of the vector
    bytes per candidate; re-rank survivors at full width), the same
    "measure, don't guess" discipline as ``ann_nprobe_recall_curve``.
    Fully value-hash oracled: both faces are exact float cosine with
    pinned (cos DESC, vec_id) tie order, no training anywhere.

    Shape: ONE corpus pass scores every (query, dims) pair against the
    broadcast 8-vector query set (q·|dims|·n rows, q bounded — the
    serving-eval shape); per-(dims, query) top-k windows; the corpus
    never shuffles. Prefix NORMS are per-VECTOR quantities, so they are
    precomputed once per corpus row (and once per broadcast query)
    BEFORE the pair join — computing them per pair tripled the
    non-codegen higher-order-function work and made this the most
    expensive extended row at sf0.1 (15.1 s → the per-pair cost is now
    just the |dims| prefix dots). ``cosine_prenormed`` is bit-identical
    to ``cosine`` (same expressions, same fold order), so the oracle
    hash is unchanged by construction."""
    e = load_table(spark, sf_dir, "embeddings")

    def _with_prefix_norms(df, vec_col: str, prefix: str):
        return df.select(
            "*",
            *[
                norm(F.slice(vec_col, 1, d)).alias(f"{prefix}{d}")
                for d in MATRYOSHKA_DIMS
            ],
        )

    corpus = _with_prefix_norms(
        e.select("vec_id", "embedding"), "embedding", "en"
    )
    qs = _with_prefix_norms(
        e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
        ),
        "qe",
        "qn",
    )
    pairs = corpus.join(
        F.broadcast(qs), F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.named_struct(
                        F.lit("dims"),
                        F.lit(d),
                        F.lit("cos"),
                        cosine_prenormed(
                            F.slice("qe", 1, d),
                            F.slice("embedding", 1, d),
                            F.col(f"qn{d}"),
                            F.col(f"en{d}"),
                        ),
                    )
                    for d in MATRYOSHKA_DIMS
                ]
            )
        ).alias("z"),
    ).select("query_id", "vec_id", "z.dims", F.col("z.cos").alias("cos"))
    w = Window.partitionBy("dims", "query_id").orderBy(
        F.col("cos").desc(), "vec_id"
    )
    ranked = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= TOP_K
    )
    truth = ranked.filter(F.col("dims") == max(MATRYOSHKA_DIMS)).select(
        F.col("query_id").alias("t_query"), F.col("vec_id").alias("t_vec")
    )
    hits = (
        ranked.join(
            F.broadcast(truth),
            (F.col("query_id") == F.col("t_query"))
            & (F.col("vec_id") == F.col("t_vec")),
            "left",
        )
        .groupBy("dims", "query_id")
        .agg(F.count("t_vec").alias("n_hit"))
    )
    return hits.groupBy("dims").agg(
        F.round(F.sum("n_hit") / (F.count(F.lit(1)) * TOP_K), 6).alias(
            "avg_recall"
        ),
        F.round(F.min("n_hit") / TOP_K, 6).alias("min_recall"),
    )
