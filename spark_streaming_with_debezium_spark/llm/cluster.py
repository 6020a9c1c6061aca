"""Near-duplicate clustering: connected components over candidate
pairs → one canonical document per duplicate cluster.

Pairwise dedup (MinHash/SimHash/jaccard) yields EDGES; the keep/drop
decision needs COMPONENTS (doc A~B, B~C ⇒ {A,B,C} is one cluster even
if A~C was never scored). Every face here labels components with the
engine's one connected-components kernel,
``operators/graph.py:cc_fixed`` — synchronous min-label propagation
(component = min doc id), one broadcast-labels round per graph-diameter
step, stopping at the first round that moves no label. Near-dup
clusters are shallow, so a few rounds close them; :func:`pair_components`
fails closed when ``DEDUP_CC_ROUNDS`` rounds are not enough.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_streaming_with_debezium_spark.operators.graph import cc_fixed
from spark_streaming_with_debezium_spark.registry import query

#: Round budget of the dedup cluster faces: rounds needed ≈ the pair
#: graph's diameter, and a label still moving after this many rounds
#: raises instead of mislabeling a long chain.
DEDUP_CC_ROUNDS = 15


def pair_components(pairs: DataFrame) -> DataFrame:
    """(node, comp) from a (doc_a, doc_b) edge list; comp = min node id
    in the component. Raises when a label still moved in the last
    round (``stable == 0``)."""
    labs = cc_fixed(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        DEDUP_CC_ROUNDS,
    )
    if labs.filter(F.col("stable") == 0).limit(1).count():
        raise RuntimeError(
            f"connected components did not converge within {DEDUP_CC_ROUNDS} "
            "rounds — long-chain components would get wrong labels "
            "(rounds needed ≈ graph diameter)"
        )
    return labs.select("node", F.col("lab").alias("comp"))


def clusters_from_pairs(pairs: DataFrame) -> DataFrame:
    """Edge list → duplicate clusters: per cluster, canonical doc =
    lowest doc_id, plus size and a joined member list (scalar output —
    registered queries never return array columns). Shared by every
    pair-producing dedup face (native LSH, pyspark.ml LSH), so the
    keep/drop decision logic exists exactly once; components come from
    :func:`pair_components` (``cc_fixed`` plus the convergence guard)."""
    comps = pair_components(pairs)
    return (
        comps.groupBy(F.col("comp").alias("canonical_doc"))
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("node")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members"),
        )
        .filter(F.col("cluster_size") > 1)
    )


def _clusters_oracle() -> str:
    """DuckDB dual of the WHOLE clustering face: the deterministic
    MinHash+LSH verified pairs (shared CTEs from ``llm/dedup.py``) fed
    into connected components via a recursive CTE (min-label closure —
    every node collects every reachable label, MIN per node is its
    component), then the canonical/size/member-list aggregation. The
    iterative Spark loop and the recursive SQL closure are independent
    formulations of the same fixpoint, so a value-hash match checks
    convergence and labeling, not just row counts."""
    from spark_streaming_with_debezium_spark.llm.dedup import minhash_pairs_ctes

    return f"""
    WITH RECURSIVE {minhash_pairs_ctes()},
    vp AS (SELECT doc_a, doc_b FROM verified WHERE jac >= 0.5),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM vp
      UNION ALL SELECT doc_b, doc_a FROM vp
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, MIN(label) AS comp FROM reach GROUP BY node)
    SELECT comp AS canonical_doc,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members
    FROM comp GROUP BY comp HAVING COUNT(*) > 1
    """


@query("dedup_clusters", oracle=_clusters_oracle())
def dedup_clusters(spark, sf_dir: str) -> DataFrame:
    """Duplicate clusters from MinHash-LSH verified pairs: the
    keep-list / drop-list a dedup pipeline actually applies. Fully
    oracle-checked since round 7 (recursive-CTE components over the
    deterministic pair set — see :func:`_clusters_oracle`); also
    verified against a driver-side union-find in tests."""
    from spark_streaming_with_debezium_spark.llm.dedup import dedup_minhash_lsh

    return clusters_from_pairs(dedup_minhash_lsh(spark, sf_dir))


def clusters_ml_rows(spark, sf_dir: str) -> DataFrame:
    """Same cluster output over the pyspark.ml MinHashLSH face — both
    LSH implementations feed ONE clustering path, so a user can swap
    candidate generators without changing the keep/drop logic. Raw
    cluster rows (the registered ``dedup_clusters_ml`` query wraps
    this in an exact-dup-coverage gate)."""
    from spark_streaming_with_debezium_spark.llm.ml_lsh import (
        minhash_ml_pairs,
    )

    return clusters_from_pairs(minhash_ml_pairs(spark, sf_dir))


@query(
    "dedup_clusters_ml",
    oracle=r"""
    WITH h AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS ch
      FROM documents
    ),
    g AS (SELECT ch FROM h GROUP BY ch HAVING COUNT(*) >= 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_groups,
           CAST(1 AS BIGINT) AS exact_groups_clustered
    FROM g
    """,
)
def dedup_clusters_ml(spark, sf_dir: str) -> DataFrame:
    """Coverage bound-check face of the pyspark.ml cluster path
    (:func:`clusters_ml_rows`) — the last rows-only promotion (VERDICT
    r8 item 4's pattern): emit the DuckDB-exact count of exact-dup
    groups (whitespace-normalized content-hash groups of size ≥ 2)
    plus a BIGINT 0/1 gate asserting EVERY such group lands whole
    inside ONE ml cluster — the minimum-recall contract any LSH
    clustering must honour (an exact duplicate is the easiest possible
    near-dup; splitting one across clusters means the candidate
    generator failed outright)."""
    from spark_streaming_with_debezium_spark.sources.tables import (
        load_table,
    )

    d = load_table(spark, sf_dir, "documents")
    groups = (
        d.select(
            "doc_id",
            F.md5(
                F.regexp_replace(F.lower(F.trim("text")), "\\s+", " ")
            ).alias("ch"),
        )
        .groupBy("ch")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_list("doc_id").alias("ids"),
        )
        .filter(F.col("n") >= 2)
    )
    m2c = clusters_ml_rows(spark, sf_dir).select(
        "canonical_doc",
        F.explode(F.split("members", ",")).alias("_m"),
    ).select("canonical_doc", F.col("_m").cast("long").alias("doc_id"))
    per_group = (
        groups.select("ch", "n", F.explode("ids").alias("doc_id"))
        .join(m2c, "doc_id", "left")
        .groupBy("ch")
        .agg(
            F.max("n").alias("n"),
            F.count("canonical_doc").alias("n_found"),
            F.countDistinct("canonical_doc").alias("n_canon"),
        )
    )
    return per_group.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_groups"),
        # coalesce: zero exact-dup groups (possible at tiny SFs) is a
        # vacuously-satisfied contract, not a NULL gate
        (
            F.coalesce(
                F.sum(
                    (
                        (F.col("n_found") == F.col("n"))
                        & (F.col("n_canon") == 1)
                    ).cast("long")
                ),
                F.lit(0),
            )
            == F.count(F.lit(1))
        )
        .cast("long")
        .alias("exact_groups_clustered"),
    )


def _keep_best_oracle() -> str:
    from spark_streaming_with_debezium_spark.llm.dedup import (
        minhash_pairs_ctes,
    )

    return f"""
    WITH RECURSIVE {minhash_pairs_ctes()},
    vp AS (SELECT doc_a, doc_b FROM verified WHERE jac >= 0.5),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM vp
      UNION ALL SELECT doc_b, doc_a FROM vp
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, MIN(label) AS comp FROM reach GROUP BY node),
    t AS (
      SELECT doc_id, text,
             string_split_regex(lower(trim(text)), '\\s+') AS words
      FROM documents
    ),
    q AS (
      SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
             CAST((len(words) BETWEEN 5 AND 1000) AND
                  (CAST(length(text) AS DOUBLE) / len(words))
                    BETWEEN 3 AND 12 AS INT) AS passes
      FROM t
    ),
    ranked AS (
      SELECT c.comp, c.node, q.n_words, q.passes,
             row_number() OVER (PARTITION BY c.comp
               ORDER BY q.passes DESC NULLS LAST,
                        q.n_words DESC NULLS LAST, c.node) AS rn
      FROM comp c JOIN q ON q.doc_id = c.node
    )
    SELECT comp AS cluster_id,
           CAST(MAX(CASE WHEN rn = 1 THEN node END) AS BIGINT) AS keep_doc,
           CAST(MAX(CASE WHEN rn = 1 THEN n_words END) AS BIGINT)
             AS keep_n_words,
           CAST(MAX(CASE WHEN rn = 1 THEN passes END) AS BIGINT)
             AS keep_passes,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped,
           string_agg(CASE WHEN rn > 1 THEN CAST(node AS VARCHAR) END,
                      ',' ORDER BY node) AS dropped_docs
    FROM ranked GROUP BY comp HAVING COUNT(*) > 1
    """


@query("dedup_cluster_keep_best", oracle=_keep_best_oracle())
def dedup_cluster_keep_best(spark, sf_dir: str) -> DataFrame:
    """Quality-canonical dedup policy: within each near-dup cluster
    (:func:`pair_components` over the MinHash-LSH verified pairs —
    the same ``cc_fixed`` kernel as :func:`dedup_clusters`), KEEP the
    member the C4/Gopher heuristic gate ranks best — (passes_quality DESC,
    n_words DESC, doc_id ASC), all exact ints so the pinned order is
    engine-portable — and emit the drop list. This is the policy
    production pipelines actually apply (keep the highest-quality
    representative), where `dedup_clusters`' lowest-id canonical is
    the arbitrary-but-deterministic baseline.

    Shape: everything up to components is the shared banded-LSH /
    ``cc_fixed`` machinery (each stage's scale story documented at its
    face); the policy itself adds one broadcast-size join of component
    rows to per-doc quality ints and one per-component window —
    components are near-dup clusters, bounded by the LSH bucket cap.
    Output is O(clusters)."""
    from spark_streaming_with_debezium_spark.llm.dedup import (
        dedup_minhash_lsh,
    )
    from spark_streaming_with_debezium_spark.llm.text_analysis import (
        _words,
    )
    from spark_streaming_with_debezium_spark.sources.tables import load_table

    comps = pair_components(dedup_minhash_lsh(spark, sf_dir))
    d = load_table(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    n_words = F.size(words).cast("bigint")
    awl = F.length("text").cast("double") / F.size(words)
    quality = d.select(
        F.col("doc_id").alias("node"),
        n_words.alias("n_words"),
        (F.size(words).between(5, 1000) & awl.between(3, 12))
        .cast("int")
        .alias("passes"),
    )
    w = Window.partitionBy("comp").orderBy(
        F.desc("passes"), F.desc("n_words"), F.asc("node")
    )
    ranked = comps.join(quality, "node").withColumn(
        "rn", F.row_number().over(w)
    )
    return (
        ranked.groupBy(F.col("comp").alias("cluster_id"))
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("node")))
            .cast("bigint")
            .alias("keep_doc"),
            F.max(F.when(F.col("rn") == 1, F.col("n_words")))
            .cast("bigint")
            .alias("keep_n_words"),
            F.max(F.when(F.col("rn") == 1, F.col("passes")))
            .cast("bigint")
            .alias("keep_passes"),
            (F.count(F.lit(1)) - 1).cast("bigint").alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("rn") > 1, F.col("node"))
                        )
                    ),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("dropped_docs"),
        )
        .filter(F.col("n_dropped") >= 1)
    )


def _group_split_oracle() -> str:
    """DuckDB dual of the dedup-aware split: verified near-dup pairs →
    recursive-CTE components → every document splits by the md5 prefix
    of its GROUP representative's id (singletons represent themselves),
    with the naive content-hash split computed alongside so the oracle
    value-hashes both the assignment and the leakage comparison."""
    from spark_streaming_with_debezium_spark.llm.dedup import minhash_pairs_ctes

    return f"""
    WITH RECURSIVE {minhash_pairs_ctes()},
    vp AS (SELECT doc_a, doc_b FROM verified WHERE jac >= 0.5),
    uedges AS (
      SELECT doc_a AS u, doc_b AS v FROM vp
      UNION ALL SELECT doc_b, doc_a FROM vp
    ),
    unodes AS (SELECT DISTINCT u AS node FROM uedges),
    reach(node, label) AS (
      SELECT node, node FROM unodes
      UNION
      SELECT e.v, r.label FROM reach r JOIN uedges e ON e.u = r.node
    ),
    comp AS (SELECT node, MIN(label) AS comp FROM reach GROUP BY node),
    rep AS (
      SELECT d.doc_id,
             COALESCE(c.comp, d.doc_id) AS grp,
             CASE WHEN substr(md5(CAST(COALESCE(c.comp, d.doc_id) AS VARCHAR)),
                              1, 2) < '14'
                  THEN 'holdout' ELSE 'train' END AS gsplit,
             CASE WHEN substr(md5(d.text), 1, 2) < '14'
                  THEN 'holdout' ELSE 'train' END AS nsplit
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ),
    leak AS (
      SELECT
        CAST(SUM(CASE WHEN ra.gsplit <> rb.gsplit THEN 1 ELSE 0 END)
             AS BIGINT) AS leak_pairs_grouped,
        CAST(SUM(CASE WHEN ra.nsplit <> rb.nsplit THEN 1 ELSE 0 END)
             AS BIGINT) AS leak_pairs_naive
      FROM vp
      JOIN rep ra ON vp.doc_a = ra.doc_id
      JOIN rep rb ON vp.doc_b = rb.doc_id
    ),
    per AS (
      SELECT gsplit, CAST(COUNT(*) AS BIGINT) AS n_docs FROM rep GROUP BY gsplit
    ),
    gsz AS (SELECT grp, gsplit, COUNT(*) AS n FROM rep GROUP BY grp, gsplit),
    pg AS (
      SELECT gsplit, CAST(COUNT(*) AS BIGINT) AS n_dup_groups
      FROM gsz WHERE n > 1 GROUP BY gsplit
    )
    SELECT per.gsplit AS split, per.n_docs,
           CAST(COALESCE(pg.n_dup_groups, 0) AS BIGINT) AS n_dup_groups,
           l.leak_pairs_grouped, l.leak_pairs_naive
    FROM per LEFT JOIN pg USING (gsplit), leak l
    """


_KM_K = 8  # cluster count
_KM_ITERS = 2  # Lloyd (assign → update) rounds before the final assign
_KM_GRID = 1_000_000  # fixed-point grid: coords become exact BIGINTs

#: dist² between two BIGINT coordinate lists — EXACT integer math, so
#: the argmin (and therefore every assignment) is bit-determined with
#: no float anywhere in the fixpoint.
_KM_D2 = (
    "list_sum(list_transform(list_zip({a}, {b}), p -> (p[1]-p[2])*(p[1]-p[2])))"
)


def _km_assign_cte(cent: str, out: str, src: str = "xi") -> str:
    return f"""
    {out} AS (
      SELECT vec_id, cluster, d2 FROM (
        SELECT x.vec_id, c.cluster,
               {_KM_D2.format(a="x.v", b="c.cv")} AS d2,
               row_number() OVER (PARTITION BY x.vec_id
                 ORDER BY {_KM_D2.format(a="x.v", b="c.cv")}, c.cluster) AS rn
        FROM {src} x CROSS JOIN {cent} c
      ) WHERE rn = 1
    )"""


def _km_update_cte(
    assign_t: str, prev_cent: str, out: str, src: str = "xi"
) -> str:
    # (s - pmod(s, n)) // n == floor(s / n) in exact integer arithmetic
    # (the numerator is an exact multiple of n) — mirrors Python's s // n
    # on the Spark side with no engine-specific division semantics.
    return f"""
    {out}_ex AS (
      SELECT a.cluster, unnest({src}.v) AS x,
             generate_subscripts({src}.v, 1) AS pos
      FROM {assign_t} a JOIN {src} ON a.vec_id = {src}.vec_id
    ),
    {out}_sums AS (
      SELECT cluster, pos, SUM(x) AS s, COUNT(*) AS n
      FROM {out}_ex GROUP BY 1, 2
    ),
    {out} AS (
      SELECT p.cluster, COALESCE(m.cv, p.cv) AS cv
      FROM {prev_cent} p LEFT JOIN (
        SELECT cluster,
               list(CAST((s - ((s % n + n) % n)) // n AS BIGINT)
                    ORDER BY pos) AS cv
        FROM {out}_sums GROUP BY cluster
      ) m ON p.cluster = m.cluster
    )"""


def _km_cte_chain(src: str = "xi", include_src: bool = True) -> str:
    """The shared CTE prefix ``xi .. cent{N} .. afinal`` implementing
    the whole Lloyd fixpoint in SQL — reused by every oracle that
    composes on the k-means cells (the coarse-quantizer role).

    ``src`` is the (vec_id, v) table the fixpoint trains on
    (``include_src=False`` when the caller defines it — e.g. a
    reference half for drift monitoring); defaults reproduce the
    original chain byte-for-byte."""
    src_cte = f"""
    xi AS (
      SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_GRID}) AS BIGINT)) AS v
      FROM embeddings
    ),""" if include_src else ""
    ctes = [
        f"""{src_cte}
    cent0 AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               - 1 AS cluster,
             v AS cv
      FROM {src}
      QUALIFY row_number()
                OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= {_KM_K}
    )"""
    ]
    for i in range(_KM_ITERS):
        ctes.append(_km_assign_cte(f"cent{i}", f"a{i + 1}", src=src))
        ctes.append(
            _km_update_cte(f"a{i + 1}", f"cent{i}", f"cent{i + 1}", src=src)
        )
    ctes.append(_km_assign_cte(f"cent{_KM_ITERS}", "afinal", src=src))
    return ",".join(ctes)


def _kmeans_oracle() -> str:
    """DuckDB dual of the whole Lloyd fixpoint: same integer grid, same
    md5-ordered seeds, same exact-integer assignment/update rounds —
    an independent SQL formulation (cross join + window argmin vs the
    engine's broadcast literal expressions), so the value-hash checks
    the ALGORITHM, not a shared implementation."""
    return f"""
    WITH {_km_cte_chain()}
    SELECT vec_id, CAST(cluster AS INT) AS cluster, CAST(d2 AS BIGINT) AS dist2
    FROM afinal
    """


@query("embedding_kmeans_lloyd", oracle=_kmeans_oracle())
def embedding_kmeans_lloyd(spark, sf_dir: str) -> DataFrame:
    """Deterministic native k-means over the embedding corpus — the
    clustering primitive behind SemDeDup cells, IVF coarse quantizers
    and topic bucketing, promoted from the rows-only class
    (pyspark.ml KMeans is seed/partitioning-dependent) to a full
    value-hash oracle: every coordinate drops onto an exact 1e-6
    integer grid (the ``embedding_label_cohesion`` trick), seeds are
    the k smallest (md5(vec_id), vec_id) vectors, assignment argmin
    and centroid floor-division are exact integer arithmetic, so the
    whole fixpoint is reproducible bit-for-bit across engines,
    partitionings and retries.

    Scale shape (the pyspark.ml KMeans loop, hand-rolled): per Lloyd
    round, ONE stateless pass assigns every vector against k×d
    BROADCAST literal centroids (no join, no shuffle of the corpus),
    then one partial-aggregated groupBy(cluster, pos) reduces to
    k×d rows per partition map-side before the shuffle; the k×d sum
    table is a bounded driver collect (k=8 × d=64), exactly what any
    iterative ML driver loop holds. At 100 TB you'd persist the
    gridded vectors once across rounds; the per-round cost is a scan,
    not a join."""
    e = _gridded_embeddings(spark, sf_dir)
    best = _km_best_struct(_lloyd_centroids(e, cache_key=sf_dir))
    return e.select(
        "vec_id",
        best["cluster"].cast("int").alias("cluster"),
        best["d2"].cast("long").alias("dist2"),
    )


def collect_standing_queries(e: DataFrame, bound: int) -> list:
    """The bounded standing-query collect every ANN serving face makes
    — ``vec_id < bound`` rows, ordered by vec_id. Collected UNSORTED
    and sorted driver-side (r14): the previous in-plan
    ``orderBy("vec_id")`` of ≤ 8 filtered rows planned a full
    shuffle-sort that AQE executed as 3 scheduled jobs per invocation;
    a bare filtered collect is one job and the Python sort of a
    handful of rows is free. Same rows, same order."""
    return sorted(
        e.filter(F.col("vec_id") < bound).collect(),
        key=lambda r: r["vec_id"],
    )


def _gridded_embeddings(spark, sf_dir: str) -> DataFrame:
    """(vec_id, label, v): coordinates on the exact integer grid."""
    from spark_streaming_with_debezium_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _KM_GRID).cast("long"),
        ).alias("v"),
    )


def _km_dist2_sql(v: str, cv: list[int]) -> str:
    """Exact integer squared distance between column ``v`` and the
    literal centroid ``cv`` as ONE SQL string. Building the same tree
    with per-element ``F.lit`` calls costs ~1 ms of py4j round-trip per
    Column (the r8 literal-expression trap) — k×d literals made every
    ASSEMBLY of the assignment expression a multi-second driver stall,
    independent of data size. A single ``F.expr`` parse is JVM-side and
    lowers to the identical Catalyst plan (literal array, zero
    shuffle)."""
    arr = ",".join(str(int(c)) for c in cv)
    return (
        f"aggregate(zip_with({v}, array({arr}), (x, c) -> (x - c) * (x - c)), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _km_dist2(v: str, cv: list[int]):
    """Column form of :func:`_km_dist2_sql` (``v`` is a column NAME —
    string-built so the literal array never crosses py4j per element)."""
    return F.expr(_km_dist2_sql(v, cv))


def _km_best_struct(cents: list[list[int]], v="v"):
    # struct comparison is lexicographic (d2 first, cluster second)
    # ⇒ array_min IS the deterministic argmin with the same
    # smallest-cluster tie-break as the oracle's window ORDER BY.
    # One JVM-side parse: see _km_dist2_sql for why not F.lit trees.
    structs = ",".join(
        f"named_struct('d2', {_km_dist2_sql(v, cv)}, 'cluster', {j})"
        for j, cv in enumerate(cents)
    )
    return F.expr(f"array_min(array({structs}))")


#: Final centroids per (sf_dir, data fingerprint). Safe to memoize
#: across queries and bench runs BECAUSE the fixpoint is
#: bit-deterministic in the input data alone (exact integer
#: arithmetic, pinned seeds/tie-breaks); the DuckDB oracle re-derives
#: the centroids from scratch on every compare. The cache key embeds a
#: size/mtime fingerprint of the embeddings parquet (ADVICE r7), so a
#: dataset regenerated at the same path within one process retrains
#: instead of serving stale centroids as a confusing hash mismatch.
_LLOYD_CACHE: dict[str, list[list[int]]] = {}


def dataset_fingerprint(cache_key: str) -> str:
    """``cache_key`` is ``sf_dir`` or ``sf_dir|tag`` by caller
    convention; append the (size, mtime_ns) stats of the embeddings
    parquet under that sf_dir so the key invalidates with the data."""
    import glob

    sf_dir = cache_key.split("|")[0]
    path = os.path.join(sf_dir, "embeddings.parquet")
    files = (
        sorted(glob.glob(os.path.join(path, "*.parquet"))) or [path]
        if os.path.isdir(path)
        else [path]
    )
    parts = []
    for f in files:
        try:
            st = os.stat(f)
            parts.append(f"{os.path.basename(f)}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            parts.append(f"{os.path.basename(f)}:missing")
    return f"{cache_key}#{'|'.join(parts)}"


#: FAISS-convention training-sample cap: the coarse quantizer trains
#: on at most this many points PER CENTROID (a deterministic
#: md5-ordered subsample), so the Lloyd assignment cost is
#: O(k · min(n, cap·k)) = O(k²·cap) instead of O(k·n) — the guard
#: that keeps k ∝ n quantizer sizing from turning the TRAIN leg
#: quadratic at corpus scale. Inactive below cap·k points (every
#: sf≤0.1 face trains on the full corpus, so oracles are unaffected).
_TRAIN_POINTS_PER_CENTROID = 256


def _lloyd_centroids(
    e: DataFrame,
    cache_key: str | None = None,
    k: int = _KM_K,
    train_cap: int | None = None,
) -> list[list[int]]:
    """Run the ``_KM_ITERS``-round Lloyd loop and return the final
    centroid coordinate lists (exact integers). ``k`` defaults to the
    oracle-pinned ``_KM_K``; the scale harness passes k ∝ corpus size
    to hold CELL OCCUPANCY constant (the production quantizer-sizing
    invariant ``llm/ivf_index.py`` monitors). ``train_cap`` (rows)
    bounds the TRAINING subsample — deterministic md5-order prefix, the
    same uniform-hash ordering the seeds use — so train cost stops
    growing with n once n exceeds the cap (pass
    ``_TRAIN_POINTS_PER_CENTROID * k`` for the FAISS convention). The
    final ASSIGNMENT consumers always see every row; only the centroid
    fit subsamples. Oracled faces pass no cap (bit-exact full-corpus
    fixpoint, matching the SQL oracle chain)."""
    if cache_key is not None:
        cap_tag = f"|cap{train_cap}" if train_cap else ""
        cache_key = dataset_fingerprint(f"{cache_key}|k{k}{cap_tag}")
    if cache_key is not None and cache_key in _LLOYD_CACHE:
        return _LLOYD_CACHE[cache_key]
    if train_cap is not None:
        # deterministic uniform subsample: md5-order prefix (the seed
        # ordering, extended) — bounded TakeOrderedAndProject, and the
        # first k sample rows ARE the seeds, so seeding is unchanged
        e = (
            e.select(
                "vec_id", "v", F.md5(F.col("vec_id").cast("string")).alias("h")
            )
            .orderBy("h", "vec_id")
            .limit(max(train_cap, k))
            .drop("h")
        )
    # Seeds: global top-k by (md5, vec_id) — TakeOrderedAndProject, an
    # O(n) scan returning k rows (the bounded collect every iterative
    # ML driver makes; pyspark.ml's KMeans init does the same shape).
    seed_rows = (
        e.select("vec_id", "v", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(k)
        .collect()
    )
    cents: list[list[int]] = [list(r["v"]) for r in seed_rows]
    dims = len(cents[0]) if cents else 0
    for _ in range(_KM_ITERS):
        best = _km_best_struct(cents)
        # Per-dimension sums as d aggregate COLUMNS, never an explode:
        # the earlier posexplode shape let ProjectCollapse inline the
        # k-struct assignment expression into the post-Generate
        # projection, re-evaluating the k×d distance arithmetic once
        # PER EXPLODED DIMENSION — 64× the assignment work per row,
        # measured 50.8 s vs 2.75 s for the identical pass at k=40.
        # A plain groupBy evaluates the assignment once per row and
        # ships k×(d+1) partial-aggregated cells to the driver.
        sums = (
            e.select(best["cluster"].alias("cluster"), "v")
            .groupBy("cluster")
            .agg(
                *[F.sum(F.col("v")[p]).alias(f"s{p}") for p in range(dims)],
                F.count(F.lit(1)).alias("n"),
            )
            .collect()  # bounded: k rows × (d + 1) columns
        )
        by_cluster = {r["cluster"]: r for r in sums}
        cents = [
            # Python // floors like the oracle's exact (s - pmod) // n;
            # empty clusters keep their previous centroid (both engines)
            [r[f"s{p}"] // r["n"] for p in range(len(old))]
            if (r := by_cluster.get(j)) is not None
            else old
            for j, old in enumerate(cents)
        ]
    if cache_key is not None:
        _LLOYD_CACHE[cache_key] = cents
    return cents


#: prefix width for the hard-negative lower-bound prune: the first 8
#: of 64 coordinates cost 1/8 of a full distance and (measured at all
#: 3 SFs) keep only a few survivors per anchor past the bound filter.
_HN_PREFIX_DIMS = 8


def _hard_negatives_oracle() -> str:
    d2 = _KM_D2.format(a="a.v", b="b.v")
    return f"""
    WITH {_km_cte_chain()},
    lab AS (
      SELECT f.vec_id, f.cluster, x.v, e.label
      FROM afinal f JOIN xi x USING (vec_id)
      JOIN embeddings e USING (vec_id)
    ),
    pairs AS (
      SELECT a.vec_id, a.label, b.vec_id AS neg_id, b.label AS neg_label,
             {d2} AS d2,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {d2}, b.vec_id) AS rn
      FROM lab a JOIN lab b
        ON a.cluster = b.cluster AND a.label <> b.label
    )
    SELECT vec_id, label, neg_id, neg_label, CAST(d2 AS BIGINT) AS neg_dist2
    FROM pairs WHERE rn = 1
    """


@query("embedding_hard_negatives", oracle=_hard_negatives_oracle())
def embedding_hard_negatives(spark, sf_dir: str, k: int = _KM_K) -> DataFrame:
    """Hard-negative mining for contrastive training: for every anchor
    vector, the CLOSEST vector carrying a different label — restricted
    to the anchor's k-means cell, which is exactly how production
    miners run (candidates from the ANN coarse quantizer, not an n²
    sweep). Composes on :func:`embedding_kmeans_lloyd`'s deterministic
    cells, so the whole two-stage pipeline (cluster → in-cell argmin)
    is value-hash-checked end-to-end in exact integer arithmetic —
    double-blocked determinism: no float enters either stage.

    Scale shape (VERDICT r9 item 2 rewrite): assignment is a stateless
    pass against broadcast literal centroids; the candidate join
    shuffles both sides ONCE on cluster id (co-partitioned self-join,
    O(Σ cell²) pairs — bounded by the quantizer's cell balance, the
    same invariant the IVF index monitors). The in-cell argmin is a
    two-pass prefix-pruned aggregate, never a window sort:

    - pass A scores every pair on the FIRST ``_HN_PREFIX_DIMS`` of the
      64 coordinates only (a monotone lower bound of the full d2:
      every term is ≥ 0) and takes the per-anchor ``min(struct)`` —
      a map-side-combinable hash aggregate, so only one row per anchor
      per partition reaches the shuffle;
    - the full d2 of that ONE candidate per anchor gives an upper
      bound U on the true minimum (O(n) full-distance evaluations);
    - pass B re-streams the pairs, drops every pair whose prefix
      distance exceeds its anchor's U (prefix_d2 > U ⇒ d2 ≥ prefix_d2
      > U ≥ d_min, so no pruned pair can win — and every true-min tie
      has prefix_d2 ≤ d2 = d_min ≤ U, so the (d2, neg_id) tie-break
      set survives intact), and pays the full 64-element distance only
      for survivors before the final ``min(struct(d2, neg_id, …))``.

    Both argmins are partial-aggregatable (no row_number sort of the
    pair set); the full-width work drops from O(pairs) to
    O(pairs · prefix/d + survivors + n).
    Anchors whose cell holds no different-label vector drop out (their
    mining radius needs a wider probe, the IVF n_probe>1 case).

    ``k`` (cell count) defaults to the oracle-pinned ``_KM_K``; the
    scale harness passes k ∝ corpus size so occupancy — and therefore
    per-cell pair work — stays constant, the production sizing rule
    (VERDICT r10 item 3: under replicate-as-is semantics at FIXED k,
    every replica of a vector lands in the same cell and pair work
    grows N², which is a harness artifact, not a plan property)."""
    e = _gridded_embeddings(spark, sf_dir)
    best = _km_best_struct(_lloyd_centroids(e, cache_key=sf_dir, k=k))
    # bounded cache: n × (64 + prefix) longs, reused by both passes.
    # The repartition spreads the O(Σ cell²) pair work across every
    # core regardless of the input file layout — a single-file corpus
    # otherwise leaves the whole pair scan on ONE task (measured 5.5 s
    # single-threaded at sf0.1); the shuffle moves only the corpus
    # (the small side of this pipeline), never the pair set.
    assigned = (
        e.select(
            "vec_id",
            "label",
            "v",
            F.slice("v", 1, _HN_PREFIX_DIMS).alias("p"),
            best["cluster"].alias("cluster"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .persist()
    )

    def d2(x: str, y: str):
        return F.aggregate(
            F.zip_with(x, y, lambda u, w: (u - w) * (u - w)),
            F.lit(0).cast("long"),
            lambda acc, z: acc + z,
        )

    a = assigned.select("vec_id", "label", F.col("p").alias("ap"), "cluster")
    b = assigned.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("p").alias("bp"),
        F.col("v").alias("bv"),
        "cluster",
    )
    # pass A: prefix-distance argmin per anchor (candidate id only)
    cand = (
        a.join(b.drop("bv"), "cluster")
        .filter(F.col("label") != F.col("neg_label"))
        .groupBy("vec_id")
        .agg(
            F.min(F.struct(d2("ap", "bp").alias("pd2"), F.col("neg_id"))).alias("m")
        )
        .select("vec_id", F.col("m.neg_id").alias("neg_id"))
    )
    # the candidate's FULL distance upper-bounds the true minimum
    ub = (
        cand.join(assigned.select("vec_id", F.col("v").alias("av")), "vec_id")
        .join(
            assigned.select(F.col("vec_id").alias("neg_id"), F.col("v").alias("ubv")),
            "neg_id",
        )
        .select("vec_id", d2("av", "ubv").alias("ub"))
    )
    # pass B: prune by the monotone prefix bound, exact argmin on the
    # survivors (full-width distance paid only past the filter)
    a2 = a.join(ub, "vec_id").join(
        assigned.select("vec_id", F.col("v").alias("av")), "vec_id"
    )
    survivors = (
        a2.join(b, "cluster")
        .filter(F.col("label") != F.col("neg_label"))
        .filter(d2("ap", "bp") <= F.col("ub"))
    )
    return (
        survivors.select(
            "vec_id",
            "label",
            F.struct(
                d2("av", "bv").alias("neg_dist2"),
                F.col("neg_id"),
                F.col("neg_label"),
            ).alias("s"),
        )
        .groupBy("vec_id", "label")
        .agg(F.min("s").alias("m"))
        .select(
            "vec_id",
            "label",
            F.col("m.neg_id").alias("neg_id"),
            F.col("m.neg_label").alias("neg_label"),
            F.col("m.neg_dist2").alias("neg_dist2"),
        )
    )


@query("split_leakage_safe_groups", oracle=_group_split_oracle())
def split_leakage_safe_groups(spark, sf_dir: str) -> DataFrame:
    """Dedup-aware train/holdout split: every near-dup CLUSTER travels
    as one unit (split decided by the md5 prefix of the cluster
    representative's id; singletons represent themselves), so no
    verified near-duplicate pair can straddle the split — the leakage
    a naive per-document content-hash split permits when two documents
    are near-but-not-exact copies. The output carries the receipts:
    ``leak_pairs_grouped`` (straddling pairs under the group split —
    COMPUTED, structurally 0) next to ``leak_pairs_naive`` (the same
    count under the naive split).

    Scale shape: components via :func:`pair_components` (``cc_fixed``:
    O(diameter) broadcast-label rounds, no driver graph state); the
    corpus then LEFT-joins the component table once on doc_id
    (components cover only docs that appear in pairs — far smaller than
    the corpus) and everything downstream is two bounded aggregates
    plus a 1-row leakage broadcast."""
    from pyspark.sql import SparkSession  # noqa: F401 (signature parity)

    from spark_streaming_with_debezium_spark.llm.dedup import dedup_minhash_lsh
    from spark_streaming_with_debezium_spark.sources.tables import load_table

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    comps = pair_components(pairs)
    d = load_table(spark, sf_dir, "documents")
    grp = F.coalesce(F.col("comp"), F.col("doc_id"))
    gsplit = F.when(
        F.substring(F.md5(grp.cast("string")), 1, 2) < "14", "holdout"
    ).otherwise("train")
    nsplit = F.when(
        F.substring(F.md5("text"), 1, 2) < "14", "holdout"
    ).otherwise("train")
    rep = d.join(comps, d.doc_id == comps.node, "left").select(
        "doc_id",
        grp.alias("grp"),
        gsplit.alias("gsplit"),
        nsplit.alias("nsplit"),
    )
    ra = rep.select(
        F.col("doc_id").alias("doc_a"),
        F.col("gsplit").alias("ga"),
        F.col("nsplit").alias("na"),
    )
    rb = rep.select(
        F.col("doc_id").alias("doc_b"),
        F.col("gsplit").alias("gb"),
        F.col("nsplit").alias("nb"),
    )
    leak = F.broadcast(
        pairs.join(ra, "doc_a")
        .join(rb, "doc_b")
        .agg(
            F.sum(F.when(F.col("ga") != F.col("gb"), 1).otherwise(0))
            .cast("long")
            .alias("leak_pairs_grouped"),
            F.sum(F.when(F.col("na") != F.col("nb"), 1).otherwise(0))
            .cast("long")
            .alias("leak_pairs_naive"),
        )
    )
    per = rep.groupBy(F.col("gsplit").alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    pg = (
        rep.groupBy("grp", "gsplit")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .groupBy(F.col("gsplit").alias("split"))
        .agg(F.count(F.lit(1)).alias("n_dup_groups"))
    )
    return (
        per.join(pg, "split", "left")
        .select(
            "split",
            "n_docs",
            F.coalesce(F.col("n_dup_groups"), F.lit(0))
            .cast("long")
            .alias("n_dup_groups"),
        )
        .crossJoin(leak)
    )


def _drift_oracle() -> str:
    return f"""
    WITH xi AS (
      SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_GRID}) AS BIGINT)) AS v
      FROM embeddings
    ),
    xref AS (SELECT vec_id, v FROM xi WHERE vec_id % 2 = 0),
    {_km_cte_chain(src="xref", include_src=False)},
    {_km_assign_cte(f"cent{_KM_ITERS}", "afull", src="xi")}
    SELECT CAST(a.cluster AS INT) AS cluster,
           CAST(SUM(CASE WHEN x.vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ref,
           CAST(SUM(CASE WHEN x.vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cur,
           round(CASE WHEN SUM(CASE WHEN x.vec_id % 2 = 0 THEN 1 ELSE 0 END) > 0
                 THEN (CAST(SUM(CASE WHEN x.vec_id % 2 = 0 THEN a.d2 END)
                            AS DOUBLE)
                       / SUM(CASE WHEN x.vec_id % 2 = 0 THEN 1 ELSE 0 END))
                      / 1000000000000.0
                 END, 6) AS mean_d2_ref,
           round(CASE WHEN SUM(CASE WHEN x.vec_id % 2 = 1 THEN 1 ELSE 0 END) > 0
                 THEN (CAST(SUM(CASE WHEN x.vec_id % 2 = 1 THEN a.d2 END)
                            AS DOUBLE)
                       / SUM(CASE WHEN x.vec_id % 2 = 1 THEN 1 ELSE 0 END))
                      / 1000000000000.0
                 END, 6) AS mean_d2_cur,
           round(CAST(SUM(CASE WHEN x.vec_id % 2 = 1 THEN 1 ELSE 0 END) + 1
                      AS DOUBLE)
                 / (SUM(CASE WHEN x.vec_id % 2 = 0 THEN 1 ELSE 0 END) + 1), 6)
             AS occupancy_lift
    FROM afull a JOIN xi x ON a.vec_id = x.vec_id
    GROUP BY a.cluster
    """


@query("embedding_drift_cells", oracle=_drift_oracle())
def embedding_drift_cells(spark, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor — the vector-side companion of
    `events_drift_psi`: train the deterministic Lloyd quantizer on the
    REFERENCE half of the corpus only (even vec_ids — in production,
    last month's snapshot), assign BOTH halves to those frozen cells,
    and report per cell (a) occupancy shift — the Laplace-smoothed
    (n_cur+1)/(n_ref+1) lift whose divergence from 1 is exactly what a
    cell-PSI would integrate — and (b) quantization-error growth
    (mean dist² per half): rising error with stable occupancy means
    the distribution moved WITHIN cells, the drift mode occupancy
    histograms miss. This is the standing check a retrieval/dedup
    stack runs before trusting last epoch's IVF centroids
    (`llm/ivf_index.py:cell_balance` is the re-train trigger it feeds).

    Determinism: the training fixpoint, assignments and dist² are the
    exact-integer Lloyd machinery (`embedding_kmeans_lloyd`); each
    output statistic is ONE division of exact integers (empty-side
    guards return NULL identically in both engines). Scale: training
    scans only the reference half (centroids broadcast literals);
    scoring is one stateless pass over the corpus + a k-row rollup —
    nothing data-sized shuffles.

    Oracle: the km CTE chain re-targeted at the reference half
    (``src="xref"``) plus a full-corpus final assign — an independent
    DuckDB formulation of both stages."""
    e = _gridded_embeddings(spark, sf_dir).select("vec_id", "v")
    ref = e.filter(F.col("vec_id") % 2 == 0)
    cents = _lloyd_centroids(ref, cache_key=f"{sf_dir}|drift-ref")
    best = _km_best_struct(cents)
    is_ref = (F.col("vec_id") % 2 == 0).cast("int")
    assigned = e.select(
        best["cluster"].cast("int").alias("cluster"),
        best["d2"].alias("d2"),
        is_ref.alias("is_ref"),
    )
    n_ref = F.sum("is_ref")
    n_cur = F.sum(F.lit(1) - F.col("is_ref"))
    sd_ref = F.sum(F.when(F.col("is_ref") == 1, F.col("d2")))
    sd_cur = F.sum(F.when(F.col("is_ref") == 0, F.col("d2")))
    return assigned.groupBy("cluster").agg(
        n_ref.cast("long").alias("n_ref"),
        n_cur.cast("long").alias("n_cur"),
        # rescale grid-units dist² back to original embedding units
        # (÷ GRID²) BEFORE rounding: at ~1e12 grid units, 6-decimal
        # rounding exceeds double precision and the two engines'
        # round() implementations diverge by 1 ulp; at O(1) it's safe.
        # Division order pinned: (double(sum)/n)/1e12 in both engines.
        F.round(
            F.when(
                n_ref > 0, (sd_ref.cast("double") / n_ref) / F.lit(1.0e12)
            ),
            6,
        ).alias("mean_d2_ref"),
        F.round(
            F.when(
                n_cur > 0, (sd_cur.cast("double") / n_cur) / F.lit(1.0e12)
            ),
            6,
        ).alias("mean_d2_cur"),
        F.round((n_cur + 1).cast("double") / (n_ref + 1), 6).alias(
            "occupancy_lift"
        ),
    )


_NPROBE_GRID = (1, 2, 4, 8)
_RECALL_QUERIES = 8
_RECALL_K = 5


def _nprobe_curve_oracle() -> str:
    d2xq = _KM_D2.format(a="x.v", b="q.qv")
    d2qc = _KM_D2.format(a="q.qv", b="c.cv")
    vals = ", ".join(f"({p})" for p in _NPROBE_GRID)
    return f"""
    WITH {_km_cte_chain()},
    q AS (SELECT vec_id AS query_id, v AS qv FROM xi
          WHERE vec_id < {_RECALL_QUERIES}),
    dist AS (
      SELECT q.query_id, x.vec_id, {d2xq} AS d2, a.cluster AS cell
      FROM xi x JOIN afinal a ON x.vec_id = a.vec_id CROSS JOIN q
      WHERE x.vec_id <> q.query_id
    ),
    truth AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d2, vec_id) AS rn
        FROM dist
      ) WHERE rn <= {_RECALL_K}
    ),
    porder AS (
      SELECT q.query_id, c.cluster AS cell,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY {d2qc}, c.cluster) AS prank
      FROM q CROSS JOIN cent{_KM_ITERS} c
    ),
    probes AS (SELECT * FROM (VALUES {vals}) t(nprobe)),
    approx AS (
      SELECT nprobe, query_id, vec_id FROM (
        SELECT p.nprobe, d.query_id, d.vec_id,
               row_number() OVER (PARTITION BY p.nprobe, d.query_id
                                  ORDER BY d.d2, d.vec_id) AS rn
        FROM dist d
        JOIN porder o ON d.query_id = o.query_id AND d.cell = o.cell
        JOIN probes p ON o.prank <= p.nprobe
      ) WHERE rn <= {_RECALL_K}
    ),
    hits AS (
      SELECT b.nprobe, b.query_id, COUNT(t.vec_id) AS n_hit
      FROM (SELECT p.nprobe, q.query_id FROM probes p, q) b
      LEFT JOIN approx a
        ON a.nprobe = b.nprobe AND a.query_id = b.query_id
      LEFT JOIN truth t
        ON t.query_id = a.query_id AND t.vec_id = a.vec_id
      GROUP BY 1, 2
    )
    SELECT CAST(nprobe AS INT) AS nprobe,
           CAST(SUM(n_hit) AS BIGINT) AS n_hits,
           round(CAST(SUM(n_hit) AS DOUBLE)
                 / (COUNT(*) * {_RECALL_K}), 6) AS avg_recall,
           round(CAST(MIN(n_hit) AS DOUBLE) / {_RECALL_K}, 6) AS min_recall
    FROM hits GROUP BY 1
    """


@query("ann_nprobe_recall_curve", oracle=_nprobe_curve_oracle())
def ann_nprobe_recall_curve(spark, sf_dir: str) -> DataFrame:
    """The IVF tuning curve — recall@5 as a function of nprobe over the
    deterministic Lloyd cells, the MEASURED basis for choosing the
    probe count ("measure, don't guess": `ivf_index.cell_balance` says
    when to retrain; this says what nprobe buys). For each standing
    query and nprobe ∈ {1,2,4,8}: the cell-pruned exact top-5 against
    the global exact top-5, aggregated to per-nprobe average and
    worst-query recall. Everything is exact integer arithmetic on the
    1e-6 grid with pinned (d2, vec_id) / (d2, cluster) tie-breaks, so
    the whole evaluation — including the recall numbers themselves —
    is value-hash-oracled cross-engine (the pyspark.ml-based
    `ann_recall_report` face stays rows-only; this one closes that
    gap on the native quantizer).

    Shape: ONE stateless corpus pass computes cell + per-query exact
    distances against broadcast literals (no join, q×n exploded rows);
    truth and approx top-5s are per-(query[, nprobe]) windows; the
    probe-rank lookup is a per-query 8-int literal array. The corpus
    never shuffles; window inputs are the q·n score rows (q bounded —
    the serving-eval shape). The scored (vec_id, cell, query_id, d2)
    frame is PERSISTED: it feeds both the truth window and the probed
    explode, and without the cache each consumer re-ran the q×64-dim
    distance scan + k-cell assignment over the whole corpus (VERDICT
    r10 item 6 — score once, derive every nprobe level by filtering
    on the precomputed cell rank). The cached frame is q·n small ints
    — strictly smaller than the corpus it replaces rescanning."""
    e = _gridded_embeddings(spark, sf_dir).select("vec_id", "v")
    cents = _lloyd_centroids(e, cache_key=sf_dir)
    cell = _km_best_struct(cents)["cluster"]
    q_rows = collect_standing_queries(e, _RECALL_QUERIES)

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    # per-query probe rank of each cell (1-based), exact ints
    pranks = {}
    for r in q_rows:
        qid, qv = int(r["vec_id"]), list(r["v"])
        order = sorted(range(len(cents)), key=lambda j: (d2(qv, cents[j]), j))
        rank_by_cell = [0] * len(cents)
        for rk, c_ in enumerate(order, start=1):
            rank_by_cell[c_] = rk
        pranks[qid] = rank_by_cell

    dist = e.select(
        "vec_id",
        cell.alias("cell"),
        F.explode(
            F.array(
                *[
                    F.named_struct(
                        F.lit("query_id"),
                        F.lit(int(r["vec_id"])),
                        F.lit("d2"),
                        _km_dist2("v", list(r["v"])),
                    )
                    for r in q_rows
                ]
            )
        ).alias("z"),
    ).select(
        "vec_id", "cell", "z.query_id", F.col("z.d2").alias("d2")
    ).filter(F.col("vec_id") != F.col("query_id")).persist()

    from pyspark.sql import Window

    w_truth = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    truth = (
        dist.withColumn("rn", F.row_number().over(w_truth))
        .filter(F.col("rn") <= _RECALL_K)
        .select(
            F.col("query_id").alias("t_query"),
            F.col("vec_id").alias("t_vec"),
        )
    )

    prank = None
    for qid, ranks in sorted(pranks.items()):
        arr = F.element_at(
            F.array(*[F.lit(int(x)) for x in ranks]), F.col("cell") + 1
        )
        prank = (
            F.when(F.col("query_id") == qid, arr)
            if prank is None
            else prank.when(F.col("query_id") == qid, arr)
        )
    probed = dist.withColumn("prank", prank).select(
        "query_id",
        "vec_id",
        "d2",
        F.explode(
            F.filter(
                F.array(*[F.lit(p) for p in _NPROBE_GRID]),
                lambda p: F.col("prank") <= p,
            )
        ).alias("nprobe"),
    )
    w_approx = Window.partitionBy("nprobe", "query_id").orderBy("d2", "vec_id")
    approx = (
        probed.withColumn("rn", F.row_number().over(w_approx))
        .filter(F.col("rn") <= _RECALL_K)
        .select("nprobe", "query_id", "vec_id")
    )
    base = spark.createDataFrame(
        [(p, int(r["vec_id"])) for p in _NPROBE_GRID for r in q_rows],
        "nprobe int, query_id int",
    )
    hits = (
        base.join(approx, ["nprobe", "query_id"], "left")
        .join(
            F.broadcast(truth),
            (F.col("query_id") == F.col("t_query"))
            & (F.col("vec_id") == F.col("t_vec")),
            "left",
        )
        .groupBy("nprobe", "query_id")
        .agg(F.count("t_vec").alias("n_hit"))
    )
    curve = hits.groupBy("nprobe").agg(
        F.sum("n_hit").cast("long").alias("n_hits"),
        F.round(
            F.sum("n_hit").cast("double")
            / (F.count(F.lit(1)) * _RECALL_K),
            6,
        ).alias("avg_recall"),
        F.round(F.min("n_hit").cast("double") / _RECALL_K, 6).alias(
            "min_recall"
        ),
    )
    # Materialize the |_NPROBE_GRID|-row curve eagerly, then release
    # the q×n scored frame (ADVICE r11): the persist otherwise held
    # executor memory for the session, and Spark's plan-keyed cache
    # (no path fingerprint, unlike _LLOYD_CACHE) could serve stale
    # scores to a later call if the dataset were regenerated at the
    # same path in-process. After the checkpoint the returned frame no
    # longer references `dist`, so the unpersist costs nothing.
    curve = curve.localCheckpoint(eager=True)
    dist.unpersist()
    return curve


#: ε-ball radius² on the 1e-6 integer grid: ≈ the 1st percentile of
#: the query-corpus distance distribution at every SF (49/60/202
#: matches at sf0.001/0.01/0.1, all 8 standing queries represented) —
#: tight enough that cell pruning bites, loose enough that the result
#: is never empty.
_RANGE_R2 = 1_450_000_000_000


#: Above this many standing queries the per-query literal machinery
#: (q-branch CASE for the exact distance + per-query allowed-cell
#: literal arrays) stops being the right plan: both are O(q)
#: DRIVER-BUILT expression trees, fine at q=8, a multi-second py4j /
#: Catalyst-analysis stall well before q=10⁴. Past the threshold
#: `ann_range_search` switches to the join formulation: the (query_id,
#: qv, cell) fan-out becomes a broadcast TABLE equi-joined on the cell
#: id, and the exact distance is one zip_with/aggregate over the two
#: array COLUMNS — data-sized state instead of plan-sized state. 64 is
#: comfortably inside the measured-safe literal band (the nprobe face
#: builds 8 such CASEs today) while keeping the serving-latency win of
#: whole-stage-codegen'd literal arithmetic for small standing sets.
_RANGE_LITERAL_Q_MAX = 64


def _range_prune_table(spark, sf_dir: str, n_queries: int = _RECALL_QUERIES):
    """Driver-side exact cell pruning for :func:`ann_range_search`:
    returns ``(allowed, q_rows, assigned)`` where ``allowed`` maps each
    standing query id to the Lloyd cells whose ε-ball intersection
    cannot be ruled out by the integer triangle-inequality certificate
    (see the query docstring), ``q_rows`` are the collected query
    vectors, and ``assigned`` is the cell-assigned corpus frame. Two
    bounded collects (k cell radii + q query vectors); exposed
    separately so the plan-census test can assert the prune BITES
    without duplicating the certificate arithmetic."""
    import math

    e = _gridded_embeddings(spark, sf_dir).select("vec_id", "v")
    cents = _lloyd_centroids(e, cache_key=sf_dir)
    best = _km_best_struct(cents)
    assigned = e.select(
        "vec_id",
        "v",
        best["cluster"].alias("cell"),
        best["d2"].alias("cd2"),
    )
    # bounded collect #1: per-cell covering radius² (k rows)
    rad2 = {
        int(r["cell"]): int(r["rad2"])
        for r in assigned.groupBy("cell")
        .agg(F.max("cd2").alias("rad2"))
        .collect()
    }
    # bounded collect #2: the standing query vectors (q rows)
    q_rows = collect_standing_queries(e, n_queries)

    def d2_py(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    allowed: dict[int, list[int]] = {}
    for r in q_rows:
        qid, qv = int(r["vec_id"]), list(r["v"])
        cells = []
        for j in range(len(cents)):
            a = d2_py(qv, cents[j])
            b = rad2.get(j)
            if b is None:
                continue  # empty cell holds nothing to scan
            # prune iff a > b + R² + 2·(isqrt(b·R²)+1)  (conservative)
            if a > b + _RANGE_R2 + 2 * (math.isqrt(b * _RANGE_R2) + 1):
                continue
            cells.append(j)
        allowed[qid] = cells
    return allowed, q_rows, assigned


def _range_search_oracle() -> str:
    d2 = _KM_D2.format(a="x.v", b="q.qv")
    return f"""
    WITH xi AS (
      SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_GRID}) AS BIGINT)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM xi
          WHERE vec_id < {_RECALL_QUERIES})
    SELECT q.query_id, x.vec_id, CAST({d2} AS BIGINT) AS d2
    FROM xi x CROSS JOIN q
    WHERE x.vec_id <> q.query_id AND {d2} <= {_RANGE_R2}
    """


@query("ann_range_search", oracle=_range_search_oracle())
def ann_range_search(spark, sf_dir: str) -> DataFrame:
    """ε-ball (radius) retrieval — the serving shape next to top-k:
    every corpus vector within squared grid distance ``_RANGE_R2`` of
    each standing query, EXACTLY, but scanning only the Lloyd cells
    that can possibly intersect the ball. The pruning certificate is
    the triangle inequality evaluated in EXACT INTEGER arithmetic on
    the driver: cell c with covering radius² b is skipped for a query
    at centroid distance² a iff sqrt(a) > sqrt(b) + sqrt(R²), proven
    without floats via a > b + R² + 2·(isqrt(b·R²) + 1) (the +1 makes
    the bound strictly conservative, so no true match is ever pruned;
    survivors are re-checked with the exact d2 ≤ R² filter anyway —
    pruning affects COST, never the answer). The oracle is the O(q·n)
    brute force, deliberately independent of the cell machinery.

    Shape: one bounded k-row collect for per-cell covering radii (the
    same groupBy that monitors cell balance), one q×k driver loop for
    the prune table, then ONE corpus pass: assign cell against
    broadcast literal centroids, explode only the (query) ids whose
    allowed-cell set contains the row's cell (a constant literal
    array per query — the explode is FILTERED before any full
    distance is computed), and pay the 64-dim exact distance only for
    surviving (row, query) pairs via a query_id-keyed CASE. At 100 TB
    the per-cell scan fraction is exactly the IVF nprobe story with a
    provable-exactness guarantee instead of a recall target.

    Large standing sets (q > ``_RANGE_LITERAL_Q_MAX``) switch to the
    join formulation in :func:`_range_search_join_path` — same prune
    certificate, same output, data-sized instead of plan-sized query
    state (see the constant's comment)."""
    return _range_search_impl(spark, sf_dir, _RECALL_QUERIES)


def _range_search_impl(spark, sf_dir: str, n_queries: int) -> DataFrame:
    allowed, q_rows, assigned = _range_prune_table(spark, sf_dir, n_queries)
    if n_queries > _RANGE_LITERAL_Q_MAX:
        return _range_search_join_path(spark, allowed, q_rows, assigned)
    # constant (query, allowed-cells) literal array — filtered against
    # the row's cell BEFORE any 64-dim distance is evaluated
    qarr = F.array(
        *[
            F.struct(
                F.lit(qid).cast("long").alias("qid"),
                F.array(*[F.lit(c) for c in cs]).alias("ok"),
            )
            for qid, cs in sorted(allowed.items())
        ]
    )
    surviving = assigned.select(
        "vec_id",
        "v",
        F.explode(
            F.transform(
                F.filter(qarr, lambda s: F.array_contains(s["ok"], F.col("cell"))),
                lambda s: s["qid"],
            )
        ).alias("query_id"),
    ).filter(F.col("vec_id") != F.col("query_id"))
    d2_case = None
    for r in q_rows:
        qid, qv = int(r["vec_id"]), list(r["v"])
        expr = _km_dist2("v", qv)
        d2_case = (
            F.when(F.col("query_id") == qid, expr)
            if d2_case is None
            else d2_case.when(F.col("query_id") == qid, expr)
        )
    return (
        surviving.select(
            "query_id", "vec_id", d2_case.cast("long").alias("d2")
        )
        .filter(F.col("d2") <= _RANGE_R2)
    )


def _range_search_join_path(spark, allowed, q_rows, assigned) -> DataFrame:
    """Large-q serving path for :func:`ann_range_search`: the same
    prune certificate, delivered as DATA instead of expression trees.
    The (query_id, qv, allowed cell) fan-out — one row per surviving
    (query, cell) pair, exactly what the literal path encodes in its
    per-query arrays — ships to executors as a broadcast TABLE (Arrow
    createDataFrame, which scales to 10⁵+ rows where a q-branch CASE
    stalls Catalyst analysis), equi-joined on the int cell id; the
    exact distance is one zip_with/aggregate over the two array
    columns. Joined row count = the certificate's surviving pairs —
    identical work set to the literal path, so the exactness argument
    carries over verbatim. HOF arithmetic is interpreted (slower per
    pair than the codegen'd literal CASE — the measured trade in
    perf/AB_VERDICTS.md), which is why small standing sets keep the
    literal plan; past ``_RANGE_LITERAL_Q_MAX`` the driver-side
    expression build dominates and the join path wins. At true
    production q the query set would arrive as a table already —
    this path needs only the prune loop (O(q·k) driver ints) changed
    to a distributed min over a broadcast centroid table."""
    qv_by_id = {int(r["vec_id"]): [int(x) for x in r["v"]] for r in q_rows}
    fan = [
        (qid, qv_by_id[qid], int(c))
        for qid, cs in sorted(allowed.items())
        for c in cs
    ]
    qtab = spark.createDataFrame(
        fan, "query_id long, qv array<bigint>, cell int"
    )
    d2 = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        assigned.join(F.broadcast(qtab), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", d2.cast("long").alias("d2"))
        .filter(F.col("d2") <= _RANGE_R2)
    )


def _filtered_topk_oracle() -> str:
    d2 = _KM_D2.format(a="x.v", b="q.qv")
    return f"""
    WITH xi AS (
      SELECT vec_id, label, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_GRID}) AS BIGINT)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM xi
          WHERE vec_id < {_RECALL_QUERIES}),
    ranked AS (
      SELECT q.query_id, x.vec_id, CAST({d2} AS BIGINT) AS d2,
             row_number() OVER (
               PARTITION BY q.query_id ORDER BY {d2}, x.vec_id
             ) AS rank
      FROM xi x JOIN q
        ON x.label = q.qlabel AND x.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, d2, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {_RECALL_K}
    """


@query("ann_filtered_topk", oracle=_filtered_topk_oracle())
def ann_filtered_topk(spark, sf_dir: str) -> DataFrame:
    """FILTERED nearest-neighbor serving — exact top-k restricted to a
    metadata predicate (here: candidates sharing the query's label,
    the "recommend within category" shape). Filtered ANN is its own
    serving problem: post-filtering a plain top-k under-fills when the
    predicate is selective, so production systems PRE-filter — the
    predicate must reach the scan, not run after the distance math.

    Shape: one corpus pass. The standing labels land in the plan as
    an `isin` on the label COLUMN — pushed to the parquet footer
    (census test asserts `PushedFilters: [In(label, …)]`), so at
    100 TB only row groups containing candidate labels are read at
    all. Per-row work after the scan: explode only the standing
    queries whose label equals the row's (a q-literal array filter —
    same bounded-q discipline as `ann_range_search`), then the
    qid-keyed exact integer distance CASE and a per-query top-k
    window over (d2, vec_id) — pinned tie-breaks, value-hash-oracled
    against the DuckDB brute force. Past ``_RANGE_LITERAL_Q_MAX`` the
    impl switches to :func:`_filtered_topk_join_path` — the same
    broadcast-table delivery as `ann_range_search`'s large-q branch,
    equi-joined on label with the isin pushdown kept (census test
    `test_filtered_topk_join_path_matches_literal_and_broadcasts`
    proves row-identical output on the standard standing set)."""
    return _filtered_topk_impl(spark, sf_dir)


def _filtered_topk_join_path(spark, e, q_rows) -> DataFrame:
    """Large-q serving path for :func:`ann_filtered_topk`: the standing
    (query_id, qlabel, qv) set ships as a broadcast TABLE (Arrow
    createDataFrame — data-sized query state, no q-branch CASE to
    stall Catalyst analysis past ~10² queries), equi-joined on the
    label column with the `isin` label pushdown KEPT on the corpus
    scan, so the parquet footer still prunes non-candidate row groups
    before the join. The exact integer distance is one
    zip_with/aggregate over the two array columns — interpreted HOF
    arithmetic, slower per pair than the codegen'd literal CASE, which
    is why small standing sets keep the literal plan (the same
    measured trade as `_range_search_join_path`,
    perf/AB_VERDICTS.md). Join row count equals the literal path's
    exploded candidate count exactly, so the oracle argument carries
    over verbatim."""
    labels = sorted({int(r["label"]) for r in q_rows})
    qtab = spark.createDataFrame(
        [
            (int(r["vec_id"]), int(r["label"]), [int(x) for x in r["v"]])
            for r in q_rows
        ],
        "query_id long, qlabel int, qv array<bigint>",
    )
    d2 = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        e.filter(F.col("label").isin(labels))
        .join(F.broadcast(qtab), F.col("label") == F.col("qlabel"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", d2.cast("long").alias("d2"))
    )


def _filtered_topk_impl(
    spark, sf_dir: str, force_join_path: bool = False
) -> DataFrame:
    from pyspark.sql import Window

    e = _gridded_embeddings(spark, sf_dir)
    q_rows = collect_standing_queries(e, _RECALL_QUERIES)
    if force_join_path or len(q_rows) > _RANGE_LITERAL_Q_MAX:
        scored = _filtered_topk_join_path(spark, e, q_rows)
    else:
        labels = sorted({int(r["label"]) for r in q_rows})
        qarr = F.array(
            *[
                F.struct(
                    F.lit(int(r["vec_id"])).cast("long").alias("qid"),
                    F.lit(int(r["label"])).alias("qlabel"),
                )
                for r in q_rows
            ]
        )
        cand = e.filter(F.col("label").isin(labels)).select(
            "vec_id",
            "label",
            "v",
            F.explode(
                F.transform(
                    F.filter(qarr, lambda s: s["qlabel"] == F.col("label")),
                    lambda s: s["qid"],
                )
            ).alias("query_id"),
        ).filter(F.col("vec_id") != F.col("query_id"))
        d2_case = None
        for r in q_rows:
            qid, qv = int(r["vec_id"]), list(r["v"])
            expr = _km_dist2("v", qv)
            d2_case = (
                F.when(F.col("query_id") == qid, expr)
                if d2_case is None
                else d2_case.when(F.col("query_id") == qid, expr)
            )
        scored = cand.select(
            "query_id", "vec_id", d2_case.cast("long").alias("d2")
        )
    w = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _RECALL_K)
    )
