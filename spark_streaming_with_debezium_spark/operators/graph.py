"""Iterative graph analytics on DataFrames: fixed-iteration PageRank.

The reference delegates all analytics to Spark SQL (`README.md:34-40`);
this module covers the iterative-algorithm pattern that plain SQL does
NOT express natively and that a large-scale pipeline needs for entity
importance / link analysis over CDC-maintained state: rank propagation
as a LOOP of (join ranks to edges) → (map-side-combined aggregate to
destinations) — the standard Pregel-on-MapReduce recipe, one shuffle
join + one shuffle agg per iteration, no driver-side graph state.

Unlike `llm/cluster.py`'s connected components (run-to-fixpoint ⇒
rows-only check), PageRank with a FIXED iteration count is exactly
expressible in SQL as chained CTEs, so this query carries a full
DuckDB value-hash oracle — the iterative pattern under the strictest
gate available.

Determinism discipline (functions/numeric.py): per-edge contribution
``rank/degree`` is one IEEE double division (bit-identical in both
engines by induction — iteration-0 ranks are the literal 1.0); each
per-destination SUM accumulates in DECIMAL(38,18) (order-independent,
so Spark's partial aggregation order cannot perturb the result), then
casts to double once. The damping update ``0.15 + 0.85·s`` is two more
deterministic double ops. By induction every iteration's rank vector
is bit-identical across engines; the output rounds at 1e-6 against
~1e-16 worst-case representation slack.

Scale design (100 TB): the edge list is the big fact and never moves
twice — it is shuffled once onto its join key and persisted; each
iteration ships only the O(V) rank vector to the edges (ranks are tiny
relative to edges — at 10^9 nodes the rank table is ~16 GB, a normal
shuffle, while edges can be 100 TB). With bucketed edge storage
(sources/bucketed.py) the per-iteration join is Exchange-free on the
edge side. Lineage grows linearly in iterations; beyond ~10 rounds a
production loop checkpoints the rank vector (localCheckpoint) the same
way `llm/cluster.py` bounds its fixpoint loop.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_with_debezium_spark.registry import query
from spark_streaming_with_debezium_spark.sources.tables import load_table


@contextmanager
def _aqe_pinned_off(spark: SparkSession, enabled: bool):
    """Pin AQE off (restored on exit) around an iterative loop whose
    every exchange is PROVABLY small — the scd2/BPE treatment with the
    r13-verdict size guard built in as ``enabled``.

    Callers pass the same smallness predicate that already gates their
    broadcast hints (node/label vector ≤ 5M rows): under it the loop's
    only exchanges are the O(V) aggregate output, the O(V) broadcast
    builds and the O(V) checkpoint scans — the big persisted edge side
    is broadcast-JOINED, never re-exchanged — so each adaptive stage
    materialization is a separate scheduled job of pure overhead
    (measured: 4-7 jobs per pagerank iteration → 2). Above the bound
    the pin never engages and AQE keeps its skew-split and
    broadcast-conversion rights, exactly like the triangle census,
    whose edge-sized exchanges made AQE-off a 7× loss (r13 A/B)."""
    if not enabled:
        yield
        return
    before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", before)

#: Fixed PageRank parameters — part of the query contract (the oracle
#: hard-codes the same values); 3 iterations keeps the DuckDB dual a
#: readable 3-level CTE while exercising the full loop machinery.
DAMPING = 0.85
N_ITER = 3
_DEC = "decimal(38,18)"


def pagerank_fixed(
    edges: DataFrame,
    n_iter: int = N_ITER,
    damping: float = DAMPING,
    all_nodes_have_out_edges: bool = False,
) -> DataFrame:
    """(node, rank) after ``n_iter`` synchronous PageRank iterations
    over a directed edge list ``(src, dst)``.

    Ranks start at 1.0 (the scale-invariant formulation: total mass N,
    update ``r' = (1-d) + d·Σ r(u)/deg(u)``), so no pre-pass over the
    node count is needed and iteration-0 is exactly representable.
    Nodes are defined as the union of edge endpoints; every node that
    appears only as a destination contributes nothing but still
    receives the (1-d) teleport mass.
    """
    cached = []
    try:
        e = edges.select(F.col("src"), F.col("dst")).persist()
        cached.append(e)
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        if all_nodes_have_out_edges:
            # Undirected graphs (every endpoint appears as a source):
            # the degree aggregate's keys ARE the node set — skip the
            # 2|E|-row union+distinct pass entirely.
            nodes = deg.select(F.col("src").alias("node"))
        else:
            nodes = (
                e.select(F.col("src").alias("node"))
                .union(e.select(F.col("dst").alias("node")))
                .distinct()
            )
        nodes = nodes.persist()
        cached.append(nodes)
        # One bounded count (also populates the node cache): when the
        # rank vector is provably small, broadcast it into the per-
        # iteration join so the (big, already-cached) edge side never
        # re-shuffles. AQE cannot make this call itself — each
        # iteration's ranks come from a localCheckpoint scan with no
        # size stats until executed. Above the threshold the join
        # falls back to the shuffle plan the 10⁹-node sizing in the
        # module docstring assumes (ranks ~16 GB ≫ any broadcast).
        broadcast_ranks = nodes.count() <= 5_000_000
        # Degree rides along with the edges so the loop joins ONE
        # table; the same smallness decision broadcasts deg (O(V),
        # same cardinality as the rank vector) so the big edge side
        # never shuffles during the build either.
        ed = e.join(F.broadcast(deg) if broadcast_ranks else deg, "src").persist()
        cached.append(ed)
        ranks = nodes.withColumn("rank", F.lit(1.0))
        # AQE pinned off for the loop actions when the rank vector is
        # provably small (the SAME bound that turned the broadcast
        # hints on): the join never exchanges the persisted edge side,
        # so the loop's exchanges are all O(V) and every adaptive
        # stage materialization was a scheduled job of pure overhead
        # (r14 anatomy: 7/4/4 jobs per iteration → 2; wall 5.4 → 3.9 s
        # at sf0.1). Above the bound AQE stays on (see _aqe_pinned_off).
        with _aqe_pinned_off(edges.sparkSession, broadcast_ranks):
            for _ in range(n_iter):
                rank_side = F.broadcast(ranks) if broadcast_ranks else ranks
                contribs = (
                    ed.join(rank_side, ed.src == rank_side.node)
                    .groupBy(F.col("dst").alias("node"))
                    .agg(
                        F.sum((F.col("rank") / F.col("deg")).cast(_DEC))
                        .cast("double")
                        .alias("inflow")
                    )
                )
                ranks = nodes.join(contribs, "node", "left").select(
                    "node",
                    (
                        F.lit(1.0 - damping)
                        + F.lit(damping)
                        * F.coalesce(F.col("inflow"), F.lit(0.0))
                    ).alias("rank"),
                )
                # EAGER localCheckpoint each iteration: materializes this
                # round's O(V) rank vector (populating the edge/node caches
                # on round 1) and CUTS the lineage, so iteration k never
                # re-executes rounds 1..k-1 and the returned DataFrame
                # reads stored rank partitions — not a 3-deep recompute
                # through caches this function is about to release. This is
                # the standard iterative-DataFrame discipline (same reason
                # llm/cluster.py materializes per round via its convergence
                # count); without it the noop-sink bench re-ran the whole
                # edge build once per iteration (40 s → ~2 s at sf0.1).
                ranks = ranks.localCheckpoint(eager=True)
        return ranks
    finally:
        # Safe to release immediately: every consumer reads the
        # checkpointed rank partitions, never the edge lineage.
        for df in cached:
            df.unpersist()


_PAGERANK_ITER_SQL = """
    r{i} AS (
      SELECT n.node,
             (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
               + CAST(0.85 AS DOUBLE) * COALESCE(c.inflow, CAST(0.0 AS DOUBLE))
               AS rank
      FROM nodes n LEFT JOIN (
        SELECT ed.dst AS node,
               CAST(SUM(CAST(r.rank / ed.deg AS DECIMAL(38,18))) AS DOUBLE)
                 AS inflow
        FROM ed JOIN r{prev} r ON ed.src = r.node
        GROUP BY ed.dst
      ) c ON n.node = c.node
    )"""


def _pagerank_oracle() -> str:
    iters = ",".join(
        _PAGERANK_ITER_SQL.format(i=i, prev=i - 1) for i in range(1, N_ITER + 1)
    )
    return f"""
    WITH edges AS (
      SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                      's' || CAST(l.l_suppkey AS VARCHAR) AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), e AS (
      SELECT src, dst FROM edges
      UNION ALL
      SELECT dst AS src, src AS dst FROM edges
    ), ed AS (
      SELECT e.src, e.dst, d.deg
      FROM e JOIN (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src
      ) d ON e.src = d.src
    ), nodes AS (
      SELECT src AS node FROM e UNION SELECT dst FROM e
    ), r0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes
    ),{iters}
    SELECT substr(node, 1, 1) AS node_type,
           CAST(substr(node, 2) AS BIGINT) AS node_key,
           round(rank, 6) AS pagerank
    FROM r{N_ITER}
    """


_TRIANGLE_ORACLE = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT pa AS node FROM edges UNION ALL SELECT pb FROM edges
  ) GROUP BY node
), oriented AS (
  SELECT CASE WHEN (da.deg, e.pa) < (db.deg, e.pb) THEN e.pa ELSE e.pb END
           AS src,
         CASE WHEN (da.deg, e.pa) < (db.deg, e.pb) THEN e.pb ELSE e.pa END
           AS dst
  FROM edges e
  JOIN deg da ON e.pa = da.node
  JOIN deg db ON e.pb = db.node
), tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM oriented o1
  JOIN oriented o2 ON o1.dst = o2.src
  WHERE EXISTS (SELECT 1 FROM oriented o3
                WHERE o3.src = o1.src AND o3.dst = o2.dst)
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges
  FROM deg
), ecount AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges
)
SELECT s.n_nodes, e.n_edges, t.n_triangles, s.n_wedges,
       round(CAST(3.0 AS DOUBLE) * t.n_triangles / s.n_wedges, 6)
         AS global_clustering
FROM stats s, ecount e, tri t
"""


def triangle_census(edges: DataFrame) -> DataFrame:
    """One-row exact triangle census of an undirected graph given as
    DISTINCT canonical edges ``(pa, pb)`` with ``pa < pb``: nodes,
    edges, triangles, wedges (Σ deg·(deg−1)/2), and the global
    clustering coefficient 3·T/W.

    Scale design — degree orientation + sorted-adjacency
    edge-iterator: every undirected edge is directed from its
    lower-(degree, id) endpoint to the higher, which (a) counts each
    triangle exactly once at its lowest-degree corner with no /6
    de-dup, and (b) bounds every out-neighborhood by O(√E) regardless
    of skew. Triangles are then counted per oriented edge (a,b) as
    |N⁺(a) ∩ N⁺(b)|: the O(√E)-bounded out-neighbor lists ship to the
    edges once (broadcast when the node table is small, hash join at
    scale) and the intersection is one array op per edge — nothing
    larger than the edge list is ever shuffled or materialized. The
    wedge-JOIN formulation (o1 ⋈ o2 on dst=src, then a semi-probe)
    materializes every wedge as a row — Σ in·out rows through two
    shuffles — and measured 2× superlinear at 5× data from shuffle
    spill (perf/scale_curve.py) before this rewrite. All-integer
    arithmetic; the single double division rounds at 1e-6.

    Exactness is property-swept against a brute-force reference over
    arbitrary graphs (tests/test_graph_ops.py)."""
    edges = edges.persist()
    try:
        deg = (
            edges.select(F.col("pa").alias("node"))
            .union(edges.select("pb"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        e = (
            edges.join(deg.withColumnsRenamed({"node": "pa", "deg": "da"}), "pa")
            .join(deg.withColumnsRenamed({"node": "pb", "deg": "db"}), "pb")
        )
        lower_first = (F.col("da") < F.col("db")) | (
            (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
        )
        oriented = e.select(
            F.when(lower_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
            F.when(lower_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        ).persist()
        adj = oriented.groupBy("src").agg(
            F.array_sort(F.collect_list("dst")).alias("nbrs")
        )
        tri = (
            oriented.join(
                adj.withColumnsRenamed({"src": "a", "nbrs": "na"}),
                F.col("src") == F.col("a"),
            )
            .join(
                adj.withColumnsRenamed({"src": "b", "nbrs": "nb"}),
                F.col("dst") == F.col("b"),
                # inner would drop edges whose head has no out-edges;
                # left keeps them contributing zero (nb NULL guarded
                # by the coalesce)
                "left",
            )
            .select(
                F.coalesce(
                    F.size(F.array_intersect("na", "nb")), F.lit(0)
                ).alias("t")
            )
            .agg(
                F.coalesce(F.sum("t"), F.lit(0))
                .cast("bigint")
                .alias("n_triangles")
            )
        )
        stats = deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
            .cast("bigint")
            .alias("n_wedges"),
            # Σdeg counts every DISTINCT canonical edge exactly twice,
            # so n_edges = Σdeg >> 1 (exact: the sum is even) — folds
            # the former edges.agg(count) pass and its crossJoin branch
            # into the degree aggregate the census already pays for
            # (r14: one fewer aggregate subtree, −2 scheduled stage
            # jobs at sf0.1).
            F.shiftright(F.sum("deg"), 1).alias("n_edges"),
        )
        # two 1-row aggregates -> scalar cross joins (census-exempt).
        out = (
            stats.crossJoin(tri)
            .select(
                "n_nodes",
                "n_edges",
                "n_triangles",
                "n_wedges",
                # when(w>0): a wedge-free graph (isolated edges) has no
                # defined clustering — NULL, not an ANSI 0/0 error
                # (found by the Hypothesis brute-force sweep).
                F.when(
                    F.col("n_wedges") > 0,
                    F.round(
                        3.0 * F.col("n_triangles") / F.col("n_wedges"), 6
                    ),
                ).alias("global_clustering"),
            )
        )
        # Materialize while the edge/adjacency caches are live; every
        # consumer then reads the 1-row checkpoint, never the lineage.
        out = out.localCheckpoint(eager=True)
    finally:
        oriented.unpersist()
        edges.unpersist()
    return out


@query("graph_triangle_count", oracle=_TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census of the part co-purchase graph (parts are
    adjacent when some order contains both), one row: nodes, edges,
    triangles, wedges, and the global clustering coefficient 3·T/W —
    how much co-purchase neighborhoods close into cliques vs mere
    hub-and-spoke stars (the standard community-structure diagnostic
    before running clustering on the graph).

    Edge building is bounded: TPC-H orders hold ≤ 7 parts, so the
    per-order pair fan-out is a constant factor on lineitem, one
    shuffle + distinct. The census itself is :func:`triangle_census`
    (degree-oriented sorted-adjacency edge-iterator — see its
    docstring for the scale rationale)."""
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = op.alias("a"), op.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .distinct()
    )
    return triangle_census(edges)


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed iterations, d=0.85) over the undirected
    customer↔supplier trade graph: who are the structurally central
    counterparties, weighting links by the importance of who links to
    you — the link-analysis upgrade of
    `customer_order_degree_distribution`'s raw degree counts.

    Graph: one edge per DISTINCT (customer, supplier) trading pair
    from orders⋈lineitem, mirrored in both directions (undirected).
    Output: every node with its rank — suppliers serving many
    well-connected customers float to the top.

    Fully oracled despite being iterative: the fixed iteration count
    makes the DuckDB dual a 3-level CTE chain over identical
    decimal-interior arithmetic (module docstring has the bit-identity
    induction)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # Node ids are PACKED LONGS (customer 2k, supplier 2k+1), not the
    # oracle's 'c123'/'s45' strings: the distinct and every loop join
    # then shuffle 8-byte keys instead of variable-width strings (the
    # edge build dominated the bench before this), and the final
    # projection derives the same (node_type, node_key) output. Rank
    # values are id-encoding-invariant (degrees and contributions
    # don't change), so the string-keyed DuckDB dual still matches.
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    fwd = pairs.select(
        (F.col("ck").cast("long") * 2).alias("src"),
        (F.col("sk").cast("long") * 2 + 1).alias("dst"),
    )
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = pagerank_fixed(edges, all_nodes_have_out_edges=True)
    return ranks.select(
        F.when(F.col("node") % 2 == 0, "c").otherwise("s").alias("node_type"),
        F.shiftright("node", 1).alias("node_key"),
        F.round("rank", 6).alias("pagerank"),
    )


#: Fixed min-label-propagation rounds for connected components — 10
#: covers the worst measured convergence need on the shipped data
#: (8 rounds at sf0.01) with margin; the `stable` flag exposes
#: (identically in both engines) whether a node's label still moved in
#: the final round, so an unconverged giant-diameter graph is visible
#: in the result instead of silently mislabeled.
CC_ITERS = 10
#: Trading pairs with ≥ this many distinct orders form an edge — the
#: repeat-business graph (one-off orders are noise at every SF).
CC_MIN_ORDERS = 3


def cc_fixed(fwd: DataFrame, n_iter: int) -> DataFrame:
    """(node, lab, stable) after ``n_iter`` rounds of synchronous
    min-label propagation over the UNDIRECTED graph given by ``fwd``
    (src, dst) — mirroring and self-loops are added here; ``stable`` =
    1 iff the label did not move in the final round. The engine's one
    connected-components kernel: :func:`graph_connected_components`
    (see its docstring for the scale shape and determinism argument),
    the transitive near-dup clusters in ``llm/dedup.py`` and, through
    ``llm/cluster.py:pair_components``, the dedup cluster faces
    (``dedup_clusters``, ``dedup_clusters_ml``,
    ``dedup_cluster_keep_best``, ``split_leakage_safe_groups``).

    Early exit: min-label propagation is MONOTONE — once a round
    changes no label, every further round is the identity — so
    stopping at the first stable round returns exactly the round-
    ``n_iter`` fixpoint the unrolled DuckDB oracle computes (and
    ``stable`` is then 1 everywhere, as the oracle's final-vs-
    previous comparison also finds). The convergence probe is one
    tiny changed-labels lookup per round against the already-
    materialized label vectors; on the shipped graphs it cuts 10
    scheduled rounds to the 2-4 the diameter actually needs."""
    cached = []
    try:
        # fwd is often an EXPENSIVE lineage (the LSH pair pipeline, a
        # fact-table aggregate) consumed twice below (node set + edge
        # mirror) — persist it so the upstream computes once
        fwd = fwd.persist()
        cached.append(fwd)
        nodes = (
            fwd.select(F.col("src").alias("node"))
            .union(fwd.select(F.col("dst").alias("node")))
            .distinct()
            .persist()
        )
        cached.append(nodes)
        edges = (
            fwd.union(
                fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .union(
                nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
            )
            .persist()
        )
        cached.append(edges)
        broadcast_labels = nodes.count() <= 5_000_000
        # eager checkpoint of the INITIAL labels too: the final labels
        # must survive the finally-unpersist of fwd/nodes when the loop
        # exits after round 1 (already-converged graphs), or the final
        # projection re-runs the whole upstream lineage at action time.
        # `_moved` starts False: a graph that converges instantly is
        # stable everywhere, matching the oracle's final-vs-previous
        # comparison.
        labs = (
            nodes.select("node", F.col("node").alias("lab"))
            .withColumn("_moved", F.lit(False))
            .localCheckpoint(eager=True)
        )
        # The did-my-label-move flag is computed IN the round's plan
        # (one join against the previous checkpoint) instead of a
        # separate probe join of two checkpoints per round, and the
        # final stable-join is gone — the last round's `_moved` IS
        # `NOT stable`. With AQE pinned off under the same ≤5M bound
        # that gates the broadcasts (every loop exchange is O(V); see
        # _aqe_pinned_off), a round costs 2 broadcast builds + 1
        # checkpoint + 1 probe scan instead of 7 scheduled jobs
        # (r14 anatomy: 27 → 15 jobs, wall 3.5 → 2.6 s at sf0.1).
        with _aqe_pinned_off(fwd.sparkSession, broadcast_labels):
            for _ in range(n_iter):
                prev = labs.select("node", F.col("lab").alias("_plab"))
                lab_side = F.broadcast(labs) if broadcast_labels else labs
                prev_side = F.broadcast(prev) if broadcast_labels else prev
                labs = (
                    edges.join(lab_side, edges.src == lab_side.node)
                    .groupBy(F.col("dst").alias("node"))
                    .agg(F.min("lab").alias("lab"))
                    .join(prev_side, "node")
                    .select(
                        "node",
                        "lab",
                        (F.col("lab") != F.col("_plab")).alias("_moved"),
                    )
                ).localCheckpoint(eager=True)
                # convergence probe: one scan of the just-stored label
                # partitions (no lineage, no second join)
                if labs.filter("_moved").limit(1).count() == 0:
                    break
        return labs.select(
            "node",
            "lab",
            (~F.col("_moved")).cast("long").alias("stable"),
        )
    finally:
        for df in cached:
            df.unpersist()


def cc_label_ctes(edges_cte: str, n_iter: int, prefix: str = "lab") -> str:
    """Unrolled min-label CTE chain over an existing ``edges_cte``
    relation (src, dst — must already include both directions and
    self-loops); yields ``{prefix}0 .. {prefix}{n_iter}``."""
    parts = [
        f"{prefix}0 AS (SELECT DISTINCT src AS node, src AS lab "
        f"FROM {edges_cte})"
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"""{prefix}{i} AS (
      SELECT e.dst AS node, MIN(p.lab) AS lab
      FROM {edges_cte} e JOIN {prefix}{i - 1} p ON p.node = e.src
      GROUP BY e.dst
    )"""
        )
    return ",\n    ".join(parts)


def _cc_oracle() -> str:
    """Unrolled 10-round min-label propagation dual (same chained-CTE
    discipline as the Lloyd/PQ fixpoints — DuckDB recursive CTEs
    forbid aggregates in the recursive term, so the fixed iteration
    count IS the portable formulation)."""
    chain = [
        """
    pairs AS (
      SELECT o_custkey AS ck, l_suppkey AS sk
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
      HAVING count(DISTINCT o_orderkey) >= {thr}
    ),
    nodes AS (
      SELECT DISTINCT ck * 2 AS node FROM pairs
      UNION SELECT DISTINCT sk * 2 + 1 FROM pairs
    ),
    edges AS (
      SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM pairs
      UNION ALL SELECT sk * 2 + 1, ck * 2 FROM pairs
      UNION ALL SELECT node, node FROM nodes
    ),
    lab0 AS (SELECT node, node AS lab FROM nodes)""".format(thr=CC_MIN_ORDERS)
    ]
    for i in range(1, CC_ITERS + 1):
        chain.append(
            f"""
    lab{i} AS (
      SELECT e.dst AS node, MIN(p.lab) AS lab
      FROM edges e JOIN lab{i - 1} p ON p.node = e.src
      GROUP BY e.dst
    )"""
        )
    return (
        "WITH "
        + ",".join(chain)
        + f"""
    SELECT CASE WHEN a.node % 2 = 0 THEN 'c' ELSE 's' END AS node_type,
           CAST(a.node // 2 AS BIGINT) AS node_key,
           CAST(a.lab AS BIGINT) AS component,
           CAST(a.lab = b.lab AS BIGINT) AS stable
    FROM lab{CC_ITERS} a JOIN lab{CC_ITERS - 1} b ON a.node = b.node
    """
    )


@query("graph_connected_components", oracle=_cc_oracle())
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the repeat-business trade graph
    (customer↔supplier pairs with ≥ CC_MIN_ORDERS distinct orders) via
    ``CC_ITERS`` rounds of synchronous min-label propagation — the
    entity-resolution / community-extraction primitive (and the
    dedup-cluster canonicalizer's graph-theoretic big sibling).

    Every node starts labeled with its own packed id; each round
    every node takes the min label over itself ∪ neighbors (self-loop
    edges make it ONE aggregate). Integer mins are order-insensitive,
    so the fixed-round result is bit-deterministic and the DuckDB
    dual is an unrolled CTE chain. ``stable`` = 1 iff the label did
    not move in the final round — convergence is VISIBLE in the
    result (and asserted on shipped data in tests) instead of assumed.

    Scale shape: identical to the PageRank loop — the edge list is
    built once and persisted, each round ships only the O(V) label
    vector (broadcast when provably small, same bounded-count
    heuristic), the min-aggregate combines map-side, and an eager
    localCheckpoint cuts per-round lineage. Plain propagation costs
    O(diameter) rounds; the production upgrade for giant-diameter
    graphs (alternating star contractions, O(log d)) trades this
    oracle-able fixed shape for driver-side convergence control —
    documented, not hidden, via the ``stable`` flag.

    Reference parity: no graph surface in the reference (README.md:12
    front-ends BI dashboards); beyond-reference operator per the
    brief, same family as `graph_pagerank`/`graph_triangle_count`."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk")
        )
        .agg(F.count_distinct("o_orderkey").alias("n_orders"))
        .filter(F.col("n_orders") >= CC_MIN_ORDERS)
    )
    fwd = pairs.select(
        (F.col("ck").cast("long") * 2).alias("src"),
        (F.col("sk").cast("long") * 2 + 1).alias("dst"),
    )
    labs = cc_fixed(fwd, CC_ITERS)
    return labs.select(
        F.when(F.col("node") % 2 == 0, "c").otherwise("s").alias("node_type"),
        F.shiftright("node", 1).alias("node_key"),
        F.col("lab").alias("component"),
        "stable",
    )
