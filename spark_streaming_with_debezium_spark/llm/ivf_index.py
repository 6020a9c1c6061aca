"""Persistent IVF index: the at-rest form of ann_ivf_topk.

``build`` trains a BOUNDED-k centroid set (sampled KMeans — centroid
count independent of corpus size, so the centroid table broadcasts at
any scale), assigns every vector to its nearest centroid with a
shuffle-free higher-order projection, and writes the assignment
PARTITIONED BY CELL; ``search`` reads only the ``n_probe`` cells
nearest each query — a partition-pruned scan, the same
touched-partitions idea as the CDC state table. At 100 TB the probe
I/O is (probes / cells) of the corpus instead of all of it, and the
index is just parquet — rebuildable, no serving infra.

``build(pq_m=8)`` additionally trains residual product-quantization
codebooks (the Jégou et al. IVFADC layout, float twin of the oracled
``ann_ivf_pq_topk``) and stores every vector's M-code array alongside
it; ``search_pq`` then scores candidates by asymmetric distance
READING ONLY (vec_id, pq_code, nrm) — M small ints + one double per
row instead of the d-double embedding, the column-pruning that turns
a 100 TB probe scan into a ~1 TB one — and exact-reranks only the
top-``refine`` survivors per query.

Storage: one manifest store at the index path (``storage/manifest.py``)
names the centroid and codebook directories, one directory per cell
(``cells-v<N>/_cell=<c>``; the rows keep their ``cell`` column) and the
buckets of the vec_id → cell sidecar, a :class:`ParquetStateTable` on
the same store. ``build`` and ``upsert`` each publish everything they
rewrote in one commit, so the cells and the sidecar never disagree and
a crash leaves the index as it was.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_streaming_with_debezium_spark.llm.similarity import (
    IVF_K,
    IVF_TRAIN_CAP,
    cosine_prenormed,
    nearest_cells,
    norm,
    probe_topk,
    train_centroids,
)
from spark_streaming_with_debezium_spark.cdc.merge import ParquetStateTable
from spark_streaming_with_debezium_spark.storage.fs import StateFS, fs_for_path
from spark_streaming_with_debezium_spark.storage.manifest import Manifest


#: residual-PQ defaults: 64 dims → 8 subspaces × 32 codes ⇒ 8 small ints
#: (5 effective bits each) + one norm double per vector at rest
PQ_M = 8
PQ_KSUB = 32
PQ_TRAIN_ITERS = 5

# manifest entries: centroids, PQ codebooks, cell/<c> → that cell's rows
_CENTROIDS, _BOOKS, _CELL = "centroids", "pq_books", "cell/"


class IvfIndex:
    def __init__(self, spark: SparkSession, path: str, fs: StateFS | None = None):
        self.spark = spark
        self.path = path
        self.fs = fs if fs is not None else fs_for_path(spark, path)

    def _manifest(self) -> Manifest:
        return Manifest.open(self.fs, self.path)

    def _idmap(self) -> ParquetStateTable:
        """vec_id → cell sidecar as a bucketed state table: upsert's
        supersede lookup reads only the id-hash buckets the batch
        touches instead of column-scanning the whole index. The same
        machinery as the CDC state table — one protocol, two uses."""
        return ParquetStateTable(self.spark, self.path, ["vec_id"], n_buckets=64, fs=self.fs)

    def _centroids(self, m: Manifest) -> DataFrame:
        return self.spark.read.parquet(m.path(_CENTROIDS))

    def _read(self, m: Manifest, cells=None) -> DataFrame:
        """Indexed rows of ``cells`` (all when None), read by path."""
        schema = T.StructType.fromJson(m.meta["cells_schema"])
        dirs = [
            d for c, d in sorted(m.named(_CELL).items())
            if cells is None or int(c) in cells
        ]
        if not dirs:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*dirs)

    def read(self, cells=None) -> DataFrame:
        """The indexed rows (``vec_id, embedding, nrm, cell`` and, on a PQ
        index, ``pq_code``) of ``cells``, or of every cell."""
        return self._read(self._manifest(), cells)

    def _write_cells(self, m: Manifest, rows: DataFrame, replaced) -> dict:
        """Write ``rows`` one directory per cell; returns the entry
        updates (written cells point at their new directory, cells in
        ``replaced`` that came out empty are dropped)."""
        updates: dict[str, str | None] = {f"{_CELL}{c}": None for c in replaced}
        written = m.write_partitioned(rows.withColumn("_cell", F.col("cell")), "cells", "_cell")
        for c, d in written.items():
            updates[_CELL + c] = d
        return updates

    def build(self, vectors: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", k: int = IVF_K,
              train_cap: int = IVF_TRAIN_CAP, pq_m: int = 0,
              pq_ksub: int = PQ_KSUB) -> None:
        """(Re)build the whole index and publish it in one commit. A
        rebuild WITHOUT PQ drops earlier codebooks, so the index layout
        always matches the build configuration."""
        m = self._manifest()
        v = vectors.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ).withColumn("nrm", norm(F.col("embedding")))
        cents = train_centroids(
            self.spark, v, id_col="vec_id", vec_col="embedding",
            k=k, train_cap=train_cap,
        )
        updates: dict[str, str | None] = {_CENTROIDS: m.new_dir("centroids"), _BOOKS: None}
        cents.write.mode("overwrite").parquet(updates[_CENTROIDS])
        cents_r = self.spark.read.parquet(updates[_CENTROIDS])
        assigned = nearest_cells(v, cents_r, "embedding", "nrm", 1, "cell")
        if pq_m > 0:
            updates[_BOOKS] = m.new_dir("pq_books")
            self._train_books(assigned, cents_r, pq_m, pq_ksub, train_cap, updates[_BOOKS])
            assigned = self._encode(assigned, cents_r, updates[_BOOKS])
        cells = self._write_cells(
            m, assigned.repartition(F.col("cell")), [int(c) for c in m.named(_CELL)]
        )
        # id→cell sidecar, read back from the written cells so the map
        # reflects exactly what landed on disk
        written = self.spark.read.schema(assigned.schema).parquet(
            *[d for d in cells.values() if d is not None]
        )
        idmap, meta = self._idmap()._init_updates(m, written.select("vec_id", "cell"))
        m.commit(
            {**updates, **cells, **idmap}, **meta, cells_schema=assigned.schema.jsonValue()
        )

    # ---- residual product quantization (float twin of the oracled
    # ---- ann_ivf_pq_topk query; see module docstring) ----

    def _load_books(self, books_dir: str) -> list[list[list[float]]]:
        rows = self.spark.read.parquet(books_dir).collect()
        m_max = max(r["m"] for r in rows) + 1
        books: list[list[list[float]]] = [[] for _ in range(m_max)]
        for r in sorted(rows, key=lambda r: (r["m"], r["code"])):
            books[r["m"]].append([float(x) for x in r["cv"]])
        return books

    def _train_books(self, assigned: DataFrame, cents: DataFrame,
                     m: int, ksub: int, train_cap: int, out: str) -> None:
        """Train per-subspace codebooks on RESIDUALS (v − cell
        centroid) over a bounded hash-deterministic sample — the
        driver-side Lloyd loop every PQ trainer runs (cost independent
        of corpus size), deterministic: hash-ordered init, fixed
        iteration count, no RNG."""
        sample = (
            assigned.orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id"))
            .limit(train_cap)
            .select("vec_id", "embedding", "cell")
            .collect()
        )
        ce = {r["cent_id"]: list(r["ce"]) for r in cents.collect()}
        resid = [
            [x - c for x, c in zip(r["embedding"], ce[r["cell"]])]
            for r in sample
        ]
        d = len(resid[0])
        if d % m:
            raise ValueError(f"dim {d} not divisible by pq_m={m}")
        sub = d // m
        books: list[list[list[float]]] = []
        for mi in range(m):
            vecs = [r[mi * sub : (mi + 1) * sub] for r in resid]
            cents_m = vecs[:ksub]
            for _ in range(PQ_TRAIN_ITERS):
                sums = [[0.0] * sub for _ in range(ksub)]
                ns = [0] * ksub
                for vv in vecs:
                    j = min(
                        range(len(cents_m)),
                        key=lambda j: sum(
                            (a - b) * (a - b) for a, b in zip(vv, cents_m[j])
                        ),
                    )
                    ns[j] += 1
                    for p, a in enumerate(vv):
                        sums[j][p] += a
                cents_m = [
                    [s / n for s in sums[j]] if (n := ns[j]) else cents_m[j]
                    for j in range(len(cents_m))
                ]
            books.append(cents_m)
        rows = [
            (mi, j, cv)
            for mi, book in enumerate(books)
            for j, cv in enumerate(book)
        ]
        self.spark.createDataFrame(
            rows, "m INT, code INT, cv ARRAY<DOUBLE>"
        ).write.mode("overwrite").parquet(out)

    def _encode(self, assigned: DataFrame, cents: DataFrame, books_dir: str) -> DataFrame:
        """Attach ``pq_code`` (M ints): residual against the row's cell
        centroid, per-subspace argmin against broadcast literal
        codebooks — one stateless projection, the corpus never moves."""
        books = self._load_books(books_dir)
        sub = len(books[0][0])
        resid = F.zip_with(
            "embedding", F.col("ce"), lambda x, c: x - c
        )
        codes = []
        for mi, book in enumerate(books):
            sl = F.slice(resid, mi * sub + 1, sub)
            best = F.array_min(
                F.array(
                    *[
                        F.struct(
                            F.aggregate(
                                F.zip_with(
                                    sl,
                                    F.array(*[F.lit(float(c)) for c in cv]),
                                    lambda x, c: (x - c) * (x - c),
                                ),
                                F.lit(0.0),
                                lambda acc, x: acc + x,
                            ).alias("d2"),
                            F.lit(j).alias("code"),
                        )
                        for j, cv in enumerate(book)
                    ]
                )
            )
            codes.append(best["code"])
        return (
            assigned.join(
                F.broadcast(
                    cents.select(
                        F.col("cent_id").alias("cell"), "ce"
                    )
                ),
                "cell",
            )
            .withColumn("pq_code", F.array(*codes))
            .drop("ce")
        )

    def search_pq(self, queries: DataFrame, k: int = 5, n_probe: int = 5,
                  refine: int = 20, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
        """ADC-scored top-k: candidates in the probed cells are ranked
        by the compressed-domain cosine estimate
        (dot(q, c_cell) + Σ_m LUT_q[m][code_m]) / (|q|·|v|) — the scan
        reads ONLY (vec_id, pq_code, nrm), never the embedding column —
        and the top-``refine`` per query are exact-reranked with one
        broadcast join back to the index. Per-query LUTs are bounded
        driver work (M·ksub dots), the serving-node shape."""
        mf = self._manifest()
        if _BOOKS not in mf.entries:
            raise ValueError(
                f"index at {self.path} was built without PQ "
                "(build(pq_m=...) first)"
            )
        books = self._load_books(mf.path(_BOOKS))
        m, sub = len(books), len(books[0][0])
        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qe")
        ).withColumn("qnrm", norm(F.col("qe")))
        cents = self._centroids(mf)
        probes = nearest_cells(q, cents, "qe", "qnrm", n_probe, "cell")
        probe_rows = probes.select("query_id", "qe", "qnrm", "cell").collect()
        ce = {
            r["cent_id"]: list(r["ce"]) for r in cents.collect()
        }
        by_q: dict = {}
        for r in probe_rows:
            ent = by_q.setdefault(
                int(r["query_id"]),
                {"qe": list(r["qe"]), "qnrm": float(r["qnrm"]), "cells": []},
            )
            ent["cells"].append(int(r["cell"]))
        for qid, ent in by_q.items():
            qe = ent["qe"]
            # dot(q, residual-codeword) per subspace — query side of ADC
            ent["lut"] = [
                [
                    sum(
                        a * b
                        for a, b in zip(qe[mi * sub : (mi + 1) * sub], cv)
                    )
                    for cv in books[mi]
                ]
                for mi in range(m)
            ]
            ent["dot_qc"] = {
                c: sum(a * b for a, b in zip(qe, ce[c])) for c in ent["cells"]
            }
        all_cells = sorted({c for e in by_q.values() for c in e["cells"]})
        # probed cells only AND column-pruned: codes + norm, no embedding
        data = self._read(mf, all_cells).select("vec_id", "cell", "pq_code", "nrm")

        def adc_for(qid: int):
            ent = by_q[qid]
            dot_expr = None
            for c in ent["cells"]:
                terms = [
                    F.element_at(
                        F.array(
                            *[F.lit(float(x)) for x in ent["lut"][mi]]
                        ),
                        F.element_at("pq_code", mi + 1) + 1,
                    )
                    for mi in range(m)
                ]
                s = sum(terms[1:], terms[0]) + F.lit(float(ent["dot_qc"][c]))
                dot_expr = (
                    F.when(F.col("cell") == c, s)
                    if dot_expr is None
                    else dot_expr.when(F.col("cell") == c, s)
                )
            return dot_expr / (F.lit(float(ent["qnrm"])) * F.col("nrm"))

        entries = [
            F.struct(
                F.lit(qid).alias("query_id"), adc_for(qid).alias("adc")
            )
            for qid in sorted(by_q)
        ]
        exploded = (
            data.select(
                "vec_id",
                F.explode(
                    F.filter(
                        F.array(*entries), lambda s: s["adc"].isNotNull()
                    )
                ).alias("z"),
            )
            .select("vec_id", "z.query_id", F.col("z.adc").alias("adc_cos"))
            .filter(F.col("vec_id") != F.col("query_id"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("adc_cos").desc(), "vec_id"
        )
        survivors = (
            exploded.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= refine)
            .select("query_id", "vec_id")
        )
        # exact rerank: q·refine broadcast join back to the index
        emb = self._read(mf, all_cells).select("vec_id", "embedding", "nrm")
        scored = (
            emb.join(F.broadcast(survivors), "vec_id")
            .join(F.broadcast(q), "query_id")
            .withColumn(
                "cos",
                cosine_prenormed(
                    F.col("qe"), F.col("embedding"), F.col("qnrm"), F.col("nrm")
                ),
            )
        )
        w2 = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), "vec_id"
        )
        return (
            scored.withColumn("rnk", F.row_number().over(w2))
            .filter(F.col("rnk") <= k)
            .select(
                "query_id", "vec_id", F.round("cos", 6).alias("cos_sim"), "rnk"
            )
        )

    def search(self, queries: DataFrame, k: int = 5, n_probe: int = 5,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
        """Top-k cosine neighbors per query, probing n_probe cells."""
        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qe")
        ).withColumn("qnrm", norm(F.col("qe")))
        m = self._manifest()

        def probed_cells(probes: DataFrame) -> DataFrame:
            # only the probed cells' directories are scanned
            return self._read(
                m, {r.cell for r in probes.select("cell").distinct().collect()}
            )

        return probe_topk(q, self._centroids(m), probed_cells, n_probe, k)

    def upsert(self, vectors: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding") -> None:
        """Incremental maintenance with TRUE upsert semantics: assign
        the batch to the EXISTING centroids (no re-clustering), replace
        any resident row carrying the same ``vec_id`` — including rows
        living in a DIFFERENT cell because the embedding changed — and
        publish the rewritten cells and the sidecar's rewritten buckets in
        one commit. A batch id always wins over the resident row
        (last-writer-wins), so re-delivery is idempotent and a changed
        embedding never leaves a stale duplicate behind.

        Cost: O(batch) assignment + an id-hash-bucket-pruned lookup of
        the id→cell sidecar (``ParquetStateTable.lookup`` — reads only
        the sidecar buckets the batch ids hash into, NOT the index) to
        locate superseded rows + a rewrite of only the touched cells.
        Rebuild (`build`) when `cell_balance` reports drift — the
        standard IVF re-train policy, a measured signal instead of a
        guess."""
        m = self._manifest()
        v = vectors.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ).withColumn("nrm", norm(F.col("embedding")))
        cents = self._centroids(m)
        assigned = nearest_cells(v, cents, "embedding", "nrm", 1, "cell")
        if _BOOKS in m.entries:
            # PQ index: encode the batch with the FROZEN codebooks
            # (residual quantizers retrain only on rebuild, like the
            # coarse centroids — cell_balance is the trigger for both)
            assigned = self._encode(assigned, cents, m.path(_BOOKS))
        assigned = assigned.cache()
        cols = ["vec_id", "embedding", "nrm", "cell"] + (
            ["pq_code"] if "pq_code" in assigned.columns else []
        )
        try:
            batch_ids = assigned.select("vec_id").distinct()
            idmap = self._idmap()
            # only the id-hash buckets holding batch ids are read:
            # O(batch), independent of index size
            stale_cells = idmap.lookup(batch_ids).select("cell")
            touched = [
                r.cell
                for r in assigned.select("cell")
                .union(stale_cells)
                .distinct()
                .collect()
            ]
            if not touched:
                return
            kept = self._read(m, touched).join(F.broadcast(batch_ids), "vec_id", "left_anti")
            out = kept.select(*cols).unionByName(assigned.select(*cols))
            # a cell whose resident rows all moved away, with nothing new
            # assigned, comes out empty and is dropped
            updates = self._write_cells(
                m, out.repartition(len(touched), F.col("cell")), touched
            )
            # the sidecar: batch ids map to their (possibly new) cells
            updates.update(idmap._merge_updates(
                m, assigned.select("vec_id", "cell", F.lit(False).alias("deleted")), None
            ))
            m.commit(updates)
        finally:
            assigned.unpersist()

    def cell_balance(self) -> DataFrame:
        """Index-health report: per-cell row counts plus the skew ratio
        (max/mean) — the re-train trigger. After heavy upserting, new
        data concentrating in few cells degrades probe selectivity;
        rebuild when the ratio drifts well past its post-build value."""
        counts = (
            self.read()
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_vectors"))
        )
        stats = counts.agg(
            F.max("n_vectors").alias("mx"), F.avg("n_vectors").alias("mean")
        )
        return counts.crossJoin(F.broadcast(stats)).select(
            "cell",
            "n_vectors",
            F.round(F.col("mx") / F.col("mean"), 6).alias("skew_ratio"),
        )
