"""Ingest-time near-duplicate suppression for document streams.

Batch near-dup dedup (llm/dedup.py) answers "which existing docs are
duplicates"; an ingest pipeline needs the ONLINE form: as documents
stream in, drop any that are near-duplicates of (a) something already
accepted in a previous batch or (b) an earlier document in the same
batch, and remember the survivors — so the corpus stays deduplicated
without ever re-scanning it.

Design (generalizes reference `StreamingJobExecutor.scala:16-61`'s
foreachBatch upsert loop to similarity state):

- The accepted-document state is a MinHash **signature store** on
  parquet, partitioned by ``_bdir = pmod(bucket, N_STORE_DIRS)`` of the
  LSH band buckets and committed through one manifest
  (``storage/manifest.py``). An incoming micro-batch computes its own
  banded buckets, derives the touched ``_bdir`` values (a bounded
  collect — at most N_STORE_DIRS ints), and reads ONLY those
  partitions' directories, by path: probe cost scales with the batch,
  not the corpus — the same pruning as ``ParquetStateTable.merge``.
- Candidate pairs = equi join on (band, bucket) between the batch's
  banded rows and the pruned store slice (plus the batch against
  itself via ``lsh_candidate_pairs``). Verification estimates Jaccard
  as the fraction of agreeing MinHash components — no shingle re-read,
  O(num_hashes) per candidate.
- Within a batch, the LOWEST doc_id of a duplicate cluster survives
  (deterministic; matches ``dedup_exact_keep_canonical``).

**Replay safety** (foreachBatch is at-least-once): the store probe
excludes the batch's own doc_ids, so a replayed batch whose signatures
were already committed does NOT match itself and re-derives the same
survivor set; the store append anti-joins the probed slice so replayed
signatures are not double-inserted; and the survivor output is written
with dynamic partition overwrite keyed by ``_ingest_batch`` so a
replayed batch REPLACES its own output partition instead of appending
duplicates.

**File hygiene**: every append adds one small directory per touched
``_bdir`` partition; ``SignatureStore.compact`` rewrites a fragmented
partition's directories into one, in one commit, and
``run_neardup_dedup_stream(compact_every_n_batches=N)`` schedules it
inside foreachBatch, serialized with probes and appends.

At 100 TB: the store holds bands×1 row per accepted doc of ~50 bytes;
probes touch ≤ batch×bands buckets; the only unbounded growth is the
store itself, which partitions by bucket hash — uniform by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_streaming_with_debezium_spark.storage.fs import StateFS, fs_for_path
from spark_streaming_with_debezium_spark.storage.manifest import Manifest

from spark_streaming_with_debezium_spark.llm.dedup import (
    banded_rows,
    lsh_candidate_pairs,
    minhash_signatures,
)

N_STORE_DIRS = 64
_BDIR = "bdir/"  # manifest entry prefix: bdir/<_bdir>/<version> → one append's rows


class SignatureStore:
    """Bucket-partitioned MinHash signature store for accepted docs.

    Every append and compaction writes a new directory and publishes it
    in one manifest commit, so a crash never leaves a partial append
    or a half-compacted partition behind."""

    def __init__(self, spark: SparkSession, path: str, fs: StateFS | None = None):
        self.spark = spark
        self.path = path
        self.fs = fs if fs is not None else fs_for_path(spark, path)

    def _manifest(self) -> Manifest:
        return Manifest.open(self.fs, self.path)

    def _parts(self, m: Manifest) -> dict[int, list[str]]:
        """``_bdir`` → the entry names holding its rows."""
        parts: dict[int, list[str]] = {}
        for name in m.entries:
            if name.startswith(_BDIR):
                parts.setdefault(int(name.split("/")[1]), []).append(name)
        return parts

    def _write(self, m: Manifest, banded: DataFrame, tag: str) -> dict[str, str]:
        """Write ``banded`` partitioned by ``_bdir`` into a new
        directory; returns the entries naming each written partition."""
        partitioned = banded.withColumn(
            "_bdir", F.pmod("bucket", F.lit(N_STORE_DIRS))
        ).repartition(F.col("_bdir"))
        return {
            f"{_BDIR}{b}/{m.version + 1}": d
            for b, d in m.write_partitioned(partitioned, tag, "_bdir").items()
        }

    def _read(self, m: Manifest, bdirs: list[int]) -> DataFrame | None:
        parts = self._parts(m)
        dirs = [m.path(n) for b in bdirs for n in parts.get(b, [])]
        if not dirs:
            return None
        schema = T.StructType.fromJson(m.meta["schema"])
        return self.spark.read.schema(schema).parquet(*dirs)

    def probe(self, touched_bdirs: list[int]) -> DataFrame | None:
        """Banded rows from ONLY the store partitions a batch can hit."""
        return self._read(self._manifest(), touched_bdirs)

    def append(self, banded: DataFrame) -> None:
        m = self._manifest()
        entries = self._write(m, banded, "append")
        if entries:
            m.commit(entries, schema=banded.schema.jsonValue())

    def compact(self, min_files: int = 8) -> int:
        """Rewrite ``_bdir`` partitions fragmented into ``min_files``+
        directories (each append adds one per touched partition) into
        one directory each, published in one commit; call only from the
        single writer (foreachBatch). Returns partitions compacted."""
        m = self._manifest()
        parts = self._parts(m)
        fragmented = sorted(b for b, names in parts.items() if len(names) >= min_files)
        if not fragmented:
            return 0
        entries: dict[str, str | None] = {n: None for b in fragmented for n in parts[b]}
        entries.update(self._write(m, self._read(m, fragmented), "compact"))
        m.commit(entries)
        return len(fragmented)


def _sig_agreement(a: str, b: str) -> F.Column:
    """Estimated Jaccard: fraction of agreeing MinHash components."""
    pairs = F.zip_with(F.col(a), F.col(b), lambda x, y: (x == y).cast("int"))
    return F.aggregate(pairs, F.lit(0), lambda acc, v: acc + v).cast(
        "double"
    ) / F.size(F.col(a))


def dedup_batch_against_store(
    docs: DataFrame,
    store: SignatureStore,
    threshold: float = 0.5,
    bands: int = 8,
    rows_per_band: int = 4,
    sink=None,
) -> DataFrame:
    """One micro-batch of ingest dedup. Computes the surviving docs,
    invokes ``sink(kept)`` (if given) BEFORE mutating the store, then
    appends the survivors' signatures. Replay-safe: the probe excludes
    the batch's own doc_ids and the append skips rows the store
    already holds, so re-running the same batch against a store that
    already absorbed it derives the same survivors and changes
    nothing."""
    sigs = minhash_signatures(docs).persist()
    slice_ = None
    try:
        banded = banded_rows(sigs, bands, rows_per_band).withColumn(
            "_bdir", F.pmod("bucket", F.lit(N_STORE_DIRS))
        )
        # --- duplicates of already-accepted docs (pruned store probe) ---
        dup_vs_store = None
        already_stored = None
        touched = [r._bdir for r in banded.select("_bdir").distinct().collect()]
        slice_ = store.probe(touched)
        if slice_ is not None:
            slice_ = slice_.persist()
            # A replayed batch finds its own committed signatures in the
            # store — self-doc_id matches must not count as duplicates.
            cand = banded.alias("new").join(
                slice_.alias("old"),
                (F.col("new.band") == F.col("old.band"))
                & (F.col("new.bucket") == F.col("old.bucket"))
                & (F.col("new.doc_id") != F.col("old.doc_id")),
            )
            dup_vs_store = (
                cand.filter(_sig_agreement("new.sig", "old.sig") >= threshold)
                .select(F.col("new.doc_id").alias("doc_id"))
                .distinct()
            )
            # (doc_id, band) granularity, NOT doc_id: a crashed append
            # may have committed only SOME of a doc's band rows (the
            # multi-file parquet commit is not atomic across
            # partitions). A doc_id-level anti-join would then skip
            # re-inserting ALL bands forever, leaving the doc
            # under-banded and lowering its LSH detection probability.
            # Band-level replay re-inserts exactly the missing rows.
            already_stored = slice_.select("doc_id", "band").distinct()
        # --- duplicates within the batch: lowest doc_id survives ---
        in_batch_pairs = lsh_candidate_pairs(sigs, bands, rows_per_band)
        sig_of = sigs.select("doc_id", "sig")
        verified = (
            in_batch_pairs.join(
                sig_of.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                    "sig", "sig_a"
                ),
                "doc_a",
            )
            .join(
                sig_of.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                    "sig", "sig_b"
                ),
                "doc_b",
            )
            .filter(_sig_agreement("sig_a", "sig_b") >= threshold)
        )
        # doc_a < doc_b by construction: doc_b is the in-batch duplicate
        dup_in_batch = verified.select(F.col("doc_b").alias("doc_id")).distinct()
        dropped = (
            dup_in_batch
            if dup_vs_store is None
            else dup_vs_store.unionByName(dup_in_batch).distinct()
        )
        # persist: consumed by the sink, the store append, and the
        # caller — without it the whole probe/join plan re-executes per
        # consumer.
        kept = docs.join(dropped, "doc_id", "left_anti").persist()
        kept.count()  # materialize while sigs/slice are cached
        if sink is not None:
            # survivors reach the output BEFORE the store mutates: a
            # crash in between replays the batch against an unchanged
            # store.
            sink(kept)
        kept_banded = banded.join(
            kept.select("doc_id"), "doc_id", "left_semi"
        ).drop("_bdir")
        if already_stored is not None:
            # replay: signatures already committed must not duplicate
            kept_banded = kept_banded.join(
                already_stored, ["doc_id", "band"], "left_anti"
            )
        store.append(kept_banded)
        return kept
    finally:
        sigs.unpersist()
        if slice_ is not None:
            slice_.unpersist()


def run_neardup_dedup_stream(
    doc_stream: DataFrame,
    store: SignatureStore,
    out_path: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    compact_every_n_batches: int | None = None,
):
    """Continuous ingest dedup: survivors land in ``out_path``
    partitioned by ``_ingest_batch`` (dynamic overwrite → a replayed
    batch REPLACES its own partition, no duplicate output), signatures
    accumulate in the store, availableNow drain for deterministic
    tests (same trigger discipline as run_cdc_stream). Opt-in periodic
    store compaction bounds small-file growth on long streams."""

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        def sink(kept: DataFrame) -> None:
            (
                kept.withColumn("_ingest_batch", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_ingest_batch")
                .parquet(out_path)
            )

        kept = dedup_batch_against_store(
            batch_df, store, threshold=threshold, sink=sink
        )
        kept.unpersist()
        if compact_every_n_batches and (batch_id + 1) % compact_every_n_batches == 0:
            store.compact()

    return (
        doc_stream.writeStream.foreachBatch(_fn)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
