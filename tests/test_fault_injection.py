"""Fault injection over every durable-state operation.

``FailingFS`` wraps a ``StateFS`` and fails its k-th call and every call
after it, like a process that died there. For each operation the
harness builds the store's old state, runs the operation once on a
healthy copy to learn the new state and its number of filesystem calls,
then, for EVERY k, runs it on a fresh copy of the old state with
``FailingFS(k)`` and reopens the store on the healthy filesystem: the
store must equal the old state or the new one — rows and metadata both.
Each operation runs on ``LocalFS`` and on ``HadoopFS`` over ``file://``.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from spark_streaming_with_debezium_spark.cdc.merge import ParquetStateTable
from spark_streaming_with_debezium_spark.cdc.timetravel import (
    TimeTravelStateTable,
    purge_keys,
)
from spark_streaming_with_debezium_spark.cdc.transactions import TxnBuffer
from spark_streaming_with_debezium_spark.llm.ivf_index import IvfIndex
from spark_streaming_with_debezium_spark.storage.fs import HadoopFS, LocalFS, StateFS
from spark_streaming_with_debezium_spark.storage.manifest import Manifest
from spark_streaming_with_debezium_spark.streaming.jobs import (
    _cms_fold,
    _hll_fold,
    sketch_state,
)
from spark_streaming_with_debezium_spark.streaming.neardup import (
    N_STORE_DIRS,
    SignatureStore,
)


class InjectedFault(Exception):
    pass


class FailingFS(StateFS):
    """Delegates to ``inner``; raises at call ``k`` and at every later
    call (``k=None``: never). ``calls`` counts the calls made."""

    def __init__(self, inner: StateFS, k: int | None = None):
        self.inner, self.k, self.calls = inner, k, 0

    def _do(self, name, *args):
        self.calls += 1
        if self.k is not None and self.calls >= self.k:
            raise InjectedFault(f"call {self.calls}: {name}{args}")
        return getattr(self.inner, name)(*args)

    def exists(self, path):
        return self._do("exists", path)

    def isdir(self, path):
        return self._do("isdir", path)

    def listdir(self, path):
        return self._do("listdir", path)

    def mkdirs(self, path):
        return self._do("mkdirs", path)

    def delete(self, path):
        return self._do("delete", path)

    def rename(self, src, dst):
        return self._do("rename", src, dst)

    def read_text(self, path):
        return self._do("read_text", path)

    def write_text_atomic(self, path, text):
        return self._do("write_text_atomic", path, text)


def _freeze(v):
    if isinstance(v, (list, tuple)):
        return tuple(_freeze(x) for x in v)
    if isinstance(v, (bytearray, bytes)):
        return bytes(v)
    return v


def rows(df) -> tuple:
    return tuple(sorted((tuple(_freeze(x) for x in r) for r in df.collect()), key=repr))


# ---------------------------------------------------------------- cases
# Each case: setup(spark, fs, root) builds the old state, op(spark, fs,
# root) is the operation under test, state(spark, fs, root) is what a
# reopened store shows.

CHG = "id long, v string, deleted boolean"


def _table(spark, fs, root):
    return ParquetStateTable(spark, root, ["id"], n_buckets=2, fs=fs)


def _table_state(spark, fs, root):
    st = _table(spark, fs, root)
    df = st.read()
    return rows(df), st.n_buckets, df.schema.simpleString()


def _table_setup(spark, fs, root):
    _table(spark, fs, root).init(
        spark.createDataFrame([(i, f"v{i}") for i in range(12)], "id long, v string")
    )


def _tt(spark, fs, root):
    return TimeTravelStateTable(spark, root, ["id"], n_buckets=2, fs=fs)


def _tt_state(spark, fs, root):
    t = _tt(spark, fs, root)
    history = tuple(rows(t.as_of(s)) for s in range(t._base_seq, t._seq + 1))
    return rows(t.read()), history, t._seq, t._base_seq, t._data_cols


def _tt_setup(n_merges):
    def setup(spark, fs, root):
        t = _tt(spark, fs, root)
        t.init(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
        for i in range(n_merges):
            t.merge_logged(spark.createDataFrame([(3 + i, f"m{i}", False)], CHG))

    return setup


def _buffer_state(spark, fs, root):
    return tuple(rows(df) for df in TxnBuffer(spark, root, fs=fs).read())


def _buffer_write(n):
    def write(spark, fs, root):
        TxnBuffer(spark, root, fs=fs).write(
            spark.createDataFrame(
                [("t", "k", f"v{i}", 0, i, f"tx{i}") for i in range(n)],
                "topic string, key string, value string, partition int, "
                "offset long, txn_id string",
            ),
            spark.createDataFrame([(f"tx{n}", 2)], "txn_id string, event_count long"),
            spark.createDataFrame([(f"tx{n - 1}", n)], "txn_id string, applied_batch long"),
        )

    return write


def _banded(spark, docs):
    # (doc_id, band, bucket, sig) rows; buckets collide across docs so
    # every partition gets several appends
    return spark.createDataFrame(
        [(d, b, (d * 7 + b) % 5, [d, b]) for d in docs for b in range(3)],
        "doc_id long, band int, bucket long, sig array<int>",
    )


def _sig_state(spark, fs, root):
    store = SignatureStore(spark, root, fs=fs)
    parts = sorted((b, len(n)) for b, n in store._parts(store._manifest()).items())
    probe = store.probe(list(range(N_STORE_DIRS)))
    return (rows(probe) if probe is not None else ()), tuple(parts)


def _sig_setup(n_appends):
    def setup(spark, fs, root):
        store = SignatureStore(spark, root, fs=fs)
        for i in range(n_appends):
            store.append(_banded(spark, [2 * i, 2 * i + 1]))

    return setup


DOCS = "doc_id long, text string"


def _events(spark, users, day):
    return spark.createDataFrame(
        [(f"2024-01-0{day} 10:00:00", u) for u in users], "ts string, user_id long"
    ).select(F.col("ts").cast("timestamp"), "user_id")


def _sketch_state(spark, fs, root):
    return rows(sketch_state(spark, root)), tuple(sorted(Manifest.open(fs, root).meta.items()))


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), DOCS)


VECTORS = "vec_id long, embedding array<float>"


def _vectors(spark, ids, shift=0.0):
    return spark.createDataFrame(
        [(i, [float(i % 4 == j) + shift + 0.01 * i for j in range(4)]) for i in ids],
        VECTORS,
    )


def _ivf_state(spark, fs, root):
    idx = IvfIndex(spark, root, fs=fs)
    return (
        rows(idx.read().select("vec_id", "cell", "embedding")),
        rows(idx._idmap().read()),
    )


CASES = {
    "init": (
        _table_setup,
        lambda spark, fs, root: _table(spark, fs, root).init(
            spark.createDataFrame([(i, f"n{i}") for i in range(5, 20)], "id long, v string")
        ),
        _table_state,
    ),
    "merge": (
        _table_setup,
        lambda spark, fs, root: _table(spark, fs, root).merge(
            spark.createDataFrame([(1, "x", False), (2, None, True), (50, "y", False)], CHG)
        ),
        _table_state,
    ),
    "rebucket": (
        _table_setup,
        lambda spark, fs, root: _table(spark, fs, root).rebucket(3),
        _table_state,
    ),
    "evolve": (
        _table_setup,
        lambda spark, fs, root: _table(spark, fs, root).evolve({"w": "long"}),
        _table_state,
    ),
    "merge_logged": (
        _tt_setup(1),
        lambda spark, fs, root: _tt(spark, fs, root).merge_logged(
            spark.createDataFrame([(1, "z", False), (2, None, True)], CHG)
        ),
        _tt_state,
    ),
    "compact_log": (
        _tt_setup(2),
        lambda spark, fs, root: _tt(spark, fs, root).compact_log(1),
        _tt_state,
    ),
    "purge_keys": (
        _tt_setup(1),
        lambda spark, fs, root: purge_keys(
            _tt(spark, fs, root), spark.createDataFrame([(1,), (3,)], "id long")
        ),
        _tt_state,
    ),
    "txn_buffer_write": (_buffer_write(2), _buffer_write(3), _buffer_state),
    "signature_append": (
        _sig_setup(1),
        lambda spark, fs, root: SignatureStore(spark, root, fs=fs).append(
            _banded(spark, [10, 11])
        ),
        _sig_state,
    ),
    "signature_compact": (
        _sig_setup(3),
        lambda spark, fs, root: SignatureStore(spark, root, fs=fs).compact(min_files=2),
        _sig_state,
    ),
    "hll_batch": (
        lambda spark, fs, root: _hll_fold(fs, root, _events(spark, [1, 2, 3], 1)),
        lambda spark, fs, root: _hll_fold(fs, root, _events(spark, [3, 4], 2)),
        _sketch_state,
    ),
    "cms_batch": (
        lambda spark, fs, root: _cms_fold(fs, root, _docs(spark, ["a b a"]), 0, "run"),
        lambda spark, fs, root: _cms_fold(fs, root, _docs(spark, ["b c"]), 1, "run"),
        _sketch_state,
    ),
    "ivf_upsert": (
        lambda spark, fs, root: IvfIndex(spark, root, fs=fs).build(
            _vectors(spark, range(16)), k=2
        ),
        lambda spark, fs, root: IvfIndex(spark, root, fs=fs).upsert(
            _vectors(spark, [3, 40, 41], shift=0.5)
        ),
        _ivf_state,
    ),
}


@pytest.mark.parametrize("backend", ["local", "hadoop"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_crash_at_every_fs_call_leaves_old_or_new_state(spark, tmp_path, case, backend):
    setup, op, state = CASES[case]
    if backend == "local":
        fs, uri = LocalFS(), str
    else:
        fs, uri = HadoopFS(spark, "file://" + str(tmp_path)), lambda p: "file://" + str(p)

    old_dir = tmp_path / "old"
    setup(spark, fs, uri(old_dir))
    old = state(spark, fs, uri(old_dir))

    new_dir = tmp_path / "new"
    shutil.copytree(old_dir, new_dir)
    counting = FailingFS(fs)
    op(spark, counting, uri(new_dir))
    new = state(spark, fs, uri(new_dir))
    assert new != old, "the operation under test changed nothing"

    for k in range(1, counting.calls + 1):
        d = tmp_path / f"crash{k}"
        shutil.copytree(old_dir, d)
        with pytest.raises(InjectedFault):
            op(spark, FailingFS(fs, k), uri(d))
        got = state(spark, fs, uri(d))
        assert got in (old, new), f"crash at fs call {k} of {counting.calls}: torn state"
        shutil.rmtree(d)


@pytest.mark.parametrize("failing", ["rename", "delete", "write_text_atomic"])
def test_failed_merge_commit_keeps_every_row(spark, tmp_path, failing):
    """Regression: with the old delete-then-rename bucket swap, a
    1,000-row, 4-bucket table whose ``rename`` failed during a one-row
    update reopened with 737 rows, and replaying the batch never brought
    the rest back. Whichever step of the commit fails, the reopened
    table keeps all 1,000 rows, and the replay applies the update."""

    class Broken(FailingFS):
        def _do(self, name, *args):
            if name == failing:
                raise InjectedFault(name)
            return getattr(self.inner, name)(*args)

    path = str(tmp_path / "st")
    ParquetStateTable(spark, path, ["id"], n_buckets=4).init(
        spark.range(1000).select("id", (F.col("id") * 2).alias("v"))
    )
    update = spark.createDataFrame([(7, -1, False)], "id long, v long, deleted boolean")
    try:
        ParquetStateTable(spark, path, ["id"], fs=Broken(LocalFS())).merge(update)
    except InjectedFault:
        pass
    reopened = ParquetStateTable(spark, path, ["id"])
    assert reopened.read().count() == 1000
    reopened.merge(update)  # the foreachBatch replay
    got = {r["id"]: r["v"] for r in reopened.read().collect()}
    assert len(got) == 1000 and got[7] == -1 and got[8] == 16
