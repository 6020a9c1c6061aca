"""StateFS abstraction: both backends behave identically, and the
manifest commit of every state store runs end-to-end through the Hadoop
FileSystem client (``file://`` scheme) — the proof that the state layer
is not bound to POSIX ``os.*`` calls and would execute against
hdfs:// / s3a:// paths unchanged."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_streaming_with_debezium_spark.cdc.merge import ParquetStateTable
from spark_streaming_with_debezium_spark.storage.fs import (
    HadoopFS,
    LocalFS,
    fs_for_path,
)
from spark_streaming_with_debezium_spark.storage.manifest import Manifest


def _backends(spark, tmp_path):
    return [
        (LocalFS(), str(tmp_path / "local")),
        (HadoopFS(spark, "file://" + str(tmp_path)), "file://" + str(tmp_path / "hadoop")),
    ]


def test_fs_ops_equivalent(spark, tmp_path):
    for fs, root in _backends(spark, tmp_path):
        fs.mkdirs(root + "/sub")
        assert fs.exists(root) and fs.isdir(root + "/sub")
        assert not fs.exists(root + "/nope")
        assert fs.listdir(root + "/nope") == []

        fs.write_text_atomic(root + "/meta.json", '{"n": 16}')
        assert fs.read_text(root + "/meta.json") == '{"n": 16}'
        fs.write_text_atomic(root + "/meta.json", '{"n": 32}')  # replace
        assert fs.read_text(root + "/meta.json") == '{"n": 32}'
        # no tmp residue from the atomic write protocol
        assert sorted(fs.listdir(root)) == ["meta.json", "sub"]

        fs.rename(root + "/sub", root + "/sub2")
        assert fs.isdir(root + "/sub2") and not fs.exists(root + "/sub")
        # rename onto an existing target must fail on BOTH backends
        fs.mkdirs(root + "/sub3")
        with pytest.raises(Exception):
            fs.rename(root + "/sub2", root + "/sub3")

        fs.delete(root + "/sub2")
        assert not fs.exists(root + "/sub2")
        fs.delete(root + "/sub2")  # idempotent


def test_fs_for_path_scheme_routing(spark, tmp_path):
    assert isinstance(fs_for_path(spark, str(tmp_path)), LocalFS)
    assert isinstance(fs_for_path(spark, "file://" + str(tmp_path)), HadoopFS)


def test_state_table_lifecycle_on_hadoop_fs(spark, tmp_path):
    """The full ParquetStateTable protocol — init, merge
    (update/delete/insert rewriting the touched buckets), evolve,
    rebucket with a stale reader, empty re-init — against a
    ``file://`` URI, i.e. entirely through the Hadoop FileSystem
    client."""
    path = "file://" + str(tmp_path / "state")
    st = ParquetStateTable(spark, path, ["id"], n_buckets=8)
    assert isinstance(st.fs, HadoopFS)

    st.init(
        spark.range(100).select("id", (F.col("id") * 2).alias("v"))
    )
    assert st.read().count() == 100

    st.merge(
        spark.createDataFrame(
            [(5, 999, False), (6, None, True), (200, 42, False)],
            "id long, v long, deleted boolean",
        )
    )
    got = {r["id"]: r["v"] for r in st.read().collect()}
    assert got[5] == 999 and 6 not in got and got[200] == 42
    assert len(got) == 100  # 100 - 1 delete + 1 insert
    # no scratch residue next to the table
    parent_entries = st.fs.listdir("file://" + str(tmp_path))
    assert not any("tmp" in e for e in parent_entries)

    st.evolve({"w": "long"})
    assert {r["id"]: r["w"] for r in st.read().collect()}[5] is None

    st.rebucket(16)
    stale = ParquetStateTable(spark, path, ["id"], n_buckets=8)
    assert stale.n_buckets == 16
    stale.merge(
        spark.createDataFrame(
            [(7, 777, 1, False)], "id long, v long, w long, deleted boolean"
        )
    )
    got = {r["id"]: (r["v"], r["w"]) for r in stale.read().collect()}
    assert got[7] == (777, 1) and len(got) == 100

    # one manifest and the live data directories, nothing else
    m = Manifest.open(st.fs, path)
    assert m.meta["n_buckets"] == 16
    live = {rel.split("/")[0] for rel in m.entries.values()}
    assert set(st.fs.listdir(path)) == live | {f"_manifest.{m.version}.json"}

    st.init(spark.createDataFrame([], "id long, v long, w long"))
    assert st.read().count() == 0
    reader = ParquetStateTable(spark, path, ["id"], n_buckets=4)
    assert reader.n_buckets == 16  # meta survived the empty re-init


def test_timetravel_and_txn_buffer_on_hadoop_fs(spark, tmp_path):
    """The other stores on the same manifest commit — time-travel log
    fold and the transaction buffer — also run fully through the Hadoop
    client."""
    from spark_streaming_with_debezium_spark.cdc.timetravel import (
        TimeTravelStateTable,
    )
    from spark_streaming_with_debezium_spark.cdc.transactions import TxnBuffer

    tt = TimeTravelStateTable(
        spark, "file://" + str(tmp_path / "tt"), ["id"], n_buckets=4
    )
    assert isinstance(tt.fs, HadoopFS)
    tt.init(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    tt.merge_logged(
        spark.createDataFrame([(1, "a2", False)], "id long, v string, deleted boolean")
    )
    tt.merge_logged(
        spark.createDataFrame([(2, None, True)], "id long, v string, deleted boolean")
    )
    assert {r["id"]: r["v"] for r in tt.read().collect()} == {1: "a2"}
    assert {r["id"]: r["v"] for r in tt.as_of(1).collect()} == {1: "a2", 2: "b"}
    assert tt.compact_log(1) == 1
    assert {r["id"]: r["v"] for r in tt.as_of(1).collect()} == {1: "a2", 2: "b"}
    # reopen: sequence and base recovered through the Hadoop listing
    tt2 = TimeTravelStateTable(
        spark, "file://" + str(tmp_path / "tt"), ["id"], n_buckets=4
    )
    assert tt2._seq == 2 and tt2._base_seq == 1

    buf = TxnBuffer(spark, "file://" + str(tmp_path / "txn"))
    assert isinstance(buf.fs, HadoopFS)
    ev = spark.createDataFrame(
        [("t", "k", "v", 0, 1, "tx1")],
        "topic string, key string, value string, partition int, offset long, txn_id string",
    )
    ends = spark.createDataFrame([("tx1", 2)], "txn_id string, event_count long")
    applied = spark.createDataFrame([], "txn_id string, applied_batch long")
    buf.write(ev, ends, applied)
    e2, n2, a2 = buf.read()
    assert e2.count() == 1 and n2.count() == 1 and a2.count() == 0
    buf.write(e2.limit(0), n2.limit(0), applied)  # version 1 supersedes
    e3, n3, _ = buf.read()
    assert e3.count() == 0 and n3.count() == 0
