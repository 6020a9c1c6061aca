"""Time travel: as_of(seq) must equal the state right after batch seq."""

from __future__ import annotations

import pytest

from spark_streaming_with_debezium_spark.cdc.timetravel import TimeTravelStateTable


def _rows(df):
    return sorted((r.id, r.v) for r in df.collect())


def test_as_of_reconstruction(spark, tmp_path):
    t = TimeTravelStateTable(spark, str(tmp_path / "tt"), ["id"], n_buckets=4)
    t.init(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))

    live_after = {0: _rows(t.read())}
    b1 = spark.createDataFrame(
        [(2, "b2", False), (3, "c", False)], "id long, v string, deleted boolean"
    )
    t.merge_logged(b1)
    live_after[1] = _rows(t.read())

    b2 = spark.createDataFrame(
        [(1, None, True), (3, "c3", False), (4, "d", False)],
        "id long, v string, deleted boolean",
    )
    t.merge_logged(b2)
    live_after[2] = _rows(t.read())

    assert live_after[1] == [(1, "a"), (2, "b2"), (3, "c")]
    assert live_after[2] == [(2, "b2"), (3, "c3"), (4, "d")]
    for seq in (0, 1, 2):
        assert _rows(t.as_of(seq)) == live_after[seq], f"as_of({seq})"


def test_reopen_recovers_sequence(spark, tmp_path):
    """Reopening an existing table path must resume _batch_seq from the
    durable log — a restarted counter would append under already-used
    partitions and corrupt both replay and as_of."""
    path = str(tmp_path / "tt")
    t = TimeTravelStateTable(spark, path, ["id"], n_buckets=4)
    t.init(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.merge_logged(
        spark.createDataFrame([(1, "a1", False)], "id long, v string, deleted boolean")
    )
    t.merge_logged(
        spark.createDataFrame([(2, "b", False)], "id long, v string, deleted boolean")
    )
    expect_after2 = _rows(t.read())

    reopened = TimeTravelStateTable(spark, path, ["id"], n_buckets=4)
    seq = reopened.merge_logged(
        spark.createDataFrame([(3, "c", False)], "id long, v string, deleted boolean")
    )
    assert seq == 3, "sequence must continue from the logged max"
    assert _rows(reopened.as_of(2)) == expect_after2
    assert _rows(reopened.as_of(3)) == _rows(reopened.read())


def test_as_of_respects_data_cols(spark, tmp_path):
    """Column-subset merges (the balance-only CDC pattern) must replay
    with the same subset: as_of must not clobber untouched columns."""
    path = str(tmp_path / "tt")
    t = TimeTravelStateTable(spark, path, ["id"], n_buckets=4)
    t.init(
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "id long, v string, bal int")
    )
    t.merge_logged(
        spark.createDataFrame(
            [(1, None, 11, False)], "id long, v string, bal int, deleted boolean"
        ),
        data_cols=["bal"],
    )
    live = sorted((r.id, r.v, r.bal) for r in t.read().collect())
    assert live == [(1, "a", 11), (2, "b", 20)]
    asof = sorted((r.id, r.v, r.bal) for r in t.as_of(1).collect())
    assert asof == live, "as_of must apply the same data_cols subset"
    # and the subset survives a reopen
    reopened = TimeTravelStateTable(spark, path, ["id"], n_buckets=4)
    asof2 = sorted((r.id, r.v, r.bal) for r in reopened.as_of(1).collect())
    assert asof2 == live


def test_as_of_key_churn(spark, tmp_path):
    """A key deleted then re-inserted across batches reconstructs
    correctly at every point."""
    t = TimeTravelStateTable(spark, str(tmp_path / "tt"), ["id"], n_buckets=4)
    t.init(spark.createDataFrame([(7, "x")], "id long, v string"))
    t.merge_logged(
        spark.createDataFrame([(7, None, True)], "id long, v string, deleted boolean")
    )
    t.merge_logged(
        spark.createDataFrame([(7, "y", False)], "id long, v string, deleted boolean")
    )
    assert _rows(t.as_of(0)) == [(7, "x")]
    assert _rows(t.as_of(1)) == []
    assert _rows(t.as_of(2)) == [(7, "y")] == _rows(t.read())


def test_reinit_purges_stale_log(spark, tmp_path):
    """init() on a pre-existing path must purge log/ — otherwise the
    next merge appends into an already-used _batch_seq partition and
    as_of reads old+new rows as one corrupted batch (and _recover_seq
    would resume from the stale max on reopen)."""
    path = str(tmp_path / "tt")
    t = TimeTravelStateTable(spark, path, ["id"], n_buckets=4)
    t.init(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.merge_logged(
        spark.createDataFrame([(1, "old1", False)], "id long, v string, deleted boolean")
    )
    t.merge_logged(
        spark.createDataFrame([(2, "old2", False)], "id long, v string, deleted boolean")
    )

    t.init(spark.createDataFrame([(1, "A")], "id long, v string"))
    seq = t.merge_logged(
        spark.createDataFrame([(2, "new", False)], "id long, v string, deleted boolean")
    )
    assert seq == 1, "sequence must restart after re-init"
    assert _rows(t.as_of(1)) == [(1, "A"), (2, "new")], "stale log rows leaked"
    # reopen: recovered seq must reflect only the post-init log
    reopened = TimeTravelStateTable(spark, path, ["id"], n_buckets=4)
    assert reopened._seq == 1
    assert _rows(reopened.as_of(1)) == [(1, "A"), (2, "new")]


def test_data_cols_mixing_rejected(spark, tmp_path):
    """Mixing full-row and subset merges diverges as_of replay in BOTH
    orders — the guard must reject both, not just subset-vs-subset."""
    chg = "id long, v string, bal int, deleted boolean"
    # subset first, then full-row
    t = TimeTravelStateTable(spark, str(tmp_path / "a"), ["id"], n_buckets=4)
    t.init(spark.createDataFrame([(1, "a", 10)], "id long, v string, bal int"))
    t.merge_logged(spark.createDataFrame([(1, None, 11, False)], chg), data_cols=["bal"])
    with pytest.raises(ValueError, match="full-row merge after subset"):
        t.merge_logged(spark.createDataFrame([(1, "x", 12, False)], chg))
    # full-row first, then subset
    t2 = TimeTravelStateTable(spark, str(tmp_path / "b"), ["id"], n_buckets=4)
    t2.init(spark.createDataFrame([(1, "a", 10)], "id long, v string, bal int"))
    t2.merge_logged(spark.createDataFrame([(1, "x", 12, False)], chg))
    with pytest.raises(ValueError, match="subset merge .* after full-row"):
        t2.merge_logged(
            spark.createDataFrame([(1, None, 13, False)], chg), data_cols=["bal"]
        )


def test_compact_log_retention(spark, tmp_path):
    """compact_log folds a log prefix into the snapshot: as_of for
    retained seqs is unchanged (including after a reopen), pre-horizon
    seqs raise, the sequence counter survives even when every log
    partition is dropped, and new merges continue correctly."""
    path = str(tmp_path / "tt")
    t = TimeTravelStateTable(spark, path, ["id"], n_buckets=4)
    t.init(spark.createDataFrame([(1, "a")], "id long, v string"))
    chg = "id long, v string, deleted boolean"
    t.merge_logged(spark.createDataFrame([(2, "b", False)], chg))
    t.merge_logged(spark.createDataFrame([(1, None, True)], chg))
    t.merge_logged(spark.createDataFrame([(3, "c", False)], chg))
    expect = {s: _rows(t.as_of(s)) for s in (2, 3)}

    dropped = t.compact_log(2)
    assert dropped == 2, "partitions 1 and 2 must be dropped"
    assert _rows(t.as_of(2)) == expect[2], "horizon seq must still serve"
    assert _rows(t.as_of(3)) == expect[3] == _rows(t.read())
    with pytest.raises(ValueError, match="retention horizon"):
        t.as_of(1)

    # reopen: base + counter recovered from durable files
    re = TimeTravelStateTable(spark, path, ["id"], n_buckets=4)
    assert re._seq == 3 and re._base_seq == 2
    assert _rows(re.as_of(3)) == expect[3]

    # fold EVERYTHING away: counter must not reset to 0 on reopen
    re.compact_log(3)
    re2 = TimeTravelStateTable(spark, path, ["id"], n_buckets=4)
    assert re2._seq == 3 and re2._base_seq == 3
    seq = re2.merge_logged(spark.createDataFrame([(4, "d", False)], chg))
    assert seq == 4
    assert _rows(re2.as_of(4)) == [(2, "b"), (3, "c"), (4, "d")] == _rows(re2.read())


def test_changes_between_versions(spark, tmp_path):
    """Change feed between two retained versions: inserts/updates carry
    the new image, deletes the old; unchanged keys are absent; the feed
    applied to version A reproduces version B."""
    from spark_streaming_with_debezium_spark.cdc.timetravel import (
        changes_between,
    )

    t = TimeTravelStateTable(spark, str(tmp_path / "tt"), ["id"], n_buckets=4)
    t.init(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    t.merge_logged(
        spark.createDataFrame(
            [(2, "b2", False), (3, "c", False)],
            "id long, v string, deleted boolean",
        )
    )
    t.merge_logged(
        spark.createDataFrame(
            [(1, None, True), (3, "c3", False), (4, "d", False)],
            "id long, v string, deleted boolean",
        )
    )
    got = sorted(
        (r.id, r.v, r._change_type)
        for r in changes_between(t, 0, 2).collect()
    )
    assert got == [
        (1, "a", "delete"),
        (2, "b2", "update"),
        (3, "c3", "insert"),
        (4, "d", "insert"),
    ]
    # feed(0→1) then feed(1→2) composes to the same final state
    f01 = sorted((r.id, r.v, r._change_type) for r in changes_between(t, 0, 1).collect())
    assert f01 == [(2, "b2", "update"), (3, "c", "insert")]
    f12 = sorted((r.id, r.v, r._change_type) for r in changes_between(t, 1, 2).collect())
    assert f12 == [(1, "a", "delete"), (3, "c3", "update"), (4, "d", "insert")]
    # identity: no changes between a version and itself
    assert changes_between(t, 2, 2).count() == 0


def test_purge_keys_scrubs_history(spark, tmp_path):
    """After purge, the key is gone from read(), EVERY as_of version,
    and the change feed; other keys' history is untouched; re-running
    the purge is a no-op."""
    from spark_streaming_with_debezium_spark.cdc.timetravel import (
        changes_between,
        purge_keys,
    )

    t = TimeTravelStateTable(spark, str(tmp_path / "tt"), ["id"], n_buckets=4)
    t.init(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    t.merge_logged(
        spark.createDataFrame(
            [(1, "a2", False), (3, "c", False)],
            "id long, v string, deleted boolean",
        )
    )
    keys = spark.createDataFrame([(1,)], "id long")
    dropped = purge_keys(t, keys)
    assert dropped["snapshot"] == 1 and dropped["log"] == 1
    assert dropped["current"] == 1
    for seq in (0, 1):
        ids = {r.id for r in t.as_of(seq).collect()}
        assert 1 not in ids, seq
    assert {r.id for r in t.read().collect()} == {2, 3}
    assert _rows(t.as_of(1)) == [(2, "b"), (3, "c")]
    feed = {(r.id, r._change_type) for r in changes_between(t, 0, 1).collect()}
    assert feed == {(3, "insert")}
    # idempotent re-run
    dropped2 = purge_keys(t, keys)
    assert dropped2 == {"snapshot": 0, "log": 0, "current": 0}
    # a reopened table still recovers sequence + serves purged history
    t2 = TimeTravelStateTable(spark, str(tmp_path / "tt"), ["id"], n_buckets=4)
    assert _rows(t2.as_of(1)) == [(2, "b"), (3, "c")]
