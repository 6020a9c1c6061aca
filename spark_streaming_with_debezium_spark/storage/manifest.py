"""One commit protocol for every durable store: immutable data
directories named by a versioned manifest.

A store is a root directory holding

- data directories, each written once (by one Spark write) and never
  renamed, overwritten or appended to afterwards;
- ``_manifest.<version>.json`` files. A manifest maps the store's
  entry names (``bucket/17``, ``log/4``, ``cell/3`` …) to the data
  directories that hold them, relative to the root, and carries the
  store's small metadata (schema, bucket count, sequence numbers,
  exactly-once fences).

:meth:`Manifest.commit` makes new data directories durable, publishes
the next manifest under a NEW name (a published manifest is never
overwritten), then deletes everything under the root that the new
manifest does not name: superseded directories, older manifests and
whatever a crashed commit left behind. Readers open the newest manifest
and read only what it names, by path (a read of up to 256 directories
is listed on the driver, see ``session.get_spark``). A crash at any
step therefore leaves the old state or the new one, and opening a store
recovers nothing. This is the atomic per-batch output commit Structured
Streaming's exactly-once sinks need, and what Delta's transaction log
gives the reference (`StreamingJobExecutor.scala:47-61`), on plain
parquet and through the eight :class:`StateFS` calls only.

Entries name a top-level directory (``log-v4``) or one directory inside
it (``data-v9/_bucket=17``, the partition directories a Spark
``partitionBy`` write produces); garbage collection understands both.
A single writer per store is assumed, as for every foreachBatch sink.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from spark_streaming_with_debezium_spark.storage.fs import LocalFS, StateFS

_PREFIX, _SUFFIX = "_manifest.", ".json"


def _fsync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


@dataclass(frozen=True)
class Manifest:
    """One committed version of a store rooted at ``root``.

    ``version`` 0 with no entries and no metadata is a store nothing
    was ever committed to."""

    fs: StateFS
    root: str
    version: int = 0
    entries: dict[str, str] = field(default_factory=dict)
    meta: dict = field(default_factory=dict)

    @classmethod
    def open(cls, fs: StateFS, root: str) -> Manifest:
        """The newest published version (``write_text_atomic`` makes a
        manifest absent or complete, so the newest one present is
        complete)."""
        versions = [
            int(n[len(_PREFIX):-len(_SUFFIX)])
            for n in fs.listdir(root)
            if n.startswith(_PREFIX) and n.endswith(_SUFFIX)
        ]
        if not versions:
            return cls(fs, root)
        version = max(versions)
        doc = json.loads(fs.read_text(os.path.join(root, _name(version))))
        return cls(fs, root, version, doc["entries"], doc["meta"])

    def path(self, name: str) -> str:
        return os.path.join(self.root, self.entries[name])

    def named(self, prefix: str) -> dict[str, str]:
        """``{name without prefix: absolute path}`` of the entries under
        ``prefix``."""
        return {
            k[len(prefix):]: self.path(k) for k in self.entries if k.startswith(prefix)
        }

    def new_dir(self, tag: str) -> str:
        """A path for data the next commit publishes. Its name carries
        the next version, so it never collides with a live directory; a
        leftover from a crashed attempt at the same version is replaced
        by the ``mode("overwrite")`` write that reuses the name."""
        return os.path.join(self.root, f"{tag}-v{self.version + 1}")

    def write_partitioned(self, df, tag: str, col: str) -> dict[str, str]:
        """Write the Spark DataFrame ``df`` partitioned by ``col`` into a
        new directory; returns ``{value of col: directory}`` of each
        partition written (an empty one writes no directory). Each task
        writes one file per value it holds, so ``df`` hash-partitioned
        on ``col`` gives one file per directory whatever its task count."""
        out = self.new_dir(tag)
        df.write.mode("overwrite").partitionBy(col).parquet(out)
        return {
            d.split("=", 1)[1]: os.path.join(out, d)
            for d in self.fs.listdir(out)
            if d.startswith(f"{col}=")
        }

    def commit(self, entries: dict[str, str | None], **meta) -> None:
        """Publish the next version: this one's entries updated by
        ``entries`` (absolute paths under the root; ``None`` drops the
        entry) and its metadata updated by ``meta``."""
        prefix = os.path.join(self.root, "")
        names = dict(self.entries)
        for name, p in entries.items():
            if p is None:
                names.pop(name, None)
            else:
                assert p.startswith(prefix), f"{p} is outside store {self.root}"
                names[name] = p[len(prefix):]
        nxt = Manifest(self.fs, self.root, self.version + 1, names, {**self.meta, **meta})
        old = {rel.split("/")[0] for rel in self.entries.values()}
        fresh = {rel.split("/")[0] for rel in names.values()} - old
        if fresh and isinstance(self.fs, LocalFS):
            # Spark's local parquet writes are not fsynced: make the new
            # data durable BEFORE a manifest names it. (On HDFS or an
            # object store, closing the output stream is the barrier.)
            for top in fresh:
                for dirpath, _dirnames, files in os.walk(os.path.join(self.root, top)):
                    for f in files:
                        _fsync(os.path.join(dirpath, f))
                    _fsync(dirpath)
            _fsync(self.root)
        if self.version == 0:
            self.fs.mkdirs(self.root)
        self.fs.write_text_atomic(
            os.path.join(self.root, _name(nxt.version)),
            json.dumps({"entries": names, "meta": nxt.meta}, sort_keys=True),
        )
        nxt._collect()

    def _collect(self) -> None:
        """Delete everything under the root this version does not name."""
        live: dict[str, set[str]] = {}
        for rel in self.entries.values():
            top, _, sub = rel.partition("/")
            live.setdefault(top, set()).add(sub)
        for child in self.fs.listdir(self.root):
            subs = live.get(child)
            if child == _name(self.version) or (subs is not None and "" in subs):
                continue
            if subs is None:
                self.fs.delete(os.path.join(self.root, child))
                continue
            for sub in self.fs.listdir(os.path.join(self.root, child)):
                if sub not in subs:
                    self.fs.delete(os.path.join(self.root, child, sub))


def _name(version: int) -> str:
    return f"{_PREFIX}{version}{_SUFFIX}"
