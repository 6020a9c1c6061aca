"""Filesystem abstraction for the durable-state layer.

Every durable store commits through one protocol,
:class:`~spark_streaming_with_debezium_spark.storage.manifest.Manifest`:
write new immutable data directories, publish the next manifest under a
new name, delete what it no longer names. That protocol is
storage-agnostic, but expressing it with ``os.listdir``/``os.replace``
would bind it to a POSIX mount — the reference's target store is HDFS
(`StreamingJobExecutor.scala:18`), and a 100 TB deployment lands on HDFS
or an object store, not ext4.

This module lifts the file operations behind :class:`StateFS` with two
implementations:

- :class:`LocalFS` — ``os``/``shutil``, with fsync'd atomic text
  writes. Used for bare local paths (every test default, and the
  fastest path on a laptop).
- :class:`HadoopFS` — Spark's JVM Hadoop ``FileSystem`` client, so the
  SAME protocol runs against any scheme the cluster's Hadoop conf
  knows: ``hdfs://``, ``s3a://``, ``gs://``, ``abfss://``, and
  ``file://`` (which is how the test suite exercises this backend
  without a cluster).

:func:`fs_for_path` picks the backend by URI scheme, so a state table
constructed on ``s3a://bucket/state/orders`` just works.

Semantics the manifest commit relies on:

- ``write_text_atomic`` publishes a file that readers see absent or
  complete, never torn. The manifest never overwrites a published file
  (each version gets a new name), so the non-atomic replace of
  ``HadoopFS.write_text_atomic`` (delete, then rename) is never on the
  commit path; on S3A the create itself is an atomic PUT.
- The commit renames no directory, so it needs no atomic directory
  rename: it runs unchanged on object stores whose rename is a copy.
- Hadoop ``rename(src, dst)`` fails when ``dst`` exists (POSIX
  overwrites); ``rename`` here raises on failure on both backends.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import SparkSession


class StateFS:
    """Minimal filesystem surface the state-store commit protocols use."""

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def isdir(self, path: str) -> bool:
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        """Child names (not paths) of a directory; [] if it doesn't exist."""
        raise NotImplementedError

    def mkdirs(self, path: str) -> None:
        raise NotImplementedError

    def delete(self, path: str) -> None:
        """Recursive delete; no-op if the path doesn't exist."""
        raise NotImplementedError

    def rename(self, src: str, dst: str) -> None:
        """Move ``src`` to ``dst``. ``dst`` must not exist (delete it
        first to replace); raises on failure on both backends."""
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        raise NotImplementedError

    def write_text_atomic(self, path: str, text: str) -> None:
        """Durably publish ``text`` at ``path``: readers see the old
        content or the new, never a torn file."""
        raise NotImplementedError


class LocalFS(StateFS):
    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        if not os.path.isdir(path):
            return []
        return os.listdir(path)

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def delete(self, path: str) -> None:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)

    def rename(self, src: str, dst: str) -> None:
        if os.path.exists(dst):
            raise FileExistsError(f"rename target exists: {dst}")
        os.rename(src, dst)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text_atomic(self, path: str, text: str) -> None:
        # write → fsync → rename → fsync(dir): the file is either absent
        # or complete at every instant, and the rename itself is durable.
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)


class HadoopFS(StateFS):
    """StateFS over the JVM Hadoop FileSystem client (works for every
    scheme the session's Hadoop configuration can resolve)."""

    def __init__(self, spark: SparkSession, base_path: str):
        self._jvm = spark._jvm
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(base_path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def _p(self, path: str):
        return self._Path(path)

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def isdir(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p)) and bool(
            self._fs.getFileStatus(p).isDirectory()
        )

    def listdir(self, path: str) -> list[str]:
        if not self.exists(path):
            return []
        return [
            st.getPath().getName() for st in self._fs.listStatus(self._p(path))
        ]

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def delete(self, path: str) -> None:
        p = self._p(path)
        if self._fs.exists(p):
            self._fs.delete(p, True)

    def rename(self, src: str, dst: str) -> None:
        # Hadoop rename onto an existing DIRECTORY moves src INTO it
        # (mv semantics) — reject up front so both backends share the
        # strict "dst must not exist" contract the protocols rely on.
        if self.exists(dst):
            raise FileExistsError(f"rename target exists: {dst}")
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise OSError(f"hadoop rename failed: {src} -> {dst}")

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._p(path))
        try:
            baos = self._jvm.java.io.ByteArrayOutputStream()
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                stream, baos, 4096, False
            )
            return baos.toString("UTF-8")
        finally:
            stream.close()

    def write_text_atomic(self, path: str, text: str) -> None:
        # tmp → hflush/close → delete old → rename. Atomic on HDFS
        # (rename); on S3A the create itself is an atomic PUT, so the
        # tmp+rename only adds an absent-window, never a torn file.
        tmp = path + ".tmp"
        out = self._fs.create(self._p(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
            out.hflush()
        finally:
            out.close()
        self.delete(path)
        self.rename(tmp, path)


def fs_for_path(spark: SparkSession, path: str) -> StateFS:
    """Backend by URI scheme: bare local paths → :class:`LocalFS`;
    any scheme (``file://``, ``hdfs://``, ``s3a://``, …) →
    :class:`HadoopFS`."""
    if urlparse(path).scheme:
        return HadoopFS(spark, path)
    return LocalFS()
