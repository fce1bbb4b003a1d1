"""Filesystem primitives and the staging layer's one commit protocol.

The maintenance ops need metadata primitives (list, rename, recursive
delete, small-file read/write) that the DataFrame API does not expose.
``filesystem_for(path, spark)`` picks the backend:

- ``LocalFS`` for bare paths — POSIX; ``replace`` is ``os.replace``,
  ATOMIC.
- ``HadoopFS`` for URI-schemed paths (hdfs://, s3a://, file://, ...),
  through the Hadoop FileSystem API Spark itself uses; it needs a live
  SparkSession.  ``rename`` is atomic on HDFS and local ``file://``,
  a copy+delete on object stores.  ``replace`` is delete-dst +
  rename-src (the API has no portable overwrite-rename), which opens a
  crash window where the destination is MISSING.

The commit protocol: staged state that is replaced whole — the
``VersionedTable`` manifest and ``IncrementalLoader``'s processed-files
list — is a small JSON file written by ``write_json_replace`` (new
content to ``<path>.tmp``, then replace) and read by
``read_json_replaced`` (which adopts the ``.tmp`` left in the crash
window).  A kill at any point leaves the old or the new content
readable, never an empty or half-written file.  One writer per file at
a time is assumed.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import SparkSession

#: URI-schemed path (s3a://, hdfs://, file://, ...).
URI_SCHEME = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://")


class LocalFS:
    """POSIX primitives — byte-for-byte the pre-round-13 behavior."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def replace(self, src: str, dst: str) -> None:
        os.replace(src, dst)  # atomic

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text(self, path: str, text: str) -> None:
        with open(path, "w") as f:
            f.write(text)


class HadoopFS:
    """Hadoop FileSystem primitives resolved from a base URI.

    One JVM ``FileSystem`` per instance (Hadoop caches them per
    (scheme, authority, ugi) anyway); every path passed to the methods
    must live on the same filesystem as ``base_uri``."""

    def __init__(self, spark: SparkSession, base_uri: str) -> None:
        jvm = spark._jvm
        self._jvm = jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI(base_uri), self._conf
        )

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def isdir(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p)) and bool(
            self._fs.getFileStatus(p).isDirectory()
        )

    def listdir(self, path: str) -> list[str]:
        return [
            st.getPath().getName()
            for st in self._fs.listStatus(self._p(path))
        ]

    def makedirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def rename(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise OSError(f"hadoop rename failed: {src!r} -> {dst!r}")

    def replace(self, src: str, dst: str) -> None:
        """delete-then-rename — NOT atomic (see module docstring);
        ``read_json_replaced`` covers the crash window."""
        dstp = self._p(dst)
        if self._fs.exists(dstp):
            self._fs.delete(dstp, False)
        if not self._fs.rename(self._p(src), dstp):
            raise OSError(f"hadoop rename failed: {src!r} -> {dst!r}")

    def rmtree(self, path: str) -> None:
        p = self._p(path)
        if self._fs.exists(p):
            self._fs.delete(p, True)

    def size(self, path: str) -> int:
        return int(self._fs.getFileStatus(self._p(path)).getLen())

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._p(path))
        try:
            # IOUtils ships with Hadoop on every Spark classpath; it
            # drains the stream fully without py4j byte juggling.
            return str(
                self._jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            )
        finally:
            stream.close()

    def write_text(self, path: str, text: str) -> None:
        out = self._fs.create(self._p(path), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()


def filesystem_for(path: str, spark: SparkSession | None = None):
    """Backend pick: URI-schemed paths need the JVM gateway; bare
    paths keep the POSIX primitives (and need no session)."""
    if URI_SCHEME.match(path):
        if spark is None:
            raise ValueError(
                f"URI path {path!r} needs a live SparkSession for the "
                "Hadoop FileSystem gateway; pass spark="
            )
        return HadoopFS(spark, path)
    return LocalFS()


def write_json_replace(fs, path: str, obj) -> None:
    """Write ``obj`` to ``path`` via the ``.tmp`` + replace protocol:
    atomic on LocalFS; on HadoopFS the crash window leaves ``.tmp``
    holding the NEW content and possibly no ``path`` — read it back
    with ``read_json_replaced``, which adopts the tmp."""
    tmp = path + ".tmp"
    fs.write_text(tmp, json.dumps(obj))
    fs.replace(tmp, path)


def read_json_replaced(fs, path: str, default):
    """Read what ``write_json_replace`` wrote to ``path``; ``default``
    when nothing was ever written."""
    if not fs.exists(path):
        # A HadoopFS replace cut after its delete and before its
        # rename: the .tmp holds the COMPLETE new content (written
        # before the delete), so adopt it.  A stray .tmp next to a live
        # ``path`` is pre-replace debris, ignored because ``path``
        # exists.
        tmp = path + ".tmp"
        if not fs.exists(tmp):
            # TOCTOU: between the two exists() checks a CONCURRENT
            # reader may have adopted the tmp — ``path`` exists again
            # and "no tmp" must not be read as "nothing written".
            # Re-check before concluding emptiness.
            if fs.exists(path):
                return json.loads(fs.read_text(path))
            return default
        try:
            fs.rename(tmp, path)
        except Exception:
            # Two readers can race the adoption (the loser's rename
            # fails once the winner consumed the .tmp), and a read-only
            # reader may lack write permission.  Either way the CONTENT
            # is still reachable: re-check ``path`` (the winner's
            # rename landed) and fall back to reading the .tmp directly
            # without mutating.
            if not fs.exists(path):
                if fs.exists(tmp):
                    return json.loads(fs.read_text(tmp))
                return default
    return json.loads(fs.read_text(path))
