"""The one storage layer for run bookkeeping: manifests, lineage
records, markers, sidecar metadata and the day-N state publish go
through the Hadoop ``FileSystem`` of their path, as Spark's parquet
I/O does, so they land beside the table on ``file://``, ``hdfs://`` or
``s3a://``. The only module that names ``org.apache.hadoop.fs``."""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession


def _rename(fs, src, dst) -> None:
    # Hadoop FileSystem.rename reports failure by returning False,
    # not by raising
    if not fs.rename(src, dst):
        raise RuntimeError(f"rename {src} -> {dst} failed")


def recover_state(fs, jpath, jold) -> bool:
    """True when hash state is live at ``jpath``, after recovering it
    from the aside copy ``jold`` if a crash landed between the publish
    renames (live state moved aside, new state not yet renamed in) —
    so the run stays incremental instead of silently re-extracting
    the full corpus."""
    if fs.exists(jpath):
        return True
    if fs.exists(jold):
        _rename(fs, jold, jpath)
        return True
    return False


def publish_state(fs, jtmp, jpath, jold) -> None:
    """Two-rename publish of the state written at ``jtmp``, never
    delete-then-rename: the live state is moved ASIDE to ``jold`` (not
    deleted) before the new state renames in, so no crash or failed
    rename loses state entirely — a failure between the renames leaves
    the complete aside copy, which :func:`recover_state` brings back.
    The aside is removed only once the new state is live."""
    if fs.exists(jold):
        fs.delete(jold, True)  # leftover aside from a prior crash
    if fs.exists(jpath):
        _rename(fs, jpath, jold)
    _rename(fs, jtmp, jpath)
    if fs.exists(jpath) and fs.exists(jold):
        fs.delete(jold, True)


class FileStore:
    """The ``FileSystem`` behind ``path`` (``spark``: the active session
    by default). Every path given to a method must be on it."""

    def __init__(self, path: str, spark: SparkSession | None = None):
        spark = spark or SparkSession.active()
        # resolved once, as each JVM lookup is a py4j call; path(str) -> Path
        self.path = spark._jvm.org.apache.hadoop.fs.Path
        self._read_all = spark._jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray
        fs = self.path(path).getFileSystem(spark._jsc.hadoopConfiguration())
        # local disk: no checksum layer, whose ``.crc`` doubles each create
        # (without Hadoop's native library, every create forks a chmod)
        checksummed = spark._jvm.org.apache.hadoop.fs.ChecksumFileSystem._java_lang_class
        self.fs = fs.getRawFileSystem() if checksummed.isInstance(fs) else fs

    def qualify(self, path: str) -> str:
        """``path`` as its file system names it: scheme and authority
        added, a relative path made absolute against the working
        directory, trailing slashes dropped; on local disk symlinks are
        resolved too, so two names of one directory compare equal."""
        uri = self.fs.makeQualified(self.path(path)).toUri()
        if uri.getScheme() == "file":
            return "file:" + os.path.realpath(uri.getPath())
        return uri.toString()

    def exists(self, path: str) -> bool:
        return self.fs.exists(self.path(path))

    def read_json(self, path: str):
        stream = self.fs.open(self.path(path))
        try:
            return json.loads(bytes(self._read_all(stream)))
        finally:
            stream.close()

    def write_json(self, path: str, obj, indent: int | None = None) -> None:
        """Write beside ``path``, then rename over it: readers see the
        whole file or none. Parent directories are created. HDFS's
        rename never replaces a file, so ``path`` is deleted first."""
        dst, tmp = self.path(path), self.path(path + ".tmp")
        stream = self.fs.create(tmp, True)
        try:
            stream.write(bytearray(json.dumps(obj, indent=indent).encode()))
        finally:
            stream.close()
        self.fs.delete(dst, False)
        _rename(self.fs, tmp, dst)

    def delete(self, path: str) -> None:
        """Recursive; a missing ``path`` is not an error."""
        self.fs.delete(self.path(path), True)

    def _ls(self, path: str) -> list:
        return list(self.fs.listStatus(self.path(path))) if self.exists(path) else []

    def list_dirs(self, path: str) -> list[str]:
        """Sorted subdirectory names ([] when ``path`` is missing)."""
        return sorted(s.getPath().getName() for s in self._ls(path) if s.isDirectory())

    def list_files(self, path: str) -> dict[str, int]:
        """File name -> bytes ({} when ``path`` is missing)."""
        return {s.getPath().getName(): s.getLen() for s in self._ls(path) if s.isFile()}
