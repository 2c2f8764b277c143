"""Warehouse metadata IO through the Hadoop FileSystem API.

The reference daemons talk to database servers, so "does the target
exist" is a SQL probe (es/es_to_bytehouse.py:1008-1018 DESCRIBE column
cache; clickhouse/clickhouse_to_bytehouse.py:169-177 EXISTS TABLE). Our
warehouse target is a directory of parquet tables; the naive translation
is driver-local ``os.*`` calls — which silently pins the warehouse to a
POSIX path visible to the driver. At 100 TB the warehouse lives on
``s3a://`` / ``hdfs://``, so every existence / listing / metadata read
must go through Hadoop's ``FileSystem`` abstraction instead (the same
layer Spark's own writers use). These helpers wrap the JVM API via py4j;
they accept any Hadoop-compatible URI, including bare local paths (which
resolve against the default ``file://`` filesystem).

All calls here are driver-side METADATA operations (exists / list /
read+write a tiny JSON or state file) — O(1) per sync round, never
data-path.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p)) and bool(fs.getFileStatus(p).isDirectory())


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, p = _fs_path(spark, path)
    fs.mkdirs(p)


def listdir(spark: SparkSession, path: str) -> list[str]:
    """Child names (not full paths) of a directory; [] if absent."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return []
    return [s.getPath().getName() for s in fs.listStatus(p)]


def has_glob(spark: SparkSession, pattern: str) -> bool:
    """True if any path matches the Hadoop glob (e.g. ``dir/*.parquet``)."""
    fs, p = _fs_path(spark, pattern)
    matches = fs.globStatus(p)
    return matches is not None and len(matches) > 0


def read_bytes(spark: SparkSession, path: str) -> bytes:
    fs, p = _fs_path(spark, path)
    stream = fs.open(p)
    try:
        # commons-io ships on every Spark classpath
        return spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()


def read_text(spark: SparkSession, path: str) -> str:
    return read_bytes(spark, path).decode("utf-8")


def write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Create-or-overwrite a small metadata file (single RPC on object
    stores; no POSIX assumptions)."""
    fs, p = _fs_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def write_text(spark: SparkSession, path: str, text: str) -> None:
    write_bytes(spark, path, text.encode("utf-8"))


def join(*parts: str) -> str:
    """URI-safe path join (``os.path.join`` breaks on ``s3a://`` under
    Windows-style separators; Hadoop paths are always ``/``-separated)."""
    head, *rest = parts
    out = head.rstrip("/")
    for r in rest:
        out += "/" + r.strip("/")
    return out


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Atomic-per-filesystem directory rename (the swap primitive for
    compaction). Hadoop's contract: atomic on HDFS and local FS;
    copy-based (non-atomic) on raw S3A — use a consistent store or a
    table format for multi-writer S3 swaps."""
    fs, p_src = _fs_path(spark, src)
    _, p_dst = _fs_path(spark, dst)
    return bool(fs.rename(p_src, p_dst))


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, recursive))


def content_size(spark: SparkSession, path: str) -> int:
    """Total bytes under a path (one NameNode/liststatus summary call —
    metadata, not a data scan)."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return 0
    return int(fs.getContentSummary(p).getLength())
