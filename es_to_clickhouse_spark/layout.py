"""Data layout: small-file compaction."""

from __future__ import annotations

from pyspark.sql import DataFrame


def compact(
    df: DataFrame,
    dest_path: str,
    target_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Small-file compaction: rewrite ``df``'s files bin-packed to
    ~``target_bytes`` each (the micro-batch sink's 1000-row appends are
    exactly how a table degrades into millions of tiny files; planning
    and open() overhead then dominates scans). Returns the file count.

    Sizing comes from the source files' actual bytes (Hadoop FileSystem
    metadata — works on any storage URI, no data pass); the rewrite is
    one coalesce-style shuffle-free read when shrinking file count.
    Writes to ``dest_path``; the caller swaps directories (atomicity is
    storage-specific — table formats own that problem at scale)."""
    import math

    from es_to_clickhouse_spark import fsio

    spark = df.sparkSession
    total = 0
    for f in df.inputFiles():
        try:
            fs, p = fsio._fs_path(spark, f)
            total += fs.getFileStatus(p).getLen()
        except Exception:  # noqa: BLE001 — fall back to row-count heuristic
            total = 0
            break
    if total <= 0:
        total = df.count() * 256  # ~bytes/row fallback
    n = max(1, math.ceil(total / target_bytes))
    df.coalesce(n).write.mode("overwrite").format(fmt).save(dest_path)
    return n
