"""Data layout for scan pruning: range-clustered writes and Z-ordering.

At 100 TB the cheapest scan is the one that never reads the file: parquet
stores per-file/row-group min-max stats, and Spark's scan skips files
whose stats exclude the predicate. That only works if the writer CLUSTERS
rows so each file covers a narrow key range — the reference has no notion
of this (its sink streams 1000-row batches in arrival order,
clickhouse/clickhouse_to_bytehouse.py:305 pagination), which yields files
whose min-max spans the whole domain and prune nothing.

- ``write_clustered``: repartitionByRange + sortWithinPartitions on the
  cluster key(s) — files end up range-disjoint (verified by footer stats
  in tests), so an equality/range predicate touches O(1) files.
- ``zorder_value``: bit-interleaved Z-curve value over multiple columns,
  for when queries filter on EITHER of two keys: lexicographic clustering
  prunes only the leading column; Z-order gives every column ~1/2^(b/n)
  selectivity per file. Quantile-rank normalization (percentile_approx
  cuts, same machinery as operators/asof) makes it skew-proof.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int,
    fmt: str = "parquet",
) -> None:
    """Write ``df`` as ``num_files`` files, each covering a disjoint range
    of ``cluster_cols`` (lexicographic). One range shuffle; the in-file
    sort makes row-group stats monotone too, so predicate pushdown prunes
    both across and within files."""
    (
        df.repartitionByRange(num_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .format(fmt)
        .save(path)
    )


def _rank_buckets(df: DataFrame, col: str, bits: int) -> list[float]:
    """Quantile cut points mapping a (possibly skewed) numeric column to
    ~uniform 2^bits buckets. Driver-side list of 2^bits-1 doubles."""
    n = 1 << bits
    probs = F.array(*[F.lit(i / n) for i in range(1, n)])
    row = (
        df.select(F.col(col).cast("double").alias("_k"))
        .where(F.col("_k").isNotNull())
        .agg(F.percentile_approx("_k", probs, F.lit(10000)).alias("cuts"))
        .first()
    )
    return sorted(set(row["cuts"] or []))


def zorder_value(bucketed_cols: list[Column], bits: int = 8) -> Column:
    """Interleave the low ``bits`` bits of each (already bucket-
    normalized, in [0, 2^bits)) column into one Z-curve value — pure JVM
    integer expressions, no UDF."""
    n = len(bucketed_cols)
    terms = []
    for i in range(bits):
        for j, c in enumerate(bucketed_cols):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            terms.append(F.shiftleft(bit, i * n + j))
    out = terms[0]
    for term in terms[1:]:
        out = out + term
    return out


def zorder_by(
    df: DataFrame, cols: list[str], bits: int = 8, out_col: str = "_z"
) -> DataFrame:
    """Attach a skew-normalized Z-order value over ``cols``: each column
    is rank-bucketized via quantile cuts (uniform occupancy even under
    skew), then bit-interleaved. Cluster the write with
    ``write_clustered(zorder_by(df, cols), path, ['_z'], n)``."""
    normed = []
    for c in cols:
        cuts = _rank_buckets(df, c, bits)
        if cuts:
            # indicator-sum bucketize (functions.upper_bound_index), not
            # the F.filter HOF — see that docstring for the Spark 4
            # Union-constraint crash the HOF form risks
            from es_to_clickhouse_spark.functions import upper_bound_index

            normed.append(upper_bound_index(cuts, F.col(c).cast("double")))
        else:
            normed.append(F.lit(0))
    return df.withColumn(out_col, zorder_value(normed, bits))


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
