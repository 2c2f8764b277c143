"""Layout: range-clustered files are disjoint; Z-order shrinks per-file
bounding boxes on the non-leading dimension."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from es_to_clickhouse_spark.layout import write_clustered, zorder_by


def _file_ranges(path: str, col: str) -> list[tuple]:
    out = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        if mins:
            out.append((min(mins), max(maxs)))
    return sorted(out)


def test_write_clustered_files_are_range_disjoint(spark, tmp_path):
    df = spark.range(10000).select(
        (F.col("id") * 7919 % 10000).alias("k"), F.col("id").alias("v")
    )
    path = str(tmp_path / "clustered")
    write_clustered(df, path, ["k"], num_files=8)
    ranges = _file_ranges(path, "k")
    assert len(ranges) == 8
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint up to shared boundary values
    # round-trips all rows
    assert spark.read.parquet(path).count() == 10000


def test_zorder_shrinks_nonleading_spans(spark, tmp_path):
    # 64x64 grid: lexicographic clustering on x leaves y spanning the
    # whole domain in every file; z-order bounds both
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    lex = str(tmp_path / "lex")
    zo = str(tmp_path / "zo")
    write_clustered(df, lex, ["x", "y"], num_files=16)
    write_clustered(zorder_by(df, ["x", "y"], bits=6), zo, ["_z"], num_files=16)

    def avg_span(path):
        rs = _file_ranges(path, "y")
        return sum(hi - lo for lo, hi in rs) / len(rs)

    assert avg_span(zo) < avg_span(lex) / 2
    # z-order layout still covers every row
    assert spark.read.parquet(zo).count() == 4096


def test_compact_reduces_file_count(spark, tmp_path):
    from es_to_clickhouse_spark.layout import compact

    src = str(tmp_path / "small")
    spark.range(10000).repartition(40).write.parquet(src)
    df = spark.read.parquet(src)
    assert len(df.inputFiles()) >= 40
    dest = str(tmp_path / "compacted")
    compact(df, dest, target_bytes=10**9)
    out = spark.read.parquet(dest)
    assert len(out.inputFiles()) == 1
    assert out.count() == 10000


def test_compact_respects_target_size(spark, tmp_path):
    from es_to_clickhouse_spark.layout import compact

    src = str(tmp_path / "sized")
    spark.range(200000).select(F.col("id"), F.md5(F.col("id").cast("string")).alias("p")).repartition(20).write.parquet(src)
    df = spark.read.parquet(src)
    import os
    total = sum(
        os.path.getsize(f.removeprefix("file:")) for f in df.inputFiles()
    )
    dest = str(tmp_path / "out")
    n = compact(df, dest, target_bytes=total // 3)
    assert 3 <= n <= 5
    assert spark.read.parquet(dest).count() == 200000
