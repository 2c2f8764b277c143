"""Layout: small-file compaction hits its file-count and size targets."""

from __future__ import annotations

from pyspark.sql import functions as F


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
