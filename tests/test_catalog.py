"""ParquetCatalog reads: the source schema from parquet footers.

The footer schema must equal what a ``mergeSchema`` read infers for the
same files, and the read that uses it must fire no Spark job."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from es_to_clickhouse_spark.catalog import ParquetCatalog


def _inferred(spark, path):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.option("mergeSchema", "true").parquet(path).schema


def _footer_read_schema(spark, cat, name):
    """The schema Spark gives a read of the listed files under the footer
    schema (the read applies Spark's own nullability rule)."""
    files = cat.listing(name)
    schema, _ = cat.footer_schema(name, files)
    return spark.read.schema(schema).parquet(*(p for p, _, _ in files)).schema


def _arrow(path, **cols):
    pq.write_table(pa.table(cols), path)


@pytest.fixture()
def root(tmp_path):
    return tmp_path / "src"


def test_footer_schema_equals_inference_spark_written(spark, root, count_jobs):
    """Spark-written parts: a column added mid-stream, a nested struct,
    and a zero-row part carrying a column no other part has."""
    path = str(root / "ev.parquet")
    base = spark.range(3).withColumn("a", F.lit("x"))
    base.write.parquet(path)
    base.withColumn("s", F.struct(F.lit(1).alias("k"), F.lit("v").alias("w"))).write.mode(
        "append"
    ).parquet(path)
    spark.range(0).withColumn("z", F.lit(1.5)).write.mode("append").parquet(path)
    cat = ParquetCatalog(spark, str(root))
    assert _footer_read_schema(spark, cat, "ev") == _inferred(spark, path)
    df, jobs = count_jobs(lambda: cat.read("ev"))
    assert jobs == 0
    assert sorted(df.columns) == ["a", "id", "s", "z"]
    assert df.count() == 6


def test_footer_schema_equals_inference_arrow_written_with_nanos(spark, root):
    """pyarrow-written parts (no Spark schema in the footer), an evolved
    column and TIMESTAMP(NANOS) columns, which both sides read as long
    before the catalog's nanos conversion."""
    path = root / "t.parquet"
    os.makedirs(path)
    _arrow(
        str(path / "part-0.parquet"),
        id=pa.array([1], pa.int64()),
        ts=pa.array([1_000_000_999], pa.timestamp("ns")),
    )
    _arrow(
        str(path / "part-1.parquet"),
        id=pa.array([2], pa.int64()),
        ts=pa.array([2_000_000_000], pa.timestamp("ns")),
        label=pa.array(["b"]),
        when=pa.array([5], pa.timestamp("us")),
    )
    cat = ParquetCatalog(spark, str(root))
    assert _footer_read_schema(spark, cat, "t") == _inferred(spark, str(path))
    _, nanos = cat.footer_schema("t", cat.listing("t"))
    assert nanos == {"ts"}


def test_nanos_column_first_seen_in_a_later_part(spark, root, tmp_path):
    """A TIMESTAMP(NANOS) column that first appears in the second part
    reads as a timestamp, not bigint — and so lands in the sink with the
    timestamp type, not a first-seen bigint."""
    from es_to_clickhouse_spark.sink import WarehouseTarget

    path = root / "t.parquet"
    os.makedirs(path)
    _arrow(
        str(path / "part-0.parquet"),
        id=pa.array([1], pa.int64()),
        ts=pa.array([1_000_000_999], pa.timestamp("ns")),
    )
    _arrow(
        str(path / "part-1.parquet"),
        id=pa.array([2], pa.int64()),
        ts=pa.array([2_000_000_000], pa.timestamp("ns")),
        ts2=pa.array([3_000_000_500], pa.timestamp("ns")),
    )
    df = ParquetCatalog(spark, str(root)).read("t")
    types = dict(df.dtypes)
    assert types["ts"] == "timestamp" and types["ts2"] == "timestamp"
    got = {r["id"]: (r["ts"], r["ts2"]) for r in df.collect()}
    assert got[2][1].second == 3 and got[2][1].microsecond == 0  # ns floor to µs
    assert got[1][1] is None
    target = WarehouseTarget(spark, str(tmp_path / "wh"))
    target.append("t", df)
    assert target.live_schema("t")["ts2"] == "timestamp"


def test_footer_cache_reads_new_files_and_forgets_vanished(spark, root):
    path = root / "t.parquet"
    os.makedirs(path)
    _arrow(str(path / "part-0.parquet"), id=pa.array([1], pa.int64()))
    cat = ParquetCatalog(spark, str(root))
    cat.read("t")
    (table_cache,) = cat._footers.values()
    assert len(table_cache) == 1
    _arrow(
        str(path / "part-1.parquet"),
        id=pa.array([2], pa.int64()),
        extra=pa.array(["x"]),
    )
    assert cat.read("t").columns == ["id", "extra"]
    (table_cache,) = cat._footers.values()
    assert len(table_cache) == 2
    os.remove(path / "part-1.parquet")
    assert cat.read("t").columns == ["id"]
    (table_cache,) = cat._footers.values()
    assert [os.path.basename(p) for p in table_cache] == ["part-0.parquet"]


def test_table_with_subdirectories_keeps_inference_read(spark, root):
    """Partition directories: no footer listing; the read infers, and
    the partition column is discovered as before."""
    path = str(root / "p.parquet")
    spark.range(4).withColumn("k", F.col("id") % 2).write.partitionBy("k").parquet(path)
    cat = ParquetCatalog(spark, str(root))
    assert cat.listing("p") == ()
    assert sorted(cat.read("p").columns) == ["id", "k"]
