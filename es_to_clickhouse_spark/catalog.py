"""Source catalog: table listing + pattern filtering (SURVEY S4/S8/S13, P10/P11).

The reference lists ES indices (`GET /_cat/indices/{pattern}`,
es/es_to_bytehouse.py:239-258), ClickHouse tables (`SHOW TABLES`,
clickhouse/clickhouse_to_bytehouse.py:226-233) and Mongo collections
(`list_collection_names()`, mongodb/mongodb_to_bytehouse.py:297-304), then
filters system objects and applies comma-separated glob patterns.

Here a "catalog" is anything that can enumerate named tables; the parquet
testbed catalog lists ``*.parquet`` under a directory. The glob/system
filters are shared, pure functions so every source behaves identically.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from es_to_clickhouse_spark import fsio
from es_to_clickhouse_spark.functions import is_system_name, match_names


@dataclass
class TableInfo:
    name: str
    path: str


def _nanos_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (footer inspection via
    pyarrow — driver-side, one footer read, no data scan)."""
    try:
        import pyarrow.dataset as ds
        import pyarrow.types as pt

        schema = ds.dataset(path, format="parquet").schema
        return [
            f.name
            for f in schema
            if pt.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:  # noqa: BLE001 — footer probe is best-effort
        return []


def _convert_nanos_columns(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """ns-as-long columns → microsecond timestamps (floor-truncate, the
    same ns→µs rule DuckDB applies when reading TIMESTAMP(NANOS))."""
    from pyspark.sql import functions as F

    dtypes = dict(df.dtypes)
    for c in _nanos_columns(path):
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


class ParquetCatalog:
    """Catalog over a directory of ``<table>.parquet`` files/dirs — the
    testbed stand-in for ES/CH/Mongo catalogs."""

    def __init__(self, spark: SparkSession, root: str, dialect: str = "es"):
        self.spark = spark
        self.root = root
        self.dialect = dialect

    def list_tables(self, pattern: str | None = None) -> list[TableInfo]:
        # Hadoop-FS listing (fsio), so the source root can be an object
        # store URI, same as the warehouse side
        names = sorted(
            f[: -len(".parquet")]
            for f in fsio.listdir(self.spark, self.root)
            if f.endswith(".parquet")
        )
        # system-object filter (es/es_to_bytehouse.py:250-253,
        # mongodb/mongodb_to_bytehouse.py:303-304)
        names = [n for n in names if not is_system_name(n, self.dialect)]
        if pattern and pattern not in ("*", ""):
            names = match_names(names, pattern)
        return [TableInfo(n, fsio.join(self.root, f"{n}.parquet")) for n in names]

    def read(self, name: str) -> DataFrame:
        """mergeSchema=true: source batches may evolve their schema
        mid-stream (SURVEY S18); the union-of-file-schemas read is the
        declared ∪ sampled schema union (es/es_to_bytehouse.py:762-771).

        TIMESTAMP(NANOS) parquet columns (unsupported by Spark 4 directly)
        are read as long via the legacy conf and converted to
        microsecond timestamps — DuckDB applies the same ns→µs truncation.
        """
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        path = fsio.join(self.root, f"{name}.parquet")
        df = self.spark.read.option("mergeSchema", "true").parquet(path)
        return _convert_nanos_columns(self.spark, df, path)

    def row_count(self, name: str) -> int:
        """Source row total for progress/ETA (SURVEY A3)."""
        return self.read(name).count()


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every testbed table as a temp view; returns names."""
    names = []
    cat = ParquetCatalog(spark, sf_dir)
    for t in cat.list_tables():
        cat.read(t.name).createOrReplaceTempView(t.name)
        names.append(t.name)
    return names
