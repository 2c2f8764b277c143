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

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from es_to_clickhouse_spark import fsio
from es_to_clickhouse_spark.functions import is_system_name, match_names

#: session settings that change how a parquet footer converts to a Spark
#: schema; part of every footer-cache key
_CONVERSION_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
)

#: one data file of a table: (qualified path, size in bytes, mtime in ms)
FileKey = tuple[str, int, int]


def _is_data_file(name: str) -> bool:
    """Spark's data-file rule for a directory listing: names starting
    with ``_`` or ``.`` are metadata, markers or in-progress writes."""
    return not name.startswith(("_", ".")) and not name.endswith("._COPYING_")


class ParquetCatalog:
    """Catalog over a directory of ``<table>.parquet`` files/dirs — the
    testbed stand-in for ES/CH/Mongo catalogs.

    Each file's footer schema is cached on the instance, keyed by
    (path, size, mtime, conversion settings), so a table that grew by
    one part costs one new footer read. The cache assumes, as Spark's
    ``FileStatusCache`` does, that a file is never rewritten in place
    with the same size and mtime."""

    def __init__(self, spark: SparkSession, root: str, dialect: str = "es"):
        self.spark = spark
        self.root = root
        self.dialect = dialect
        #: table path -> {file path: (size, mtime, confs, schema json, nanos columns)}
        self._footers: dict[str, dict[str, tuple]] = {}

    def list_tables(self, pattern: str | None = None) -> list[str]:
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
        return match_names(names, pattern) if pattern else names

    def _path(self, name: str) -> str:
        return fsio.join(self.root, f"{name}.parquet")

    def listing(self, name: str) -> tuple[FileKey, ...]:
        """The table's data files, sorted by path (the order Spark's
        schema inference folds their schemas in). Empty when
        footers cannot stand in for inference: a missing table, no data
        files, subdirectories (partition directories) or parquet
        summary files."""
        fs, p = fsio._fs_path(self.spark, self._path(name))
        if not fs.exists(p):
            return ()
        out = []
        for st in fs.listStatus(p):
            path = st.getPath()
            fname = path.getName()
            if fname.startswith(("_metadata", "_common_metadata")):
                return ()
            if not _is_data_file(fname):
                continue
            if st.isDirectory():
                return ()
            out.append((path.toString(), st.getLen(), st.getModificationTime()))
        return tuple(sorted(out))

    def _footer(self, path: str, converter) -> tuple[str, tuple[str, ...]]:
        """One file's Spark schema (JSON) and its TIMESTAMP(NANOS)
        columns, from the footer alone: Spark's own footer-to-schema
        conversion, run on the driver."""
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        meta = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            self.spark._jsc.hadoopConfiguration(),
            jpath,
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER,
        )
        parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
        schema = parquet.ParquetFileFormat.readSchemaFromFooter(
            jvm.org.apache.parquet.hadoop.Footer(jpath, meta), converter
        ).json()
        message = meta.getFileMetaData().getSchema()
        nanos = []
        for f in json.loads(schema)["fields"]:
            # nanos-as-long columns convert to long; only those can be nanos
            if f["type"] == "long":
                ann = message.getType(f["name"]).getLogicalTypeAnnotation()
                if ann is not None and ann.toString().startswith("TIMESTAMP(NANOS"):
                    nanos.append(f["name"])
        return schema, tuple(nanos)

    def footer_schema(
        self, name: str, files: tuple[FileKey, ...]
    ) -> tuple[T.StructType, set[str]]:
        """The merged schema of ``files`` and the columns any of them
        stores as TIMESTAMP(NANOS). Per-file schemas fold in listing
        order with Spark's ``StructType.merge`` — the rule a
        ``mergeSchema`` read applies — and fire no Spark job. Cache
        entries of files no longer listed are dropped."""
        jvm = self.spark._jvm
        parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
        sql_conf = self.spark._jsparkSession.sessionState().conf()
        confs = tuple(self.spark.conf.get(k) for k in _CONVERSION_CONFS)
        cached = self._footers.get(self._path(name), {})
        fresh: dict[str, tuple] = {}  # path -> (stamp, schema json, nanos)
        converter = None
        for path, size, mtime in files:
            stamp = (size, mtime, confs)
            hit = cached.get(path)
            if hit is None or hit[0] != stamp:
                if converter is None:
                    converter = parquet.ParquetToSparkSchemaConverter(sql_conf)
                hit = (stamp, *self._footer(path, converter))
            fresh[path] = hit
        self._footers[self._path(name)] = fresh
        nanos = {c for _, _, cols in fresh.values() for c in cols}
        # identical schemas merge to themselves: fold the distinct ones
        first, *rest = dict.fromkeys(schema for _, schema, _ in fresh.values())
        if not rest:
            return T.StructType.fromJson(json.loads(first)), nanos
        merged = jvm.org.apache.spark.sql.types.DataType.fromJson(first)
        for schema in rest:
            merged = merged.merge(
                jvm.org.apache.spark.sql.types.DataType.fromJson(schema),
                sql_conf.caseSensitiveAnalysis(),
            )
        return T.StructType.fromJson(json.loads(merged.json())), nanos

    def read(self, name: str, files: tuple[FileKey, ...] | None = None) -> DataFrame:
        """Read a table whose batches may evolve their schema mid-stream
        (SURVEY S18): the union of its files' schemas, the declared ∪
        sampled schema union (es/es_to_bytehouse.py:762-771).

        ``files`` is the table's :meth:`listing` (taken now when None).
        The schema comes from the footers (:meth:`footer_schema`) and the
        read covers exactly those files, so no file the read sees can
        carry a column the schema lacks. It fires no Spark job up to
        ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
        files; past that Spark stats the listed paths in one job. When
        the listing is empty (see :meth:`listing`) the read infers with
        ``mergeSchema`` instead, without the nanos conversion.

        TIMESTAMP(NANOS) parquet columns (unsupported by Spark 4 directly)
        are read as long via the legacy conf and converted to
        microsecond timestamps — DuckDB applies the same ns→µs truncation.
        """
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        if files is None:
            files = self.listing(name)
        if not files:
            return self.spark.read.option("mergeSchema", "true").parquet(self._path(name))
        schema, nanos = self.footer_schema(name, files)
        df = self.spark.read.schema(schema).parquet(*(p for p, _, _ in files))
        # ns-as-long -> µs timestamps (floor-truncate, DuckDB's rule)
        for c in nanos:
            if isinstance(schema[c].dataType, T.LongType):
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        return df
