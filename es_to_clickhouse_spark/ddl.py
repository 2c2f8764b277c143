"""ClickHouse/ByteHouse DDL generation (SURVEY S16-S18).

Pure string builders for the target DDL the HTTP sink
(sources/ch_http.ClickHouseHttpTarget) sends:

- ``CREATE DATABASE IF NOT EXISTS`` (es/es_to_bytehouse.py:401-410);
- passthrough DDL from the Spark schema
  (clickhouse/clickhouse_to_bytehouse.py:240-262);
- Spark-type → ClickHouse-type map for typed targets (an engine extension;
  the reference maps everything to String, §1.2).
"""

from __future__ import annotations

from pyspark.sql import types as T

SPARK_TO_CLICKHOUSE = {
    T.StringType(): "String",
    T.BooleanType(): "UInt8",
    T.ByteType(): "Int8",
    T.ShortType(): "Int16",
    T.IntegerType(): "Int32",
    T.LongType(): "Int64",
    T.FloatType(): "Float32",
    T.DoubleType(): "Float64",
    T.DateType(): "Date",
    T.TimestampType(): "DateTime64(3)",
    T.BinaryType(): "String",
}


def clickhouse_type(dtype: T.DataType, nullable: bool = True) -> str:
    """Map a Spark type to ClickHouse; complex types serialize to String
    (the reference's universal rule, README.md:109)."""
    base = SPARK_TO_CLICKHOUSE.get(dtype, "String")
    if isinstance(dtype, (T.ArrayType, T.MapType, T.StructType)):
        base = "String"  # JSON-serialized, like the reference
    if isinstance(dtype, T.DecimalType):
        base = f"Decimal({dtype.precision}, {dtype.scale})"
    return f"Nullable({base})" if nullable else base


def quote_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def create_database_sql(database: str) -> str:
    """CREATE DATABASE IF NOT EXISTS (es/es_to_bytehouse.py:401-410)."""
    return f"CREATE DATABASE IF NOT EXISTS {quote_ident(database)}"


def create_typed_table_sql(
    database: str, table: str, schema: T.StructType, engine: str = "MergeTree"
) -> str:
    """Typed passthrough DDL (clickhouse/clickhouse_to_bytehouse.py:240-262
    copies DESCRIBE verbatim; here the Spark schema is the source of truth)."""
    cols = ",\n  ".join(
        f"{quote_ident(f.name)} {clickhouse_type(f.dataType, f.nullable)}"
        for f in schema.fields
    )
    return (
        f"CREATE TABLE IF NOT EXISTS {quote_ident(database)}.{quote_ident(table)} (\n"
        f"  {cols}\n) ENGINE = {engine}() ORDER BY tuple()"
    )
