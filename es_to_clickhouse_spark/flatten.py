"""Document flattening as schema-driven ``select`` generation.

The reference flattens documents row-at-a-time in Python
(`flatten_document`, es/es_to_bytehouse.py:544-575). Spark-first, the
flatten is a *plan*, not a loop: we walk the DataFrame's ``StructType``
once on the driver and emit one ``select`` of Column expressions, so the
whole transform stays inside whole-stage codegen and costs one projection
at any scale.

Two dialects, matching the two reference behaviors:

- **ES dialect** (es/es_to_bytehouse.py:544-575): nested structs are
  flattened recursively into ``parent_child`` columns; arrays of structs
  are index-expanded into ``field_0_key, field_1_key, …`` up to a cap;
  arrays of scalars become JSON strings; scalar leaves become strings
  with Python-str fidelity.
- **Mongo dialect** (mongodb/mongodb_to_bytehouse.py:306-333): structs are
  NOT flattened — they become one JSON-string column; arrays become JSON
  strings; datetimes isoformat; binary lowercase-hex.

Name sanitization follows each dialect's rules (functions.sanitize_field_name).

Scale note: index-expansion width is bounded by ``array_cap`` (the
reference is unbounded — SURVEY §7.4 risk 1); elements beyond the cap are
preserved in a single overflow JSON column instead of growing the schema.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from es_to_clickhouse_spark.functions import py_str, sanitize_field_name

DEFAULT_ARRAY_CAP = 8


def _scalar(col: Column, dtype: T.DataType, stringify: bool) -> Column:
    return py_str(col, dtype) if stringify else col


def flatten_columns_es(
    schema: T.StructType,
    prefix: str = "",
    parent: Column | None = None,
    array_cap: int = DEFAULT_ARRAY_CAP,
    stringify: bool = True,
) -> list[Column]:
    """Walk a StructType, emit flat Columns with ES naming/coercion rules."""
    out: list[Column] = []
    for field in schema.fields:
        name = sanitize_field_name(field.name, "es")
        flat = f"{prefix}_{name}" if prefix else name
        col = (parent[field.name] if parent is not None else F.col(f"`{field.name}`"))
        dtype = field.dataType
        if isinstance(dtype, T.StructType):
            # nested object → recursive flatten (es/es_to_bytehouse.py:551-554)
            out.extend(
                flatten_columns_es(dtype, flat, col, array_cap, stringify)
            )
        elif isinstance(dtype, T.ArrayType) and isinstance(
            dtype.elementType, T.StructType
        ):
            # list of dicts → index expansion field_{i}_{key}
            # (es/es_to_bytehouse.py:556-565), capped with JSON overflow.
            elem = dtype.elementType
            for i in range(array_cap):
                # F.get: NULL for out-of-bounds (ANSI-safe), matching the
                # reference's missing-index → NULL behavior
                out.extend(
                    flatten_columns_es(
                        elem, f"{flat}_{i}", F.get(col, i), array_cap, stringify
                    )
                )
            out.append(
                F.when(
                    F.size(col) > array_cap,
                    F.to_json(F.slice(col, array_cap + 1, 2_147_483_647 - array_cap)),
                )
                .otherwise(F.lit(None).cast("string"))
                .alias(f"{flat}_overflow")
            )
        elif isinstance(dtype, (T.ArrayType, T.MapType)):
            # list of scalars / maps → JSON string (es/es_to_bytehouse.py:567-569)
            out.append(F.to_json(col).alias(flat))
        else:
            out.append(_scalar(col, dtype, stringify).alias(flat))
    return out


def flatten_es(
    df: DataFrame,
    array_cap: int = DEFAULT_ARRAY_CAP,
    stringify: bool = True,
    store_source: bool = False,
) -> DataFrame:
    """ES-dialect flatten of a nested DataFrame (one projection).

    ``store_source=True`` adds a ``_source`` column holding the whole
    original document as one JSON string (the reference's STORE_SOURCE
    option, es/es_to_bytehouse.py:305-316,613-617) — kept alongside the
    flattened columns so raw-document replay never needs the source
    system again.
    """
    cols = flatten_columns_es(df.schema, array_cap=array_cap, stringify=stringify)
    if store_source:
        src = F.to_json(F.struct(*[F.col(f"`{f}`") for f in df.columns])).alias(
            "_source"
        )
        cols = [src, *cols]
    return df.select(*cols)


def stringify_columns_mongo(schema: T.StructType) -> list[Column]:
    """Mongo-dialect per-field coercion (mongodb/mongodb_to_bytehouse.py:306-333)."""
    out: list[Column] = []
    for field in schema.fields:
        name = sanitize_field_name(field.name, "mongo")
        col = F.col(f"`{field.name}`")
        dtype = field.dataType
        if isinstance(dtype, (T.StructType, T.ArrayType, T.MapType)):
            # dict/list → JSON string, NOT flattened
            # (mongodb/mongodb_to_bytehouse.py:313-318)
            out.append(F.to_json(col).alias(name))
        else:
            out.append(py_str(col, dtype).alias(name))
    return out


def flatten_mongo(df: DataFrame) -> DataFrame:
    """Mongo-dialect stringify-projection (one projection)."""
    return df.select(*stringify_columns_mongo(df.schema))
