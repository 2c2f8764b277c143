"""Unit tests: document flattening dialects (SURVEY P1-P3, §1.2 coercions)."""

from __future__ import annotations

import json

from pyspark.sql import Row

from es_to_clickhouse_spark.flatten import flatten_es, flatten_mongo


def _es_fixture(spark):
    """B1-shaped doc (FIXTURES.md): nested struct, scalar list, list of
    structs, bool, sanitizable names."""
    data = [
        Row(
            _id="d1",
            user=Row(name="ann", city="sf"),
            tags=["a", "b"],
            spans=[Row(id="s1", ms=5), Row(id="s2", ms=7)],
            flag=True,
            score=1.5,
        ),
        Row(
            _id="d2",
            user=Row(name=None, city="la"),
            tags=[],
            spans=[],
            flag=False,
            score=None,
        ),
    ]
    return spark.createDataFrame(data)


def test_flatten_es_nested_struct(spark):
    out = flatten_es(_es_fixture(spark), array_cap=2)
    rows = {r["_id"]: r for r in out.collect()}
    assert rows["d1"]["user_name"] == "ann"
    assert rows["d1"]["user_city"] == "sf"
    # None leaf stays NULL (es/es_to_bytehouse.py:570-571)
    assert rows["d2"]["user_name"] is None


def test_flatten_es_scalar_list_to_json(spark):
    out = flatten_es(_es_fixture(spark), array_cap=2)
    rows = {r["_id"]: r for r in out.collect()}
    # list of scalars → JSON string (es/es_to_bytehouse.py:567-569)
    assert json.loads(rows["d1"]["tags"]) == ["a", "b"]


def test_flatten_es_array_of_structs_index_expanded(spark):
    out = flatten_es(_es_fixture(spark), array_cap=2)
    rows = {r["_id"]: r for r in out.collect()}
    # index expansion (es/es_to_bytehouse.py:556-565)
    assert rows["d1"]["spans_0_id"] == "s1"
    assert rows["d1"]["spans_1_ms"] == "7"
    assert rows["d2"]["spans_0_id"] is None


def test_flatten_es_array_cap_overflow(spark):
    df = spark.createDataFrame(
        [Row(_id="x", spans=[Row(id=str(i)) for i in range(4)])]
    )
    out = flatten_es(df, array_cap=2)
    row = out.collect()[0]
    assert row["spans_0_id"] == "0"
    assert row["spans_1_id"] == "1"
    overflow = json.loads(row["spans_overflow"])
    assert [o["id"] for o in overflow] == ["2", "3"]


def test_flatten_es_bool_fidelity(spark):
    out = flatten_es(_es_fixture(spark), array_cap=2)
    rows = {r["_id"]: r for r in out.collect()}
    assert rows["d1"]["flag"] == "True"  # str(True), es/es_to_bytehouse.py:574
    assert rows["d2"]["flag"] == "False"


def test_flatten_mongo_struct_to_json(spark):
    df = spark.createDataFrame(
        [Row(_id="a" * 24, profile=Row(a=1, b="x"), items=[1, 2])]
    )
    out = flatten_mongo(df)
    row = out.collect()[0]
    # NOT flattened — one JSON column (mongodb/mongodb_to_bytehouse.py:313-315)
    assert json.loads(row["profile"]) == {"a": 1, "b": "x"}
    assert json.loads(row["items"]) == [1, 2]


def test_flatten_mongo_name_sanitize(spark):
    df = spark.createDataFrame([(1,)], "`bad$key` long")
    out = flatten_mongo(df)
    assert out.columns == ["bad_key"]


def test_store_source_column(spark):
    """STORE_SOURCE (es/es_to_bytehouse.py:305-316): _source carries the
    whole original document as JSON, alongside the flattened columns."""
    import json

    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(a=1, user=Row(name="x", city="c"))],
    )
    out = flatten_es(df, store_source=True)
    assert out.columns[0] == "_source"
    assert "user_name" in out.columns
    row = out.collect()[0]
    doc = json.loads(row._source)
    assert doc == {"a": 1, "user": {"name": "x", "city": "c"}}
    assert row.user_name == "x"
