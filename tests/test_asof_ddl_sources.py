"""Unit tests: as-of join, ClickHouse DDL generation, the ES range DSL,
streaming sync (SURVEY §2.1, §2.3 custom-operator note, T1-T2)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from es_to_clickhouse_spark.ddl import (
    clickhouse_type,
    create_database_sql,
    create_typed_table_sql,
)
from es_to_clickhouse_spark.operators.asof import asof_join
from es_to_clickhouse_spark.sources.es import range_query


# ---------------------------------------------------------------- as-of join


def test_asof_join_backward_inclusive(spark):
    trades = spark.createDataFrame(
        [("A", 3, 100.0), ("A", 7, 101.0), ("B", 5, 50.0)],
        "sym string, t long, px double",
    )
    quotes = spark.createDataFrame(
        [("A", 1, 9.0), ("A", 3, 10.0), ("A", 6, 11.0), ("B", 9, 99.0)],
        "sym string, t long, bid double",
    )
    out = asof_join(trades, quotes, on="t", by="sym").orderBy("sym", "t")
    rows = [(r.sym, r.t, r.bid_right) for r in out.collect()]
    # A@3 matches quote@3 (inclusive), A@7 matches quote@6,
    # B@5 has no earlier quote -> NULL
    assert rows == [("A", 3, 10.0), ("A", 7, 11.0), ("B", 5, None)]


def test_asof_join_strict_excludes_equal(spark):
    left = spark.createDataFrame([("k", 3)], "k string, t long")
    right = spark.createDataFrame([("k", 3, "x")], "k string, t long, v string")
    out = asof_join(left, right, on="t", by="k", strict=True)
    assert out.collect()[0].v_right is None
    out2 = asof_join(left, right, on="t", by="k", strict=False)
    assert out2.collect()[0].v_right == "x"


def test_asof_join_no_by_key(spark):
    left = spark.createDataFrame([(10,), (20,)], "t long")
    right = spark.createDataFrame([(5, "a"), (15, "b")], "t long, v string")
    out = asof_join(left, right, on="t").orderBy("t")
    assert [r.v_right for r in out.collect()] == ["a", "b"]


def test_asof_join_global_bucketed_matches_bruteforce(spark):
    # 200 left rows, 40 right rows, forced through 8 range buckets:
    # exercises the quantile-cut bucketing AND the cross-bucket carry-in
    # (most buckets contain left rows whose match lives buckets earlier).
    left = spark.range(200).select((F.col("id") * 3 + 1).alias("t"))
    right = spark.range(40).select(
        (F.col("id") * 17).alias("t"), (F.col("id") * 100).alias("v")
    )
    out = asof_join(left, right, on="t", num_buckets=8).orderBy("t")
    got = [(r.t, r.v_right) for r in out.collect()]
    rt = sorted([(r.t, r.v) for r in right.collect()])
    expect = []
    for (lt,) in sorted((r.t,) for r in left.collect()):
        match = [v for (t, v) in rt if t <= lt]
        expect.append((lt, match[-1] if match else None))
    assert got == expect


def test_asof_join_global_strict_and_single_value(spark):
    left = spark.createDataFrame([(5,), (10,)], "t long")
    right = spark.createDataFrame([(5, "eq"), (7, "mid")], "t long, v string")
    strict = asof_join(left, right, on="t", strict=True, num_buckets=4).orderBy("t")
    assert [r.v_right for r in strict.collect()] == [None, "mid"]
    # constant ordering column -> degenerate single bucket, still correct
    const_l = spark.createDataFrame([(1,), (1,)], "t long")
    const_r = spark.createDataFrame([(1, "x")], "t long, v string")
    out = asof_join(const_l, const_r, on="t", num_buckets=4)
    assert [r.v_right for r in out.collect()] == ["x", "x"]


def test_asof_join_preserves_left_rowcount(spark):
    left = spark.range(100).select(
        (F.col("id") % 5).cast("string").alias("k"), F.col("id").alias("t")
    )
    right = spark.range(10).select(
        (F.col("id") % 5).cast("string").alias("k"),
        (F.col("id") * 7).alias("t"),
        F.col("id").alias("v"),
    )
    assert asof_join(left, right, on="t", by="k").count() == 100


# ----------------------------------------------------------------------- DDL


def test_typed_ddl_and_type_map(spark):
    df = spark.createDataFrame(
        [(1, 1.5, "s", True)], "i int, d double, s string, b boolean"
    )
    sql = create_typed_table_sql("db", "t", df.schema)
    assert "`i` Nullable(Int32)" in sql
    assert "`d` Nullable(Float64)" in sql
    assert "`b` Nullable(UInt8)" in sql
    from pyspark.sql import types as T

    # complex types serialize to String (reference rule, README.md:109)
    assert clickhouse_type(T.ArrayType(T.IntegerType())) == "Nullable(String)"
    assert clickhouse_type(T.DecimalType(12, 2)) == "Nullable(Decimal(12, 2))"
    assert create_database_sql("x") == "CREATE DATABASE IF NOT EXISTS `x`"


# ------------------------------------------------------------------- sources


def test_es_range_query_shapes():
    assert json.loads(range_query("ts"))["query"] == {"match_all": {}}
    q = json.loads(range_query("ts", "2024-01-01"))
    assert q["query"]["bool"]["filter"] == [{"range": {"ts": {"gt": "2024-01-01"}}}]
    # OR-of-ranges with minimum_should_match (es/es_to_bytehouse.py:841-861)
    q2 = json.loads(range_query("ts", "2024-01-01", "upd", "2024-02-02"))
    assert q2["query"]["bool"]["minimum_should_match"] == 1
    assert len(q2["query"]["bool"]["should"]) == 2


# ----------------------------------------------------------------- streaming


def test_streaming_file_sync_available_now(spark, tmp_path):
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.state import StateStore
    from es_to_clickhouse_spark.streaming.sync import StreamingSync

    src_dir = tmp_path / "src"
    df = spark.createDataFrame(
        [("1", "2024-01-01T00:00:00", "a"), ("2", "2024-01-02T00:00:00", "b")],
        "_id string, timestamp string, v string",
    )
    df.write.parquet(str(src_dir))

    sync = StreamingSync(
        spark,
        WarehouseTarget(spark, str(tmp_path / "wh")),
        StateStore(spark, str(tmp_path / "state")),
    )
    q = sync.file_stream(
        str(src_dir),
        "tbl",
        df.schema,
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    out = sync.target.read("tbl")
    assert out.count() == 2
    st = sync.state.get("tbl")
    # watermark = max(timestamp) of the batch (T2)
    assert st is not None and st.last_sync_time.startswith("2024-01-02")
    # restart with same checkpoint: no reprocessing (offsets committed)
    q2 = sync.file_stream(
        str(src_dir), "tbl", df.schema, str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q2.awaitTermination(120)
    assert sync.target.read("tbl", dedup=False).count() == 2


# ------------------------------------------- as-of directions


def _asof_frames(spark):
    left = spark.createDataFrame(
        [(1, 1.0), (4, 4.0), (5, 5.0), (10, 10.0)], "t long, lv double"
    )
    right = spark.createDataFrame([(2, 20.0), (6, 60.0)], "t long, rv double")
    return left, right


def test_asof_forward_by_none(spark):
    from es_to_clickhouse_spark.operators.asof import asof_join

    left, right = _asof_frames(spark)
    got = {
        r.t: r.rv_right
        for r in asof_join(left, right, "t", direction="forward", num_buckets=3).collect()
    }
    assert got == {1: 20.0, 4: 60.0, 5: 60.0, 10: None}


def test_asof_nearest_tie_prefers_backward(spark):
    from es_to_clickhouse_spark.operators.asof import asof_join

    left, right = _asof_frames(spark)
    got = {
        r.t: r.rv_right
        for r in asof_join(left, right, "t", direction="nearest", num_buckets=3).collect()
    }
    # t=4: backward dist 2 == forward dist 2 -> backward (pandas semantics)
    assert got == {1: 20.0, 4: 20.0, 5: 60.0, 10: 60.0}


def test_asof_directions_with_by_key(spark):
    from es_to_clickhouse_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 1), ("a", 7), ("b", 3)], "k string, t long"
    )
    right = spark.createDataFrame(
        [("a", 2, 20.0), ("a", 6, 60.0), ("b", 9, 90.0)], "k string, t long, rv double"
    )
    fwd = {
        (r.k, r.t): r.rv_right
        for r in asof_join(left, right, "t", by="k", direction="forward").collect()
    }
    assert fwd == {("a", 1): 20.0, ("a", 7): None, ("b", 3): 90.0}
    near = {
        (r.k, r.t): r.rv_right
        for r in asof_join(left, right, "t", by="k", direction="nearest").collect()
    }
    assert near == {("a", 1): 20.0, ("a", 7): 60.0, ("b", 3): 90.0}


def test_asof_forward_inclusive_vs_strict(spark):
    from es_to_clickhouse_spark.operators.asof import asof_join

    left = spark.createDataFrame([(2,)], "t long")
    right = spark.createDataFrame([(2, 20.0), (5, 50.0)], "t long, rv double")
    inc = asof_join(left, right, "t", direction="forward", num_buckets=2).collect()
    assert inc[0].rv_right == 20.0
    strict = asof_join(
        left, right, "t", direction="forward", strict=True, num_buckets=2
    ).collect()
    assert strict[0].rv_right == 50.0


def test_asof_global_cache_right_same_result(spark):
    """cache_right=True (checkpoint the right side so its subtree runs
    once across the union window + carry aggregate) changes the physical
    execution, never the result."""
    left = spark.createDataFrame([(i,) for i in range(100)], "t long")
    right = spark.createDataFrame([(i * 7, i) for i in range(15)], "t long, v int")
    base = sorted(
        (r.t, r.v_right)
        for r in asof_join(left, right, on="t", num_buckets=4).collect()
    )
    cached = sorted(
        (r.t, r.v_right)
        for r in asof_join(
            left, right, on="t", num_buckets=4, cache_right=True
        ).collect()
    )
    assert base == cached


def test_asof_global_cache_right_auto_heuristic(spark):
    """cache_right=None (default) auto-persists exactly when the right
    subtree contains a shuffle-bearing operator: an AGGREGATED right side
    plans an InMemoryRelation (computed once, served to both the union
    window and the carry aggregate); a plain scan right side does not
    (recompute beats materialization for pruned scans)."""
    from pyspark.sql import functions as F

    left = spark.createDataFrame([(i,) for i in range(50)], "t long")
    base_right = spark.createDataFrame(
        [(i % 10, i) for i in range(100)], "k long, x long"
    )
    agg_right = base_right.groupBy("k").agg(F.max("x").alias("v")).select(
        F.col("k").alias("t"), "v"
    )
    out = asof_join(left, agg_right, on="t", num_buckets=4)
    plan = out._jdf.queryExecution().withCachedData().toString()
    assert "InMemoryRelation" in plan, "aggregated right side must auto-persist"
    assert out.count() == 50  # and it still computes

    scan_right = base_right.select(F.col("x").alias("t"), F.col("k").alias("v"))
    out2 = asof_join(left, scan_right, on="t", num_buckets=4)
    plan2 = out2._jdf.queryExecution().withCachedData().toString()
    assert "InMemoryRelation" not in plan2, "scan right side must NOT persist"
    agg_right.unpersist()
