"""Unit tests: scalar fidelity helpers + name/glob rules (SURVEY §2.8, P10-P11)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from es_to_clickhouse_spark.functions import (
    glob_filter_column,
    hex_lower,
    is_system_name,
    iso_ts,
    match_names,
    py_str,
    sanitize_field_name,
    sanitize_table_name,
)


def test_sanitize_field_name_es():
    # es/es_to_bytehouse.py:283-285: . - → _, @ deleted
    assert sanitize_field_name("a.b-c", "es") == "a_b_c"
    assert sanitize_field_name("@timestamp", "es") == "timestamp"
    assert sanitize_field_name("user.geo-city", "es") == "user_geo_city"


def test_sanitize_field_name_mongo():
    # mongodb/mongodb_to_bytehouse.py:310-311: . - $ → _
    assert sanitize_field_name("a.b", "mongo") == "a_b"
    assert sanitize_field_name("bad$key", "mongo") == "bad_key"
    assert sanitize_field_name("@odd", "mongo") == "@odd"  # mongo keeps @


def test_sanitize_table_name():
    # es/es_to_bytehouse.py:738-745: digit-leading gets idx_ prefix (ES only)
    assert sanitize_table_name("logs-app.prod", "es") == "logs_app_prod"
    assert sanitize_table_name("2024_logs", "es") == "idx_2024_logs"
    assert sanitize_table_name("2024_logs", "mongo") == "2024_logs"


def test_match_names_comma_glob():
    # clickhouse/clickhouse_to_bytehouse.py:83-98 fnmatch semantics
    names = ["a_log", "b_log", "b_extra", "exact", "zzz"]
    assert match_names(names, "a_log,b_*,exact") == ["a_log", "b_log", "b_extra", "exact"]
    assert match_names(names, "*") == names
    assert match_names(names, "nope") == []


def test_is_system_name():
    assert is_system_name(".kibana", "es")
    assert not is_system_name("app", "es")
    assert is_system_name("system.views", "mongo")
    assert not is_system_name(".hidden", "mongo")


def test_py_str_bool_and_hex(spark):
    df = spark.createDataFrame(
        [(True, bytes.fromhex("deadbeef")), (False, b"\x00\x01")], "b boolean, x binary"
    )
    out = df.select(
        py_str(F.col("b"), T.BooleanType()).alias("b"),
        py_str(F.col("x"), T.BinaryType()).alias("x"),
    ).collect()
    assert [r.b for r in out] == ["True", "False"]  # es/es_to_bytehouse.py:574
    assert [r.x for r in out] == ["deadbeef", "0001"]  # bytes.hex() lowercase


def test_iso_ts_matches_python_isoformat(spark):
    from datetime import datetime

    dt = datetime(2024, 1, 2, 3, 4, 5, 123456)
    df = spark.createDataFrame([(dt,)], "ts timestamp")
    got = df.select(iso_ts(F.col("ts")).alias("s")).collect()[0].s
    assert got == dt.isoformat()  # mongodb/mongodb_to_bytehouse.py:324


def test_hex_lower_matches_python(spark):
    df = spark.createDataFrame([("abc",)], "s string")
    got = df.select(hex_lower(F.col("s")).alias("h")).collect()[0].h
    assert got == "abc".encode().hex()


def test_glob_filter_column(spark):
    df = spark.createDataFrame(
        [("a_log",), ("b_log",), ("exact",), ("zzz",)], "name string"
    )
    got = sorted(
        r.name
        for r in df.where(glob_filter_column(F.col("name"), "a_*,exact")).collect()
    )
    assert got == ["a_log", "exact"]


def test_alert_hook_rate_limit(monkeypatch):
    """A6: identical LEVEL:msg[:100] alerts suppressed within the window
    (es/es_to_bytehouse.py:48-55)."""
    from es_to_clickhouse_spark.observability import AlertHook, speed_eta

    sent = []
    hook = AlertHook(send=lambda lvl, msg: sent.append((lvl, msg)), window_s=60.0)
    assert hook.alert("ERROR", "boom") is True
    assert hook.alert("ERROR", "boom") is False  # suppressed
    assert hook.alert("WARNING", "boom") is True  # different level = new key
    assert hook.alert("ERROR", "other") is True
    assert len(sent) == 3
    # long messages: key uses msg[:100], payload truncated to 500
    long = "x" * 1000
    assert hook.alert("ERROR", long) is True
    assert sent[-1][1] == "x" * 500
    assert hook.alert("ERROR", long + "tail-differs-after-100") is False

    speed, eta, pct = speed_eta(50, 100, 10.0)
    assert speed == 5.0 and eta == 10.0 and pct == 50.0
    assert speed_eta(0, None, 0.0) == (0.0, None, None)


@pytest.mark.slow  # hypothesis over many Spark-evaluated columns
def test_upper_bound_index_sql_matches_bisect(spark):
    """upper_bound_index_sql (the binary-search CASE tree under as-of
    bucketing) == Python's bisect_right on arbitrary cut lists and keys:
    dup cuts, keys exactly on a cut, +/-1e12 extremes, empty cuts, and a
    NULL key (bucket 0). One 1-row Spark job evaluates every generated
    case as its own column, the keys read from columns as the as-of join
    reads them."""
    import bisect

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from es_to_clickhouse_spark.functions import upper_bound_index_sql

    finite = st.floats(
        min_value=-1e12, max_value=1e12, allow_nan=False, allow_infinity=False
    )

    @given(
        st.lists(
            st.tuples(st.lists(finite, max_size=12), finite),
            min_size=1,
            max_size=25,
        )
    )
    @settings(max_examples=12, deadline=None)
    def check(cases):
        keys = [F.lit(None).cast("double").alias("_nullk")]
        for i, (cuts, key) in enumerate(cases):
            keys.append(F.lit(float(key)).alias(f"_k{i}"))
            # keys exactly ON a cut exercise the <= boundary
            if cuts:
                keys.append(F.lit(float(cuts[0])).alias(f"_b{i}"))
        base = spark.range(1).select(*keys)
        cols = [F.expr(upper_bound_index_sql([1.0, 2.0], "`_nullk`")).alias("n")]
        for i, (cuts, _key) in enumerate(cases):
            cols.append(F.expr(upper_bound_index_sql(cuts, f"`_k{i}`")).alias(f"c{i}"))
            if cuts:
                cols.append(
                    F.expr(upper_bound_index_sql(cuts, f"`_b{i}`")).alias(f"b{i}")
                )
        row = base.select(*cols).collect()[0]
        for i, (cuts, key) in enumerate(cases):
            want = bisect.bisect_right(sorted(cuts), key)
            assert row[f"c{i}"] == want, (cuts, key, row[f"c{i}"], want)
            if cuts:
                assert row[f"b{i}"] == bisect.bisect_right(sorted(cuts), cuts[0])
        assert row["n"] == 0

    check()
    # empty cuts: every key is in bucket 0
    assert upper_bound_index_sql([], "`x`") == "0"
