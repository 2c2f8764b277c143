"""Mergeable partial-state aggregates and their read-time estimators —
rollup.py."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from es_to_clickhouse_spark.rollup import (
    batch_partials,
    sketch_distinct,
    sketch_quantile,
)


def test_sketch_estimates_within_documented_bounds(spark):
    """Read-time estimators vs exact answers on deterministic data:
    p50/p95 from the k=256 sample within ~4-sigma rank error
    (sqrt(p(1-p)/k)), HLL distinct within 3x its 6.5% standard error.
    Deterministic hash -> the observed errors are fixed, so the
    assertions cannot flake."""
    n = 5000
    rows = [("g", i, float(i), i % 1200) for i in range(n)]
    schema = "d string, rid long, value double, uid long"
    r = (
        batch_partials(
            spark.createDataFrame(rows, schema), ["d"], "value",
            key_col="rid", distinct_col="uid",
        )
        .select(
            (F.col("v_sum") / F.col("v_cnt")).alias("v_avg"),
            sketch_quantile(F.col("v_qsk"), 0.5).alias("v_p50"),
            sketch_quantile(F.col("v_qsk"), 0.95).alias("v_p95"),
            sketch_distinct("v_hllr").alias("v_distinct"),
        )
        .collect()[0]
    )
    # values are 0..4999 uniform: rank error of the estimate = value
    # error / n. 4 sigma at p=.5, k=256 -> .125; at p=.95 -> .055
    assert abs(r.v_p50 - 2500.0) / n < 0.125, r.v_p50
    assert abs(r.v_p95 - 4750.0) / n < 0.055, r.v_p95
    assert abs(r.v_distinct - 1200) / 1200 < 0.195, r.v_distinct
    assert r.v_avg == sum(range(n)) / n


def test_sketch_null_values_excluded_but_counted_consistently(spark):
    """NULL values: excluded from the quantile sample (matching v_cnt's
    count(value) semantics); NULL distinct keys excluded from HLL."""
    rows = [("g", 1, 10.0, 5), ("g", 2, None, None), ("g", 3, 30.0, 5)]
    schema = "d string, rid long, value double, uid long"
    r = (
        batch_partials(
            spark.createDataFrame(rows, schema), ["d"], "value",
            key_col="rid", distinct_col="uid",
        )
        .select(
            "v_cnt",
            "v_qsk",
            sketch_quantile(F.col("v_qsk"), 0.5).alias("v_p50"),
            sketch_distinct("v_hllr").alias("v_distinct"),
        )
        .collect()[0]
    )
    assert r.v_cnt == 2 and len(r.v_qsk) == 2
    assert sorted(e.v for e in r.v_qsk) == [10.0, 30.0]
    assert r.v_p50 in (10.0, 30.0) and r.v_distinct >= 1


@pytest.mark.slow  # tier-1 time budget
def test_topk_partial_bounds_and_determinism(spark):
    """Heavy-hitter partial (v_topk/v_topk_err — the topKState analog)
    over a skewed batch: (a) every stored count is a LOWER bound and
    stored+err an UPPER bound of the true count, (b) every key whose
    true count exceeds err is present — so the genuinely heavy keys can
    never be lost, (c) absent keys have true count <= err, and (d)
    recomputing the same batch yields a bit-identical summary
    (deterministic compress via the total (count desc, key asc)
    order)."""
    import collections

    k = 8
    # skewed: 'hot' ~ 45%, 'warm' ~ 20%, long tail of 30 cold keys
    stream = (
        ["hot"] * 450 + ["warm"] * 200 + [f"cold{i % 30}" for i in range(350)]
    )
    # deterministic interleave so the partitions mix hot and cold
    stream = [stream[(i * 131) % len(stream)] for i in range(len(stream))]
    true = collections.Counter(stream)

    def run():
        df = spark.createDataFrame(
            [("g", i, 1.0, key) for i, key in enumerate(stream)],
            "d string, rid long, value double, page string",
        ).repartition(3)
        return batch_partials(
            df, ["d"], "value", topk_col="page", topk_k=k
        ).collect()[0]

    r = run()
    stored = {e.key: e.cnt for e in r.v_topk}
    err = r.v_topk_err
    assert len(stored) <= k and err > 0
    for key, cnt in stored.items():
        assert cnt <= true[key] <= cnt + err, (key, cnt, true[key], err)
    for key, tc in true.items():
        if tc > err:
            assert key in stored, (key, tc, err)
        if key not in stored:
            assert tc <= err, (key, tc, err)
    # the two real heavy hitters survive with tight lower bounds
    assert stored["hot"] >= true["hot"] - err
    assert stored["warm"] >= true["warm"] - err

    r2 = run()
    assert [tuple(e) for e in r2.v_topk] == [tuple(e) for e in r.v_topk]
    assert r2.v_topk_err == err


def test_topk_partial_small_grain_is_exact(spark):
    """Fewer distinct keys than topk_k: no compress fires, err stays 0,
    and the summary IS the exact count table."""
    rows = [("g", i, 1.0, ["a", "b", "c"][i % 3]) for i in range(90)]
    rows.append(("g", 99, 1.0, "a"))
    df = spark.createDataFrame(
        rows, "d string, rid long, value double, page string"
    )
    r = batch_partials(df, ["d"], "value", topk_col="page", topk_k=8).collect()[0]
    assert r.v_topk_err == 0
    assert {e.key: e.cnt for e in r.v_topk} == {"a": 31, "b": 30, "c": 30}


def test_argmax_partial_ties_and_nulls(spark):
    """v_amax (argMaxState analog): the (value, arg) struct max picks the
    largest value, ties break to the larger arg string, and NULL values
    never win."""

    def ev(rows):
        return spark.createDataFrame(rows, "d string, user_id long, value double")

    rows = [
        ("2024-01-01", 7, 10.0),
        ("2024-01-01", 3, 10.0),   # tie with u7: larger arg string wins
        ("2024-01-02", 1, None),   # NULL never wins
        ("2024-01-02", 2, 1.0),
        ("2024-01-01", 5, 2.0),
        ("2024-01-02", 9, 99.0),
    ]
    got = {
        str(r.d): (r["v_amax"]["v"], r["v_amax"]["a"])
        for r in batch_partials(ev(rows), ["d"], "value", arg_col="user_id").collect()
    }
    assert got["2024-01-01"] == (10.0, "7")  # tie -> max arg string
    assert got["2024-01-02"] == (99.0, "9")


def test_argmax_partial_exact_past_double_precision(spark):
    """bigint values beyond 2^53: a double cast in the v_amax struct
    would collapse 2^53 and 2^53+1 into the same value and could pick
    the wrong arg — the value must stay in its native orderable type in
    the partial."""
    base = 1 << 53
    df = spark.createDataFrame(
        [("2024-01-01", 1, base), ("2024-01-01", 2, base + 1),
         ("2024-01-01", 3, base - 1)],
        "d string, user_id long, value long",
    )
    r = batch_partials(df, ["d"], "value", arg_col="user_id").collect()[0]
    assert (r["v_amax"]["v"], r["v_amax"]["a"]) == (base + 1, "2")
    assert isinstance(r["v_amax"]["v"], int)
