"""Plan-level tests: salted joins match the plain join exactly
(operators/partitioning.py), and the salted within-block pairing
(operators/dedup.salted_block_pairs) spreads quadratic work evenly."""

from __future__ import annotations

from pyspark.sql import functions as F

from es_to_clickhouse_spark.operators.partitioning import salted_join


def test_unbucketed_join_does_shuffle(spark):
    """Control: the same join without bucketing plans an Exchange."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(1000).select(F.col("id").alias("k"))
        b = spark.range(1000).select(F.col("id").alias("k"))
        plan = a.join(b, "k")._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024)
        )


def test_salted_join_matches_plain_join(spark):
    # skewed fact: 90% of rows share key 0
    big = spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("row_id"),
    )
    small = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("dim_val")
    )
    plain = big.join(small, "k").select("row_id", "dim_val")
    salted = salted_join(big, small, "k", big_unique_col="row_id", n_salt=8).select(
        "row_id", "dim_val"
    )
    assert plain.subtract(salted).count() == 0
    assert salted.subtract(plain).count() == 0
    assert salted.count() == plain.count()


def test_salted_join_left_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, 10), (99, 11)], "k long, row_id long")
    small = spark.createDataFrame([(1, 5)], "k long, dim_val long")
    out = salted_join(big, small, "k", "row_id", n_salt=4, how="left")
    got = {r.row_id: r.dim_val for r in out.collect()}
    assert got == {10: 5, 11: None}


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style partitionBy + filter → PartitionFilters prune whole
    directories at plan time (the layout the sink uses for time-series
    targets; at 100 TB a day-filter reads one partition, not the table)."""
    df = spark.range(300).select(
        F.col("id"),
        F.concat(F.lit("2024-01-0"), ((F.col("id") % 3) + 1).cast("string")).alias(
            "dt"
        ),
    )
    path = str(tmp_path / "parted")
    df.write.partitionBy("dt").parquet(path)
    read = spark.read.parquet(path).where(F.col("dt") == "2024-01-02")
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "dt" in plan.split("PartitionFilters")[1][:120]
    assert read.count() == 100


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew handling: a 90%-one-key join completes with AQE on and
    produces exact results (the skew-join optimization is plan-internal;
    correctness + termination is the contract we pin here)."""
    from pyspark.sql import functions as F

    big = spark.range(200_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.range(100).select(F.col("id").alias("k"), F.lit("x").alias("tag"))
    joined = big.join(dim, "k")
    n = joined.count()
    # k=7 matches 180k rows; other dim keys (0,10,...,90 pattern) match 1 each
    expected = 180_000 + big.where((F.col("k") != 7) & (F.col("k") < 100)).count()
    assert n == expected


def _salt_pair_work(counts: list[int]) -> dict[tuple[int, int], int]:
    """Join rows per (lo, hi) key of dedup.salted_block_pairs for one
    block whose rows fall ``counts[s]`` into salt ``s``: the lower-salt
    side meets the higher at exactly one key, so key (lo, hi) joins
    counts[lo] * counts[hi] rows for lo < hi and counts[s]**2 for
    lo == hi (before the id-order filter halves the latter)."""
    n = len(counts)
    return {
        (lo, hi): counts[lo] * counts[hi] for lo in range(n) for hi in range(lo, n)
    }


def test_triangle_salting_balances_pair_work(spark):
    """Skew-resilience property for the salted within-block pairing
    (operators/dedup.py salted_block_pairs), pinned structurally so a
    refactor cannot silently re-straggle the quadratic work.

    The work model is the operator's (lo, hi) salt-pair key with its
    exact Murmur3 salt (collected once from the JVM), and the real
    operator's per-key output is checked against that model below. For
    every hypothesis-generated block-size distribution, including the
    degenerate all-one-block corpus, the heaviest key must stay a small
    multiple of the balanced share 1/n_keys (n_keys = n(n+1)/2 salt
    pairs): a de-salted refactor puts all of a block's work on one key,
    and the old (block, partner-salt) key's heaviest key carries over
    16x the balanced share.
    Also pins the plan: the explicit repartition on (_block, _salt_lo,
    _salt_hi) must survive (it is what defeats the one-task single-file
    scan; AQE cannot restore it because quadratic compute is invisible
    to byte-size heuristics).
    """
    import inspect
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from es_to_clickhouse_spark.operators.dedup import salted_block_pairs

    # keep the model honest: it uses the operator's ACTUAL salt space
    # (drifting defaults fail here, not silently)
    n_salts = inspect.signature(salted_block_pairs).parameters["n_salts"].default
    assert n_salts == 16
    n_keys = n_salts * (n_salts + 1) // 2
    # the implementation's exact salt: abs(murmur3(id)) % n_salts
    salt_of = {
        r.id: r.s
        for r in spark.range(3000)
        .select("id", (F.abs(F.hash(F.col("id"))) % n_salts).alias("s"))
        .collect()
    }

    def salt_counts(ids) -> list[int]:
        counts = [0] * n_salts
        for i in ids:
            counts[salt_of[i]] += 1
        return counts

    @given(
        st.lists(st.integers(min_value=50, max_value=400), min_size=1, max_size=6)
    )
    @settings(max_examples=50, deadline=None)
    def check(block_sizes):
        nid = iter(range(3000))
        max_key, total = 0, 0
        for size in block_sizes:
            work = _salt_pair_work(salt_counts(next(nid) for _ in range(size)))
            total += sum(work.values())
            max_key = max(max_key, max(work.values()))
        # 6x headroom absorbs Murmur salt fluctuation (a lone block of
        # 50..400 rows peaks at 3.6x, at 50 rows) while a de-salted key
        # (n_keys x) and the partner-salt key (16.7x at its best block
        # size in this range) fail hard
        assert max_key <= 6.0 / n_keys * total, (block_sizes, max_key, total)

    check()

    # degenerate corpus through the real operator: ONE block of 300 rows
    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.lit("all").alias("_block"),
        (F.col("id") % 40).alias("v"),
    )
    pairs = salted_block_pairs(docs, "doc_id", ["v"])
    qe = pairs._jdf.queryExecution()

    def repartition_keys(plan: str) -> list[list[str]]:
        return [
            [re.sub(r"#\d+L?$", "", k.strip()) for k in keys.split(",")]
            for keys in re.findall(r"RepartitionByExpression \[([^\]]*)\]", plan)
        ]

    analyzed = qe.analyzed().toString()
    assert ["_block", "_salt_lo", "_salt_hi"] in repartition_keys(analyzed), analyzed
    # and the optimizer keeps it (the constant block folds to a literal)
    optimized = qe.optimizedPlan().toString()
    assert any(
        keys[1:] == ["_salt_lo", "_salt_hi"] for keys in repartition_keys(optimized)
    ), optimized
    # the operator's pairs per key are the model's join rows per key,
    # less the same-salt duplicates its id-order filter drops
    counts = salt_counts(range(300))
    want = {
        k: w if k[0] < k[1] else counts[k[0]] * (counts[k[0]] - 1) // 2
        for k, w in _salt_pair_work(counts).items()
    }
    got = {
        (r["_salt_lo"], r["_salt_hi"]): r["count"]
        for r in pairs.groupBy("_salt_lo", "_salt_hi").count().collect()
    }
    assert got == {k: w for k, w in want.items() if w}
    # every unordered pair exactly once
    got_pairs = pairs.select(
        F.least("_ida", "_idb").alias("a"), F.greatest("_ida", "_idb").alias("b")
    )
    assert got_pairs.where(F.col("a") == F.col("b")).count() == 0
    assert got_pairs.count() == got_pairs.distinct().count() == 300 * 299 // 2
