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


def test_triangle_salting_balances_pair_work(spark):
    """Skew-resilience property for the salted within-block pairing
    (operators/dedup.py salted_block_pairs): the parallelism claim was
    only measured — this pins it structurally so a refactor can't
    silently re-straggle the quadratic work.

    Replicates the salting math exactly (same Murmur3 salt, collected
    once from the JVM): for every hypothesis-generated block-size
    distribution — including the degenerate all-one-block corpus — the
    candidate-comparison count of the heaviest (block, partner_salt)
    bucket must stay a small multiple of the balanced share 2/n_salts.
    A de-salted refactor concentrates ~100% in one bucket; a halved
    salt space ~2x the share — both fail instantly. Also pins the plan:
    the explicit repartition on (_block, _salt_b) must survive (it is
    what defeats the one-task single-file scan, and AQE cannot restore
    it because quadratic compute is invisible to byte-size heuristics).
    """
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from es_to_clickhouse_spark.operators.dedup import salted_block_pairs

    import inspect

    # keep the Python replica below honest: it models the operator's
    # ACTUAL salt space (drifting defaults would fail here, not silently)
    n_salts = inspect.signature(salted_block_pairs).parameters["n_salts"].default
    assert n_salts == 16
    # the implementation's exact salt: abs(murmur3(id)) % n_salts
    salt_of = {
        r.id: r.s
        for r in spark.range(3000)
        .select("id", (F.abs(F.hash(F.col("id"))) % n_salts).alias("s"))
        .collect()
    }

    @given(
        st.lists(st.integers(min_value=50, max_value=400), min_size=1, max_size=6)
    )
    @settings(max_examples=50, deadline=None)
    def check(block_sizes):
        nid = iter(range(3000))
        max_bucket, total, per_block_nonempty = 0, 0, []
        for b, size in enumerate(block_sizes):
            counts = [0] * n_salts
            for _ in range(size):
                counts[salt_of[next(nid)]] += 1
            nonempty = 0
            left_cum = 0
            for j in range(n_salts):
                left_cum += counts[j]
                bucket = left_cum * counts[j]  # |a side| x |b side|
                if bucket:
                    nonempty += 1
                total += bucket
                max_bucket = max(max_bucket, bucket)
            per_block_nonempty.append(nonempty)
        # balanced share is ~2/n_salts; 2x headroom absorbs Murmur salt
        # fluctuation at size>=50 while still failing hard on any
        # re-straggle (de-salted ~= 1.0, halved salts ~= 2x share)
        assert max_bucket <= max(4.0 / n_salts * total, 1.0), (
            block_sizes, max_bucket, total,
        )
        # the quadratic work of EVERY block spreads over most salt buckets
        assert all(ne >= n_salts // 2 for ne in per_block_nonempty), (
            block_sizes, per_block_nonempty,
        )

    check()

    # degenerate corpus through the real operator: ONE block, and the
    # pinned exchange on (_block, _salt_b) present in the optimized plan
    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.lit("all").alias("_block"),
        (F.col("id") % 40).alias("v"),
    )
    pairs = salted_block_pairs(docs, "doc_id", ["v"])
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" in plan and "_salt_b" in plan, plan
    # the degenerate all-one-block corpus still returns every unordered
    # pair exactly once
    got = pairs.select(
        F.least("_ida", "_idb").alias("a"), F.greatest("_ida", "_idb").alias("b")
    )
    assert got.where(F.col("a") == F.col("b")).count() == 0
    assert got.count() == got.distinct().count() == 300 * 299 // 2
