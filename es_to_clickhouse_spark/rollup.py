"""Mergeable partial-state aggregates (the ClickHouse ``*State`` analogs).

The reference replicates raw rows and leaves aggregation to the target
warehouse, whose rollup tables hold aggregate STATES
(``quantileState``/``uniqState``/``topKState``/``argMaxState``;
clickhouse/clickhouse_to_bytehouse.py materializes into exactly such
tables). :func:`batch_partials` computes those states for one batch per
grain: sum/count/min/max (avg is derived sum/count at read time, never
stored, because stored averages don't merge) plus optional sketch
partials, each chosen so that merging two states is exact or carries a
stated bound:

- ``v_qsk`` (``key_col=``): quantile sample — the ``quantile_k`` rows
  with the smallest md5-derived hash of ``key_col``, stored as a sorted
  ``array<struct<h,v>>``. Bottom-k-by-hash is EXACTLY mergeable
  (bottom-k of a union == bottom-k of the per-part bottom-k's), and the
  estimator is engine-reproducible (DuckDB computes the same md5
  hash — the oracle pattern of operators/sketch.py). Rank error of the
  p-quantile estimate ~ sqrt(p(1-p)/k): ~3.1% at the median for k=256.
- ``v_hllr`` (``distinct_col=``): deterministic HLL registers (classic
  Flajolet HLL over the same engine-stable hash, p=``HLL_P``), stored
  SPARSE as a sorted ``array<struct<reg,rho>>`` — register-wise max is
  the merge, also exactly order-independent. ~6.5% standard error at
  p=8 (raw HLL, no bias branch — see operators/sketch.py hll_distinct
  for why the correction is deliberately omitted).
- ``v_topk`` + ``v_topk_err`` (``topk_col=``): heavy-hitter summary
  (Misra-Gries / SpaceSaving family): <= ``topk_k`` per-key LOWER-bound
  counts plus one undercount bound. Exact per-batch counts compress
  deterministically (total (count desc, key asc) order). Guarantee
  (Agarwal et al., Mergeable Summaries): stored <= true <= stored + err
  for present keys, true <= err for absent keys — so any key with true
  count > err is guaranteed present.
- ``v_amax`` (``arg_col=``): one (v, a) struct whose lexicographic max
  is exactly associative.

:func:`sketch_quantile` and :func:`sketch_distinct` read the estimates
off the states; corpus sk7–sk10 calibrate them against exact answers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from es_to_clickhouse_spark.operators.sketch import bottom_k_rows, hash32

QUANTILE_K = 256
HLL_P = 8
TOPK_K = 32


def _hll_registers(
    batch: DataFrame, grain_cols: list[str], distinct_col: str, p: int
) -> DataFrame:
    """Sparse HLL register state per grain: array<struct<reg,rho>> of
    per-register maxima (same arithmetic as operators/sketch.py
    hll_distinct — top ``p`` hash bits select the register, rho is the
    leading-zero count of the low bits + 1, every step engine-exact)."""
    low = 32 - p
    hv = hash32(F.col(distinct_col))
    w = hv.bitwiseAND((1 << low) - 1)
    rho = F.when(w == 0, F.lit(low + 1)).otherwise(
        F.lit(low + 1) - F.length(F.bin(w))
    )
    return (
        batch.where(F.col(distinct_col).isNotNull())
        .select(
            *grain_cols,
            F.shiftright(hv, low).cast("int").alias("reg"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*grain_cols, "reg")
        .agg(F.max("rho").alias("rho"))
        .groupBy(*grain_cols)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("reg"), F.col("rho")))
            ).alias("v_hllr")
        )
    )


def _mg_compress(
    counts: DataFrame, grain_cols: list[str], k: int, fanout: int = 8
) -> DataFrame:
    """Misra-Gries compress over exact per-(grain, key) counts: keep the
    top ``k`` by (count desc, key asc — a TOTAL order, so every step is
    deterministic), subtract the (k+1)-th count from the survivors, drop
    non-positives. The subtraction is what makes the summary MERGEABLE
    with a provable bound (Agarwal et al., "Mergeable Summaries"):
    stored count <= true count <= stored + err, where err accumulates
    every subtracted delta. Input must have columns ``_tk`` (key) and
    ``_tc`` (count).

    The selection is TWO-LEVEL like kmv_distinct: top (k+1) per
    (grain, key-hash slice) first, then (k+1) of the <= fanout*(k+1)
    survivors — a single-grain window would sort EVERY distinct key of
    the grain in one task (a billion-key day = one straggler). Exact:
    any key in the grain's global top (k+1) is in its slice's top
    (k+1), and only top-k keys can outrank the subtracted delta."""
    sliced = counts.withColumn("_sl", F.pmod(F.hash("_tk"), F.lit(fanout)))
    w1 = Window.partitionBy(*grain_cols, "_sl").orderBy(
        F.desc("_tc"), F.asc("_tk")
    )
    lvl1 = (
        sliced.withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= k + 1)
        .drop("_rn1", "_sl")
    )
    w = Window.partitionBy(*grain_cols).orderBy(
        F.desc("_tc"), F.asc("_tk")
    )
    wg = Window.partitionBy(*grain_cols)
    ranked = lvl1.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_delta",
        F.max(F.when(F.col("_rn") == k + 1, F.col("_tc")).otherwise(0)).over(wg),
    )
    kept = ranked.where(
        (F.col("_rn") <= k) & (F.col("_tc") - F.col("_delta") > 0)
    )
    return kept.groupBy(*grain_cols).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("_tk").alias("key"),
                    (F.col("_tc") - F.col("_delta")).alias("cnt"),
                )
            )
        ).alias("v_topk"),
        F.max("_delta").alias("_d"),
    )


def _topk_partial(
    batch: DataFrame, grain_cols: list[str], topk_col: str, k: int
) -> DataFrame:
    """Per-grain heavy-hitter summary of a micro-batch: exact counts
    (one map-side-combinable aggregate), then one MG compress. State is
    ``v_topk`` (key-sorted array of <= k lower-bound counts) plus
    ``v_topk_err`` (the cumulated undercount bound)."""
    counts = (
        batch.where(F.col(topk_col).isNotNull())
        .groupBy(*grain_cols, F.col(topk_col).cast("string").alias("_tk"))
        .agg(F.count(F.lit(1)).alias("_tc"))
    )
    out = _mg_compress(counts, grain_cols, k)
    return out.select(
        *grain_cols, "v_topk", F.col("_d").cast("long").alias("v_topk_err")
    )


def batch_partials(
    batch: DataFrame,
    grain_cols: list[str],
    value_col: str,
    key_col: str | None = None,
    distinct_col: str | None = None,
    quantile_k: int = QUANTILE_K,
    hll_p: int = HLL_P,
    topk_col: str | None = None,
    topk_k: int = TOPK_K,
    arg_col: str | None = None,
) -> DataFrame:
    """Aggregate a micro-batch to mergeable partial state per grain.

    ``key_col`` (a unique row id) enables the ``v_qsk`` quantile sample;
    ``distinct_col`` enables the ``v_hllr`` approx-distinct registers;
    ``topk_col`` enables the ``v_topk`` heavy-hitter summary (ClickHouse
    ``topKState`` analog); ``arg_col`` enables ``v_amax`` (the
    ``argMaxState`` analog: which entity carried the maximum value —
    one (v, a) struct whose lexicographic max is exactly associative,
    so incremental == recompute bit-for-bit; ties break to the largest
    arg string, deterministic where ClickHouse's is first-seen).
    The sketch options ride as extra columns joined on the grain — the
    joins are grain-co-partitioned aggregates over the same batch, and
    the sketch sides are bounded (<= quantile_k rows / <= 2^hll_p
    registers / <= topk_k counters per grain) regardless of batch
    size; ``v_amax`` is a plain extra agg, no join at all."""
    aggs = [
        F.sum(value_col).alias("v_sum"),
        F.count(value_col).alias("v_cnt"),
        F.min(value_col).alias("v_min"),
        F.max(value_col).alias("v_max"),
    ]
    if arg_col is not None:
        # the value stays in its NATIVE orderable type: struct max only
        # needs an ordering, and a double cast would collapse distinct
        # bigint/decimal values past 2^53, picking a wrong argmax and
        # losing v_amax_val precision
        aggs.append(
            F.max(
                F.when(
                    F.col(value_col).isNotNull(),
                    F.struct(
                        F.col(value_col).alias("v"),
                        F.col(arg_col).cast("string").alias("a"),
                    ),
                )
            ).alias("v_amax")
        )
    out = batch.groupBy(*grain_cols).agg(*aggs)
    if key_col is not None:
        sample = bottom_k_rows(
            batch.where(F.col(value_col).isNotNull()),
            grain_cols,
            key_col,
            quantile_k,
        )
        qsk = sample.groupBy(*grain_cols).agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("_qh").alias("h"),
                        F.col(value_col).cast("double").alias("v"),
                    )
                )
            ).alias("v_qsk")
        )
        out = out.join(qsk, list(grain_cols), "left")
    if distinct_col is not None:
        out = out.join(
            _hll_registers(batch, grain_cols, distinct_col, hll_p),
            list(grain_cols),
            "left",
        )
    if topk_col is not None:
        out = out.join(
            _topk_partial(batch, grain_cols, topk_col, topk_k),
            list(grain_cols),
            "left",
        )
        # a grain with only NULL topk values: empty summary, zero err
        out = out.withColumn(
            "v_topk_err", F.coalesce(F.col("v_topk_err"), F.lit(0))
        )
    return out


def sketch_quantile(v_qsk: Column, p: float) -> Column:
    """Discrete (type-1, ceil(p*n)) quantile estimate from the ``v_qsk``
    sample — the same nearest-rank arithmetic the corpus's exact
    discrete quantiles use (b5), applied to the sample. NULL when the
    sample is empty/NULL. Keep the `transform` lambda out of any plan
    that unions partials under a join: Spark 4's
    Union.rewriteConstraints crashes on array lambdas there."""
    vals = F.array_sort(F.transform(v_qsk, lambda e: e["v"]))
    n = F.size(vals)
    idx = F.greatest(F.ceil(F.lit(float(p)) * n).cast("int"), F.lit(1))
    return F.when(n > 0, F.element_at(vals, idx))


def sketch_distinct(v_hllr_name: str = "v_hllr", p: int = HLL_P) -> Column:
    """Distinct-count estimate from the sparse ``v_hllr`` registers —
    the raw-HLL estimator of operators/sketch.py hll_distinct (missing
    registers contribute 2^0 = 1 each; all float steps exact powers of
    two, so the result is engine-reproducible). Takes the COLUMN NAME:
    the per-register fold needs a variable shift (``shiftleft(1L,
    rho)``), which only the SQL expression form supports."""
    m = 1 << p
    alpha_mm = 0.7213 / (1.0 + 1.079 / m) * m * m
    s = F.expr(
        f"aggregate({v_hllr_name}, CAST(0.0 AS DOUBLE),"
        " (acc, e) -> acc + 1.0 / shiftleft(1L, e.rho))"
    )
    n = F.size(F.col(v_hllr_name))
    est = F.floor(F.lit(alpha_mm) / (s + (F.lit(float(m)) - n)))
    return F.when(n >= 0, est.cast("long"))
