"""windowFunnel as a generic n-condition Spark operator.

ClickHouse's ``windowFunnel(window)(ts, cond1, ..., condN)`` scans each
user's events imperatively; the Spark-first equivalent is N−1 CASCADED
RUNNING-MAX WINDOWS over one per-key sort: define

    s_1(row)  = max timestamp of any cond_1 row strictly before row
    s_i(row)  = max over prior cond_i rows c of s_{i-1}(c)

so ``s_i`` is the best (latest) chain start among depth-i prefixes
ending strictly before the current row. A depth-k chain exists at a
cond_k row iff ``s_{k-1} >= ts - window`` — the intermediate events are
then automatically inside the window, because the chain is time-ordered
and ends before ts <= start + window. One Exchange on the key, ONE
sort shared by every window, zero self-joins, zero per-user scans —
the plan a 100 TB event log wants.

The 3-level corpus instance is b6_window_funnel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def window_funnel(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    order_cols: list[str],
    conds: list[Column],
    window: int,
) -> DataFrame:
    """Max funnel depth per key: largest k such that events matching
    conds[0] < conds[1] < ... < conds[k-1] occur in order within
    ``window`` of the first. ``ts_col`` and ``window`` share a unit
    (epoch micros in the corpus); ``order_cols`` break timestamp ties
    deterministically (a unique id). Returns (key_col, funnel_level),
    level 0 = cond_1 never matched."""
    assert len(conds) >= 2, "a funnel needs at least two conditions"
    w_prev = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, *order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = df
    # s1 = latest prior cond_1 timestamp; s_i = best chain start among
    # prior cond_i rows (each withColumn is a new projection, so window
    # i may reference window i-1's output column)
    out = out.withColumn(
        "_s1", F.max(F.when(conds[0], F.col(ts_col))).over(w_prev)
    )
    for i in range(1, len(conds) - 1):
        out = out.withColumn(
            f"_s{i + 1}",
            F.max(F.when(conds[i], F.col(f"_s{i}"))).over(w_prev),
        )
    level_exprs = [F.when(conds[0], 1).otherwise(0)]
    for i in range(1, len(conds)):
        level_exprs.append(
            F.when(
                conds[i] & (F.col(f"_s{i}") >= F.col(ts_col) - window), 1
            ).otherwise(0)
        )
    agg = out.groupBy(key_col).agg(
        *[F.max(e).alias(f"_l{i + 1}") for i, e in enumerate(level_exprs)]
    )
    level = F.lit(0)
    for i in range(len(conds)):
        level = F.when(F.col(f"_l{i + 1}") == 1, i + 1).otherwise(level)
    return agg.select(key_col, level.alias("funnel_level"))
