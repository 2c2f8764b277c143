"""Corpus: joins, aggregations, windows, sorts/limits, set ops (SURVEY §2.3-§2.7).

The reference has no joins/windows/set-ops (SURVEY §2.3/§2.5/§2.7); the
north-star query surface requires them, so they enter the engine as pure
Catalyst-planned DataFrame operators. Scale notes per query:

- dimension joins carry explicit ``broadcast()`` hints (region/nation/
  supplier are tiny at any SF; the fact tables never shuffle for them);
- fact-fact joins shuffle on their keys and rely on AQE for skew;
- aggregations are expressed as ``groupBy().agg()`` → map-side partial
  aggregation for free;
- every LIMIT carries a unique total order (deterministic set under the
  driver's order-insensitive hash).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from es_to_clickhouse_spark.corpus import query, t
from es_to_clickhouse_spark.functions import epoch_micros, ts_seconds

#: process-level table-statistics cache (quantile cut points keyed by
#: (dataset, table, column)) — the analog of persisted range-partitioner
#: stats; recomputing them per query invocation was the j9 hot spot
_STATS_CACHE: dict[tuple, list[float]] = {}

# ------------------------------------------------------------------ joins


@query(
    "j1_inner_join_agg",
    """
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def j1_inner_join_agg(spark, sf_dir):
    """Inner join fact→dim with broadcast hint (customer is the small side)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "j2_left_join",
    """
    SELECT n.n_name, count(c.c_custkey) AS n_customers
    FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def j2_left_join(spark, sf_dir):
    """Left outer join preserving empty groups (count of nullable side)."""
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    return (
        n.join(c, c.c_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


@query(
    "j3_semi_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j3_semi_join(spark, sf_dir):
    """Left-semi join (EXISTS)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "j4_anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2001-01-01')
    """,
)
def j4_anti_join(spark, sf_dir):
    """Left-anti join (NOT EXISTS) — customers with no RECENT orders
    (none in the last 7 months of the order-date range). The date
    restriction keeps the anti-join path load-bearing at EVERY SF: with
    no cutoff the result was empty below sf0.1 (every customer has some
    order), a vacuous pass the EMPTY-PASS gate flags."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "j5_star_join",
    """
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    """,
)
def j5_star_join(spark, sf_dir):
    """TPC-H Q5-shaped star join: one shuffle join on the fact keys,
    all dimensions broadcast (zero shuffles for dims)."""
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .where(F.col("r_name").isin("ASIA", "EUROPE"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "j6_state_lookup_join",
    """
    WITH state AS (
      SELECT user_id, max(ts) AS last_ts FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id
    FROM events e JOIN state s
      ON e.user_id = s.user_id AND e.ts = s.last_ts
    """,
)
def j6_state_lookup_join(spark, sf_dir):
    """Per-key state lookup as a broadcast join — the distributed version
    of the reference's N point queries against _sync_state
    (es/es_to_bytehouse.py:967-976)."""
    e = t(spark, sf_dir, "events").alias("e")
    state = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("ts").alias("last_ts"))
        .withColumnRenamed("user_id", "s_user_id")
        .alias("s")
    )
    return (
        e.join(
            F.broadcast(state),
            (F.col("e.user_id") == F.col("s.s_user_id"))
            & (F.col("e.ts") == F.col("s.last_ts")),
        )
        .select(F.col("e.event_id").alias("event_id"), F.col("e.user_id").alias("user_id"))
    )


# ------------------------------------------------------------ aggregations


@query(
    "a1_max_watermark",
    """
    SELECT strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_sync_time,
           max(event_id) AS last_id,
           count(*) AS last_sync_count
    FROM events
    """,
)
def a1_max_watermark(spark, sf_dir):
    """Watermark seed aggregate (es/es_to_bytehouse.py:1115-1131)."""
    return (
        t(spark, sf_dir, "events")
        .agg(
            ts_seconds(F.max("ts")).alias("last_sync_time"),
            F.max("event_id").alias("last_id"),
            F.count(F.lit(1)).alias("last_sync_count"),
        )
    )


@query(
    "a3_count_by_group",
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
)
def a3_count_by_group(spark, sf_dir):
    """COUNT(*) totals (clickhouse/clickhouse_to_bytehouse.py:290-291)."""
    return (
        t(spark, sf_dir, "events").groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "a4_sum_accumulators",
    """
    SELECT user_id % 10 AS bucket,
           count(*) AS n,
           round(sum(value), 2) AS total_value,
           round(avg(value), 4) AS avg_value,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value
    FROM events GROUP BY user_id % 10
    """,
)
def a4_sum_accumulators(spark, sf_dir):
    """Running-sum accumulators as grouped aggregates (SURVEY A4) with the
    full min/max/avg family the reference lacks."""
    return (
        t(spark, sf_dir, "events")
        .groupBy((F.col("user_id") % 10).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
    )


@query(
    "a5_distinct_count",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT event_id) AS n_events
    FROM events GROUP BY event_type
    """,
)
def a5_distinct_count(spark, sf_dir):
    """DISTINCT aggregates (field-set collection analog, SURVEY A5)."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct("event_id").alias("n_events"),
        )
    )


@query(
    "a7_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a7_rollup(spark, sf_dir):
    """ROLLUP hierarchy totals."""
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "a8_cube",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def a8_cube(spark, sf_dir):
    """CUBE over two dimensions."""
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """Flagship: TPC-H Q1 pricing summary — scan+filter+wide aggregate,
    whole-stage-codegen end to end."""
    l = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ----------------------------------------------------------------- windows


@query(
    "w1_latest_per_key",
    """
    SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def w1_latest_per_key(spark, sf_dir):
    """Last-write-wins per key — the engine's upsert materialization
    (UNIQUE KEY _id semantics, es/es_to_bytehouse.py:329-334)."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        t(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "user_id", ts_seconds(F.col("ts")).alias("ts_s"))
    )


@query(
    "w2_rank_topn_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
      SELECT *, row_number() OVER (
        PARTITION BY o_orderpriority
        ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def w2_rank_topn_per_group(spark, sf_dir):
    """Top-N per group via ranking window (deterministic tiebreak)."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
    )


@query(
    "w3_running_sum",
    """
    SELECT event_id, user_id,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
    FROM events WHERE user_id < 5
    """,
)
def w3_running_sum(spark, sf_dir):
    """Cumulative frame aggregate."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t(spark, sf_dir, "events")
        .where(F.col("user_id") < 5)
        .select(
            "event_id",
            "user_id",
            F.round(F.sum("value").over(w), 2).alias("running_value"),
        )
    )


@query(
    "w4_lag_delta",
    """
    SELECT event_id, user_id,
           round(value - lag(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id), 2) AS value_delta
    FROM events WHERE user_id < 5
    """,
)
def w4_lag_delta(spark, sf_dir):
    """lag() analytic — per-user consecutive deltas."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        t(spark, sf_dir, "events")
        .where(F.col("user_id") < 5)
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value") - F.lag("value").over(w), 2).alias("value_delta"),
        )
    )


# ------------------------------------------------------------ sorts/limits


@query(
    "o1_top1_latest",
    """
    SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM events ORDER BY ts DESC, event_id DESC LIMIT 1
    """,
)
def o1_top1_latest(spark, sf_dir):
    """Top-1 latest row (ORDER BY … DESC LIMIT 1 state read,
    es/es_to_bytehouse.py:437-440)."""
    return (
        t(spark, sf_dir, "events")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(1)
        .select("event_id", ts_seconds(F.col("ts")).alias("ts_s"))
    )


@query(
    "o4_topk_recent",
    """
    SELECT event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM events ORDER BY ts DESC, event_id DESC LIMIT 10
    """,
)
def o4_topk_recent(spark, sf_dir):
    """Top-k recent rows (status query shape,
    clickhouse/clickhouse_to_bytehouse.py:209-215). Spark plans this as
    TakeOrderedAndProject — no global sort."""
    return (
        t(spark, sf_dir, "events")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(10)
        .select("event_id", "event_type", ts_seconds(F.col("ts")).alias("ts_s"))
    )


@query(
    "o5_limit_offset_page",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_orderkey LIMIT 100 OFFSET 200
    """,
)
def o5_limit_offset_page(spark, sf_dir):
    """LIMIT/OFFSET page (clickhouse/clickhouse_to_bytehouse.py:305) —
    supported, though the engine's native paging is keyset (s6)."""
    return (
        t(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .offset(200)
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------- set ops


@query(
    "st1_union_all",
    """
    SELECT c_custkey AS entity_key, c_name AS entity_name, 'customer' AS kind
    FROM customer
    UNION ALL
    SELECT s_suppkey AS entity_key, s_name AS entity_name, 'supplier' AS kind
    FROM supplier
    """,
)
def st1_union_all(spark, sf_dir):
    """UNION ALL of two entity sets."""
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_key"),
        F.col("c_name").alias("entity_name"),
        F.lit("customer").alias("kind"),
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_name").alias("entity_name"),
        F.lit("supplier").alias("kind"),
    )
    return c.unionAll(s)


@query(
    "st2_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def st2_intersect(spark, sf_dir):
    """INTERSECT (distinct) of nation-key sets."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "st3_except",
    """
    SELECT c_nationkey AS nationkey,
           CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band
    FROM customer
    EXCEPT
    SELECT s_nationkey, CAST(floor(s_acctbal / 2000) AS BIGINT)
    FROM supplier
    """,
)
def st3_except(spark, sf_dir):
    """EXCEPT — (nation, account-balance band) combinations that have
    customers but no supplier. The composite key (vs the original
    nation-only EXCEPT) keeps the set-difference path non-vacuous at
    every SF: above sf0.001 every nation has suppliers, so the old
    shape returned 0 rows — a vacuous pass the EMPTY-PASS gate flags.
    floor() over the exact decimal keeps the band integer-exact in
    both engines."""
    c = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"),
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"),
        F.floor(F.col("s_acctbal") / 2000).cast("long").alias("bal_band"),
    )
    return c.subtract(s)


@query(
    "st4_union_by_name",
    """
    SELECT event_id, event_type, value FROM events WHERE event_id < 100
    UNION ALL
    SELECT event_id, event_type, CAST(NULL AS DOUBLE) AS value
    FROM events WHERE event_id >= 100 AND event_id < 200
    """,
)
def st4_union_by_name(spark, sf_dir):
    """Schema-drift union: unionByName(allowMissingColumns=True) — the
    engine's accumulation step for evolving schemas (SURVEY §7.4 risk 1)."""
    ev = t(spark, sf_dir, "events")
    a = ev.where(F.col("event_id") < 100).select("event_id", "event_type", "value")
    b = (
        ev.where((F.col("event_id") >= 100) & (F.col("event_id") < 200))
        .select("event_id", "event_type")
    )
    return a.unionByName(b, allowMissingColumns=True)


# ------------------------------------------------- round-2 widening: joins


@query(
    "j7_asof_join",
    """
    WITH ref AS (
      SELECT user_id, ts, max(value) AS ref_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ), clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id, round(r.ref_value, 4) AS ref_value
    FROM clicks c ASOF LEFT JOIN ref r
      ON c.user_id = r.user_id AND c.ts >= r.ts
    """,
)
def j7_asof_join(spark, sf_dir):
    """Backward as-of join (operators.asof): each click gets the most
    recent prior purchase value of the same user. Implemented as
    union+window — one shuffle on the by-key, same cost as the sort-merge
    join Spark would plan for a plain equi-join; never materializes the
    O(n*m) range-join pair blowup."""
    from es_to_clickhouse_spark.operators.asof import asof_join

    e = t(spark, sf_dir, "events")
    ref = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("ref_value"))
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(clicks, ref, on="ts", by="user_id", right_cols=["ref_value"], suffix="")
    return out.select(
        "event_id", "user_id", F.round("ref_value", 4).alias("ref_value")
    )


@query(
    "j9_asof_global",
    """
    WITH idx AS (
      SELECT l_shipdate AS d, round(sum(l_extendedprice), 2) AS day_rev
      FROM lineitem GROUP BY l_shipdate
    )
    SELECT o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           i.day_rev
    FROM orders o ASOF LEFT JOIN idx i ON o.o_orderdate >= i.d
    """,
)
def j9_asof_global(spark, sf_dir):
    """GLOBAL backward as-of join (no equality key): each order gets the
    most recent daily-revenue index value at or before its order date.
    Without a by-key a naive global window is single-partition; the
    operator range-buckets on quantile cut points of the ordering column
    and fixes bucket boundaries with a broadcast carry-in table
    (operators/asof.py), so the sort parallelizes like Spark's own
    global orderBy. Cut points are table statistics — computed once per
    (dataset, column) and cached for later invocations, the way a real
    deployment would persist range-partitioner stats (any cut list is
    correct; placement only affects bucket balance)."""
    from es_to_clickhouse_spark.operators.asof import asof_join, quantile_cuts

    li = t(spark, sf_dir, "lineitem")
    idx = li.groupBy(F.col("l_shipdate").alias("d")).agg(
        F.round(F.sum("l_extendedprice"), 2).alias("day_rev")
    )
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").alias("d")
    )
    key = (sf_dir, "orders", "o_orderdate")
    if key not in _STATS_CACHE:
        _STATS_CACHE[key] = quantile_cuts(orders, "d")
    out = asof_join(
        orders, idx, on="d", right_cols=["day_rev"], suffix="", cuts=_STATS_CACHE[key]
    )
    return out.select(
        "o_orderkey",
        F.date_format("d", "yyyy-MM-dd").alias("orderdate"),
        "day_rev",
    )


@query(
    "rj1_range_join",
    """
    WITH p AS (SELECT DISTINCT o_orderdate AS d FROM orders),
    i AS (SELECT l_shipdate AS s,
                 l_shipdate + INTERVAL (l_linenumber * 3) DAY AS e
          FROM lineitem)
    SELECT strftime(p.d, '%Y-%m-%d') AS d, count(*) AS in_transit
    FROM p JOIN i ON p.d >= i.s AND p.d <= i.e
    GROUP BY p.d
    """,
)
def rj1_range_join(spark, sf_dir):
    """Point-in-interval join (items in transit per order date). Spark
    would plan the BETWEEN predicate as a nested-loop join; the operator
    (operators/range_join.py) buckets the time domain (1 week — transit
    spans are <= ~1 month) and hash-joins on the bucket key with the
    exact BETWEEN as residual filter, long_strategy='error' proving the
    plan stays nested-loop-free."""
    from es_to_clickhouse_spark.operators.range_join import range_join

    points = (
        t(spark, sf_dir, "orders").select(F.col("o_orderdate").alias("d")).distinct()
    )
    intervals = t(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").alias("s"),
        F.timestamp_add(
            "DAY", F.col("l_linenumber") * 3, F.col("l_shipdate")
        ).alias("e"),
    )
    joined = range_join(
        points,
        intervals,
        "d",
        "s",
        "e",
        width=7 * 86400.0,
        long_threshold=16,
        long_strategy="error",
    )
    return joined.groupBy("d").agg(F.count(F.lit(1)).alias("in_transit")).select(
        F.date_format("d", "yyyy-MM-dd").alias("d"), "in_transit"
    )


@query(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(3,2)))), 2)
                AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: fact-fact shuffle join on l_orderkey with the
    customer dim broadcast; filters pushed to the parquet scans on both
    fact sides before the join. Revenue sums exact decimals (prices are
    whole cents, discounts whole hundredths): a double sum lands a
    half-cent boundary on different sides of round(., 2) in Spark and
    DuckDB."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    return (
        l.where(F.col("l_shipdate") > F.lit("1998-03-15"))
        .join(
            o.where(F.col("o_orderdate") < F.lit("1998-03-15")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(c.where(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * (1 - F.col("l_discount").cast("decimal(3,2)"))
                ),
                2,
            ).cast("double").alias("revenue")
        )
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure scan-filter-aggregate; every predicate reaches
    the parquet reader (PushedFilters) and the agg is map-side partial —
    the zero-shuffle headline query."""
    l = t(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.08)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ------------------------------------------ round-2 widening: aggregations


@query(
    "a2_running_max",
    """
    SELECT event_id,
           round(max(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS run_max
    FROM events
    """,
)
def a2_running_max(spark, sf_dir):
    """In-flight running max (SURVEY A2: the reference's per-doc watermark
    advance, es/es_to_bytehouse.py:909-919) as a window aggregate."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t(spark, sf_dir, "events").select(
        "event_id", F.round(F.max("value").over(w), 4).alias("run_max")
    )


@query(
    "a9_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority), ())
    """,
)
def a9_grouping_sets(spark, sf_dir):
    """GROUPING SETS — the general form behind rollup (a7) / cube (a8);
    Spark expands to one shuffle with a grouping-id column."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority), ())
        """
    )


# ------------------------------------------------ round-2 widening: sorts


@query(
    "o2_keyset_page",
    """
    SELECT event_id, user_id, event_type FROM events
    WHERE event_id > 500 ORDER BY event_id LIMIT 100
    """,
)
def o2_keyset_page(spark, sf_dir):
    """Keyset pagination (SURVEY O2/S10: Mongo `_id > last` walk) — the
    scale-correct replacement for LIMIT/OFFSET: the predicate prunes at
    the scan, the sort is TakeOrderedAndProject. Keyset offset 500 so
    the page is non-empty at EVERY test SF (sf0.001 ids stop at 999;
    a higher cutoff would make this vacuously green there)."""
    return (
        t(spark, sf_dir, "events")
        .where(F.col("event_id") > 500)
        .orderBy("event_id")
        .limit(100)
        .select("event_id", "user_id", "event_type")
    )


@query(
    "q17_small_qty_revenue",
    """
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
        SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar subquery — Catalyst decorrelates
    it into an aggregate + join (no per-row re-execution), the classic
    optimizer transform the reference could never express."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q17")
    t(spark, sf_dir, "part").createOrReplaceTempView("part_q17")
    return spark.sql(
        """
        SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem_q17 l JOIN part_q17 p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < (
            SELECT 0.5 * avg(l2.l_quantity) FROM lineitem_q17 l2
            WHERE l2.l_partkey = l.l_partkey)
        """
    )


@query(
    "j8_salted_join",
    """
    SELECT c.c_mktsegment, count(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def j8_salted_join(spark, sf_dir):
    """Skew-resistant salted join (operators.partitioning.salted_join):
    the fact side fans out over 8 deterministic salts, the dim side is
    replicated per salt — same result as the plain join (the oracle IS the
    plain join), but no single hot key can straggle a shuffle partition."""
    from es_to_clickhouse_spark.operators.partitioning import salted_join

    o = t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "custkey")
    c = t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "custkey")
    joined = salted_join(o, c, on="custkey", big_unique_col="o_orderkey", n_salt=8)
    return joined.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_orders"))


@query(
    "st5_except_all",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def st5_except_all(spark, sf_dir):
    """EXCEPT ALL — multiset difference (keeps multiplicity), the bag
    semantics the distinct EXCEPT (st3) loses."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s)


@query(
    "st6_intersect_all",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def st6_intersect_all(spark, sf_dir):
    """INTERSECT ALL — multiset intersection (min multiplicity per
    value), completing the bag-semantics set-op family with st5."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersectAll(s)


@query(
    "j12_full_outer",
    """
    WITH co AS (
      SELECT c_nationkey AS nationkey, count(*) AS n_customers
      FROM customer GROUP BY c_nationkey
    ), so AS (
      SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
      FROM supplier GROUP BY s_nationkey
    )
    SELECT coalesce(co.nationkey, so.nationkey) AS nationkey,
           coalesce(co.n_customers, 0) AS n_customers,
           coalesce(so.n_suppliers, 0) AS n_suppliers
    FROM co FULL OUTER JOIN so ON co.nationkey = so.nationkey
    """,
)
def j12_full_outer(spark, sf_dir):
    """FULL OUTER join with coalesced keys — the reconciliation shape
    (rows on either side survive). Both inputs pre-aggregate to one row
    per key BEFORE the join, so the full-outer shuffle carries key
    cardinality, not fact cardinality — the way to full-outer-join two
    100 TB fact tables."""
    c = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    j = c.alias("c").join(
        s.alias("s"), F.col("c.nationkey") == F.col("s.nationkey"), "full_outer"
    )
    return j.select(
        F.coalesce(F.col("c.nationkey"), F.col("s.nationkey")).alias("nationkey"),
        F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
        F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
    )


@query(
    "a17_bool_aggs",
    """
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000)  AS all_over_1k,
           bool_or(o_totalprice > 400000) AS any_over_400k,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished
    FROM orders GROUP BY o_orderpriority
    """,
)
def a17_bool_aggs(spark, sf_dir):
    """Boolean aggregates (every / any) + FILTER-clause count — cheap
    partial-aggregable predicates over the whole fact scan."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
    )


@query(
    "o6_nulls_ordering",
    """
    WITH x AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END
               AS maybe_price
      FROM orders
    )
    SELECT o_orderkey, maybe_price FROM x
    ORDER BY maybe_price DESC NULLS LAST, o_orderkey
    LIMIT 50
    """,
)
def o6_nulls_ordering(spark, sf_dir):
    """Explicit NULLS LAST ordering under LIMIT — engines default
    differently (Spark NULLS LAST on DESC, DuckDB NULLS LAST since 0.8
    but FIRST historically), so portable top-k over a nullable key must
    pin the null position; unique o_orderkey tie-break keeps the set
    deterministic."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_totalprice"))
        .alias("maybe_price"),
    )
    return o.orderBy(
        F.col("maybe_price").desc_nulls_last(), F.col("o_orderkey")
    ).limit(50)


@query(
    "f21_date_functions",
    """
    SELECT o_orderkey,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since_95,
           dayofweek(o_orderdate) AS dow_sunday0,
           strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3m
    FROM orders WHERE o_orderkey % 11 = 0
    """,
)
def f21_date_functions(spark, sf_dir):
    """Calendar function parity: last_day / quarter trunc / datediff /
    day-of-week / month arithmetic (both engines clamp month-end on
    add-months). Spark dayofweek is 1=Sunday, DuckDB 0=Sunday — aligned
    by subtracting 1."""
    o = t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 11 == 0)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.date_trunc("quarter", d), "yyyy-MM-dd").alias(
            "quarter_start"
        ),
        F.datediff(d, F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since_95"),
        (F.dayofweek(d) - 1).alias("dow_sunday0"),
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus_3m"),
    )


@query(
    "a18_regression_aggs",
    """
    WITH b AS (
      SELECT event_type,
             CAST(epoch_us(ts) - 1700000000000000 AS DECIMAL(20,0)) / 1000000
               AS x,
             CAST(value AS DECIMAL(18,4)) AS y
      FROM events
    ), s AS (
      SELECT event_type,
             CAST(count(*) AS DECIMAL(20,0)) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM b GROUP BY event_type
    )
    SELECT event_type,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 8)
             AS slope_per_sec
    FROM s
    """,
)
def a18_regression_aggs(spark, sf_dir):
    """Per-group least-squares trend (value vs time) decomposed into
    DECIMAL sums: slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²). Decimal
    partial aggregation is EXACT, so the result is independent of
    partition/merge order — the built-in float `regr_slope` is not
    (its double sums drift with parallelism). One map-side-combinable
    pass; the epoch offset keeps x² inside the decimal range."""
    ev = t(spark, sf_dir, "events")
    x = (
        (epoch_micros(F.col("ts")) - F.lit(1700000000000000)).cast("decimal(20,0)")
        / 1000000
    ).alias("x")
    y = F.col("value").cast("decimal(18,4)").alias("y")
    b = ev.select("event_type", x, y)
    s = b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(20,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # exact decimal SUMS; the final slope arithmetic runs once per group
    # in double (fixed expression order → deterministic; Spark decimal
    # division would truncate quotient scale instead)
    n, sx, sy, sxy, sxx = (
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxy", "sxx")
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "event_type",
        F.round(slope, 8).alias("slope_per_sec"),
    )


@query(
    "a10_pivot",
    """
    SELECT user_id % 5 AS user_mod,
           count(*) FILTER (event_type = 'click')    AS click,
           count(*) FILTER (event_type = 'error')    AS error,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup')   AS signup,
           count(*) FILTER (event_type = 'view')     AS view
    FROM events GROUP BY 1
    """,
)
def a10_pivot(spark, sf_dir):
    """Pivot (long→wide conditional aggregation). Explicit value list —
    at scale an unlisted pivot would need a driver-side distinct pass."""
    e = t(spark, sf_dir, "events")
    out = (
        e.groupBy((F.col("user_id") % 5).alias("user_mod"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
    )
    # pivot yields NULL for empty cells; the FILTER oracle yields 0
    return out.select(
        "user_mod",
        *[
            F.coalesce(F.col(c), F.lit(0)).alias(c)
            for c in ["click", "error", "purchase", "signup", "view"]
        ],
    )


@query(
    "a11_exact_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4)  AS p50,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a11_exact_percentiles(spark, sf_dir):
    """Exact continuous percentiles (Spark `percentile` ≡ DuckDB
    quantile_cont interpolation). At 100 TB the approx variant
    (percentile_approx / t-digest) swaps in with one function change."""
    l = t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95"),
    )


@query(
    "w6_scd2_intervals",
    """
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from_s,
           strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    '%Y-%m-%d %H:%M:%S') AS valid_to_s,
           round(value, 4) AS value
    FROM events WHERE event_type = 'purchase'
    """,
)
def w6_scd2_intervals(spark, sf_dir):
    """SCD2 history construction: each change row becomes a
    [valid_from, valid_to) interval via lead() — the window expression of
    CDC merge (no Delta required; the guide's anti-join+window pattern)."""
    from es_to_clickhouse_spark.functions import epoch_micros, ts_seconds

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    return e.select(
        "user_id",
        ts_seconds(F.col("ts")).alias("valid_from_s"),
        ts_seconds(F.lead("ts").over(w)).alias("valid_to_s"),
        F.round("value", 4).alias("value"),
    )


@query(
    "t9_sessionization_batch",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS sess_id
      FROM g
    )
    SELECT user_id, sess_id, count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_s
    FROM s GROUP BY user_id, sess_id
    """,
)
def t9_sessionization_batch(spark, sf_dir):
    """Batch sessionization (30-min gap): lag + cumulative-sum session ids
    — the batch twin of t8's streaming session_window, one shuffle on the
    user key shared by both window passes."""
    from es_to_clickhouse_spark.functions import epoch_micros, ts_seconds

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e = t(spark, sf_dir, "events")
    g = e.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            | (epoch_micros(F.col("ts")) - epoch_micros(F.lag("ts").over(w)) > 1800 * 1000000),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_sess"),
        "event_id",
    )
    sess = g.select(
        "user_id", "ts",
        F.sum("new_sess").over(wsum).cast("long").alias("sess_id"),
    )
    return sess.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        ts_seconds(F.min("ts")).alias("start_s"),
        ts_seconds(F.max("ts")).alias("end_s"),
    )


@query(
    "rj2_interval_coverage",
    """
    WITH p AS (SELECT DISTINCT o_orderdate AS d FROM orders),
    i AS (SELECT l_shipdate AS s,
                 l_shipdate + INTERVAL (l_linenumber * 3) DAY AS e
          FROM lineitem)
    SELECT strftime(p.d, '%Y-%m-%d') AS d, count(*) AS n_covering
    FROM p JOIN i ON p.d >= i.s AND p.d <= i.e
    GROUP BY p.d
    """,
)
def rj2_interval_coverage(spark, sf_dir):
    """Same question as rj1 (items in transit per order date) answered by
    the SWEEP-LINE operator instead of pair materialization: +1/-1 deltas
    per boundary day, cumulative sum over the (time-domain-bounded)
    boundary table, global as-of lookup of each point's running coverage
    (operators/range_join.py interval_coverage). O(rows) work vs rj1's
    O(sum of interval spans) candidate pairs — the plan to prefer when
    only counts are needed."""
    from es_to_clickhouse_spark.operators.range_join import interval_coverage

    points = (
        t(spark, sf_dir, "orders").select(F.col("o_orderdate").alias("d")).distinct()
    )
    intervals = t(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").alias("s"),
        F.timestamp_add("DAY", F.col("l_linenumber") * 3, F.col("l_shipdate")).alias(
            "e"
        ),
    )
    # cut points are table statistics (same contract as j9's cache): the
    # coverage lookup's bucket cuts sample the truncated point column,
    # and recomputing them cost one driver quantile job per invocation.
    # Staleness trade: the entry is keyed on sf_dir and
    # never invalidated, so if the files under sf_dir are REWRITTEN
    # within one process lifetime the cuts reflect the first snapshot —
    # still correct (cut placement only moves bucket balance, any cut
    # list yields identical results) but potentially unbalanced. The
    # bench/oracle drivers read immutable fixture dirs, so a process
    # never observes a rewrite; long-lived services ingesting mutable
    # paths should key on a table fingerprint instead.
    from es_to_clickhouse_spark.operators.asof import quantile_cuts

    key = (sf_dir, "orders_dates_trunc", "d")
    if key not in _STATS_CACHE:
        _STATS_CACHE[key] = quantile_cuts(
            points.select(F.date_trunc("day", F.col("d")).alias("_bd")), "_bd"
        )
    cov = interval_coverage(
        points, intervals, "d", "s", "e", cuts=_STATS_CACHE[key]
    )
    return cov.select(F.date_format("d", "yyyy-MM-dd").alias("d"), "n_covering")


@query(
    "a12_stats_moments",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(covar_samp(l_quantity, l_extendedprice), 1) AS cov_qty_price,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a12_stats_moments(spark, sf_dir):
    """Second-moment statistics (stddev/variance/covariance/correlation)
    per return flag — single-pass co-moment aggregates, map-side
    combinable. Rounding absorbs the engines' different partial-merge
    orders (covariance sums cancel ~1e10 terms, hence the coarser
    rounding there)."""
    l = t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 1).alias(
            "cov_qty_price"
        ),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
    )


@query(
    "w7_distribution_windows",
    """
    SELECT c_custkey,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def w7_distribution_windows(spark, sf_dir):
    """Distribution window functions (ntile/percent_rank/cume_dist) per
    nation, ordered with a unique tiebreak so rank-dependent outputs are
    identical on every engine. Integer-ratio outputs need no rounding —
    (rank-1)/(n-1) is the same IEEE division everywhere."""
    from pyspark.sql.window import Window as W

    c = t(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@query(
    "w8_moving_sum_rows",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(sum(CAST(l_quantity AS BIGINT)) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS qty_4row
    FROM lineitem
    """,
)
def w8_moving_sum_rows(spark, sf_dir):
    """Moving 4-row sum per supplier (ROWS frame) — quantities are
    integral, summed as BIGINT for exactness. (order, line) pairs are NOT
    unique at sf0.1, so l_quantity joins the ordering: any remaining tie
    then agrees on the summed column, making every frame's sum invariant
    under the engines' tie permutation."""
    from pyspark.sql.window import Window as W

    l = t(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(-3, W.currentRow)
    )
    return l.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast("bigint")).over(w).cast("bigint").alias("qty_4row"),
    )


@query(
    "w9_trailing_range_window",
    """
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_7d,
           CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_7d
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
    """,
)
def w9_trailing_range_window(spark, sf_dir):
    """Trailing 7-day window per user (RANGE frame over epoch
    microseconds — integer-exact on both engines, peers included
    identically). The value sum runs in DECIMAL so partial order can't
    move a cent; cast to DOUBLE only for rendering."""
    from pyspark.sql.window import Window as W

    e = t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(epoch_micros(F.col("ts")))
        .rangeBetween(-604800000000, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_7d"),
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("sum_7d"),
    )


@query(
    "w12_funnel",
    """
    WITH v AS (
      SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
      GROUP BY e.user_id
    )
    SELECT v.user_id, v.t1 AS first_view_us, c.t2 AS first_click_us,
           p.t3 AS first_purchase_us
    FROM v LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def w12_funnel(spark, sf_dir):
    """Ordered funnel analysis (view → click-after-view →
    purchase-after-click) per user: each stage is a conditional min over
    the PREVIOUS stage's anchor — three partial-aggregated passes joined
    on user_id (one shuffle key throughout; a 100 TB event log reuses the
    same user partitioning for all three stages). Timestamps compare as
    exact epoch microseconds (floor-truncated identically from the
    source's nanos by both engines)."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_micros(F.col("ts")).alias("us")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.col("t1").alias("first_view_us"),
            F.col("t2").alias("first_click_us"),
            F.col("t3").alias("first_purchase_us"),
        )
    )


@query(
    "a15_winsorize_gate",
    """
    WITH cuts AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_total,
           count(*) FILTER (WHERE e.value < c.p05) AS n_clipped_low,
           count(*) FILTER (WHERE e.value > c.p95) AS n_clipped_high,
           round(any_value(c.p05), 4) AS p05,
           round(any_value(c.p95), 4) AS p95
    FROM events e JOIN cuts c ON e.event_type = c.event_type
    GROUP BY e.event_type
    """,
)
def a15_winsorize_gate(spark, sf_dir):
    """Winsorization gate for a training-data pipeline: per-group exact
    p05/p95 cut points (Spark `percentile` ≡ DuckDB quantile_cont) and
    how many rows each tail clip would touch. The cuts frame is tiny →
    broadcast back onto the fact scan; at scale the approx percentile
    swaps in with one function change."""
    ev = t(spark, sf_dir, "events")
    cuts = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    j = ev.join(F.broadcast(cuts), "event_type")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("value") < F.col("p05"), 1)).alias("n_clipped_low"),
        F.count(F.when(F.col("value") > F.col("p95"), 1)).alias("n_clipped_high"),
        F.round(F.first("p05"), 4).alias("p05"),
        F.round(F.first("p95"), 4).alias("p95"),
    )


@query(
    "w11_value_windows",
    """
    SELECT o_custkey, o_orderkey,
           round(first_value(o_totalprice) OVER w_run, 2) AS first_price,
           round(nth_value(o_totalprice, 2) OVER w_full, 2) AS second_price,
           round(last_value(o_totalprice) OVER w_full, 2) AS last_price
    FROM orders
    WINDOW
      w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      w_full AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def w11_value_windows(spark, sf_dir):
    """Value-picking window functions (first_value / nth_value /
    last_value): each customer's first, second and latest order price.
    last_value and nth_value take the explicit full frame (the default
    running frame would make last_value = current row — a classic
    pitfall, made explicit on both engines); ordering carries a unique
    tie-break (o_orderkey)."""
    o = t(spark, sf_dir, "orders")
    w_run = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w_run.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.first("o_totalprice").over(w_run), 2).alias("first_price"),
        F.round(F.nth_value("o_totalprice", 2).over(w_full), 2).alias(
            "second_price"
        ),
        F.round(F.last("o_totalprice").over(w_full), 2).alias("last_price"),
    )


#: one SQL text, executed verbatim by BOTH engines — the gateway surface
_S20_SQL = """
    SELECT r_name, year(o_orderdate) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, year(o_orderdate)
    HAVING count(*) > 10
"""


@query("s20_sql_gateway", _S20_SQL)
def s20_sql_gateway(spark, sf_dir):
    """The SQL gateway: the ORACLE STRING ITSELF is executed through
    spark.sql over registered views (es_to_clickhouse_spark/sql.py) — a
    reference user's ANSI SQL runs unchanged, with Catalyst applying
    pushdown/pruning/reordering/AQE to the declarative text."""
    from es_to_clickhouse_spark.sql import run_sql

    return run_sql(spark, sf_dir, _S20_SQL)


@query(
    "j10_asof_forward",
    """
    WITH ref AS (
      SELECT user_id, ts, max(value) AS ref_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ), clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id, round(r.ref_value, 4) AS ref_value
    FROM clicks c ASOF LEFT JOIN ref r
      ON c.user_id = r.user_id AND c.ts <= r.ts
    """,
)
def j10_asof_forward(spark, sf_dir):
    """Forward as-of join: each click gets the NEXT purchase value of the
    same user (right.on >= left.on). Same union+window plan as backward —
    one shuffle on the by-key, the `first() over following frame` mirror
    of the backward carry."""
    from es_to_clickhouse_spark.operators.asof import asof_join

    e = t(spark, sf_dir, "events")
    ref = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("ref_value"))
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(clicks, ref, on="ts", by="user_id", direction="forward")
    return out.select(
        "event_id", "user_id", F.round("ref_value_right", 4).alias("ref_value")
    )


@query(
    "j11_asof_nearest",
    """
    WITH ref AS (
      SELECT user_id, ts, max(value) AS ref_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ), clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), b AS (
      SELECT c.event_id, c.user_id, c.ts, r.ts AS bts, r.ref_value AS bval
      FROM clicks c ASOF LEFT JOIN ref r
        ON c.user_id = r.user_id AND c.ts >= r.ts
    ), f AS (
      SELECT c.event_id, r.ts AS fts, r.ref_value AS fval
      FROM clicks c ASOF LEFT JOIN ref r
        ON c.user_id = r.user_id AND c.ts <= r.ts
    )
    SELECT b.event_id, b.user_id,
           round(CASE WHEN fts IS NULL THEN bval
                      WHEN bts IS NULL THEN fval
                      WHEN (epoch_us(b.ts) - epoch_us(bts))
                           <= (epoch_us(fts) - epoch_us(b.ts)) THEN bval
                      ELSE fval END, 4) AS ref_value
    FROM b JOIN f USING (event_id)
    """,
)
def j11_asof_nearest(spark, sf_dir):
    """Nearest as-of join (ties -> backward, pandas merge_asof parity):
    both direction carries come out of ONE window sort; the distance test
    runs on exact integer microseconds so the tie-break matches any
    integer-arithmetic implementation."""
    from es_to_clickhouse_spark.operators.asof import asof_join

    e = t(spark, sf_dir, "events")
    ref = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("ref_value"))
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(clicks, ref, on="ts", by="user_id", direction="nearest")
    return out.select(
        "event_id", "user_id", F.round("ref_value_right", 4).alias("ref_value")
    )


@query(
    "a13_median_mad",
    """
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med_qty
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag, m.med_qty,
           quantile_cont(abs(l.l_quantity - m.med_qty), 0.5) AS mad_qty
    FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    GROUP BY l.l_returnflag, m.med_qty
    """,
)
def a13_median_mad(spark, sf_dir):
    """Robust statistics: per-group median + median-absolute-deviation —
    the two-pass aggregate→broadcast-join→aggregate shape every outlier
    filter uses. Spark percentile() interpolates identically to DuckDB
    quantile_cont (verified property of this corpus)."""
    l = t(spark, sf_dir, "lineitem")
    med = l.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("med_qty")
    )
    return (
        l.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag", "med_qty")
        .agg(
            F.percentile(
                F.abs(F.col("l_quantity") - F.col("med_qty")), F.lit(0.5)
            ).alias("mad_qty")
        )
    )


@query(
    "a14_histogram",
    """
    WITH b AS (
      SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
    )
    SELECT CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 20)), 19)
                AS BIGINT) AS bin,
           count(*) AS n
    FROM orders, b GROUP BY 1
    """,
)
def a14_histogram(spark, sf_dir):
    """Equi-width histogram with data-derived bounds: 1-row min/max
    broadcast, then a pure row-local binning expression (identical IEEE
    arithmetic on both engines — no width_bucket dependency)."""
    o = t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    binned = o.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / 20)
            ),
            F.lit(19).cast("bigint"),
        )
        .cast("bigint")
        .alias("bin")
    )
    return binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n"))


_S21_SQL = """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2)
             AS open_value
    FROM orders
    GROUP BY o_orderpriority
"""


@query("s21_sql_filtered_agg", _S21_SQL)
def s21_sql_filtered_agg(spark, sf_dir):
    """FILTER-clause aggregates through the SQL gateway — the standard-SQL
    conditional aggregation form, one verbatim text on both engines."""
    from es_to_clickhouse_spark.sql import run_sql

    return run_sql(spark, sf_dir, _S21_SQL)


@query(
    "t10_islands_gaps",
    """
    WITH g AS (
      SELECT user_id, event_id,
             event_id - row_number() OVER (
               PARTITION BY user_id ORDER BY event_id) AS grp
      FROM events
    )
    SELECT user_id, min(event_id) AS run_start, max(event_id) AS run_end,
           count(*) AS run_len
    FROM g GROUP BY user_id, grp HAVING count(*) >= 2
    """,
)
def t10_islands_gaps(spark, sf_dir):
    """Gaps-and-islands: maximal runs of consecutive event_ids per user
    (id minus row_number is constant within a run) — the sequence-
    completeness audit a sync pipeline runs to find dropped batches.
    One shuffle; no self-join."""
    from pyspark.sql.window import Window as W

    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    g = e.select(
        "user_id",
        "event_id",
        (F.col("event_id") - F.row_number().over(w)).alias("grp"),
    )
    return (
        g.groupBy("user_id", "grp")
        .agg(
            F.min("event_id").alias("run_start"),
            F.max("event_id").alias("run_end"),
            F.count(F.lit(1)).alias("run_len"),
        )
        .where(F.col("run_len") >= 2)
        .drop("grp")
    )


@query(
    "a16_unpivot",
    """
    WITH wide AS (
      SELECT o_orderpriority,
             count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
             count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
             count(*) FILTER (WHERE o_orderstatus = 'P') AS P
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, status, n FROM wide
    UNPIVOT (n FOR status IN (F, O, P))
    """,
)
def a16_unpivot(spark, sf_dir):
    """UNPIVOT (wide→long reshape, the inverse of a10_pivot): conditional
    counts per status widened then melted — Spark's unpivot() is a zero-
    shuffle projection (each input row yields k output rows in place)."""
    o = t(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        *[
            F.count(F.when(F.col("o_orderstatus") == s, 1)).alias(s)
            for s in ("F", "O", "P")
        ]
    )
    return wide.unpivot("o_orderpriority", ["F", "O", "P"], "status", "n")


@query(
    "w16_scd2_state_history",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_et
      FROM events
    ), chg AS (
      SELECT user_id, event_type, ts, event_id
      FROM ordered WHERE event_type IS DISTINCT FROM prev_et
    )
    SELECT user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    '%Y-%m-%d %H:%M:%S') AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
             AS is_current
    FROM chg
    """,
)
def w16_scd2_state_history(spark, sf_dir):
    """SCD2 dimension history (operators/scd.py): each user's
    event_type stream collapses to state VERSIONS with [valid_from,
    valid_to) intervals and an is_current flag — the warehouse answer
    to "what was this entity's state at time T" that the reference
    leaves to consumers of its raw replicated stream. Change detection
    is a null-safe lag compare; intervals are a lead over the change
    rows; both windows share one user_id Exchange, no self-join, no
    global sort — per-entity linear work at any scale."""
    from es_to_clickhouse_spark.operators.scd import scd2_intervals

    hist = scd2_intervals(
        t(spark, sf_dir, "events"),
        ["user_id"],
        ["event_type"],
        "ts",
        tiebreak_cols=["event_id"],
    )
    return hist.select(
        "user_id",
        "event_type",
        ts_seconds(F.col("valid_from")).alias("valid_from"),
        ts_seconds(F.col("valid_to")).alias("valid_to"),
        "is_current",
    )


@query(
    "j13_bloom_semi_join",
    """
    WITH keys AS (
      SELECT s_suppkey FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
    )
    SELECT l_returnflag,
           count(*) AS n_items,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
    FROM lineitem SEMI JOIN keys ON l_suppkey = s_suppkey
    GROUP BY l_returnflag
    """,
)
def j13_bloom_semi_join(spark, sf_dir):
    """Semi-join through an EXPLICIT Bloom runtime filter
    (operators/bloom.py): one nation's supplier keys collapse to a
    driver-held bitmap baked into lineitem's scan as a literal-array
    probe, so the scan stage discards ~96% of rows BEFORE any exchange;
    an exact semi-join on the survivors removes false positives. The
    oracle is a plain semi-join — the Bloom stage is
    equivalence-preserving by construction (no false negatives), which
    is exactly the property the value-hash gate certifies here. At
    100 TB this is the difference between shuffling every lineitem row
    to the join and shuffling only candidates."""
    from es_to_clickhouse_spark.operators.bloom import bloom_semi_join

    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    keys = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .where(F.col("n_name") == "NATION_3")
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    li = t(spark, sf_dir, "lineitem")
    hits = bloom_semi_join(li, keys, "l_suppkey")
    return hits.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_quantity").cast("double").alias("sum_qty"),
    )


@query(
    "a19_weighted_median",
    """
    WITH s AS (
      SELECT l_returnflag,
             l_extendedprice AS v,
             CAST(l_quantity AS BIGINT) AS w,
             sum(CAST(l_quantity AS BIGINT)) OVER
               (PARTITION BY l_returnflag
                ORDER BY l_extendedprice, l_orderkey, l_linenumber
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(CAST(l_quantity AS BIGINT)) OVER
               (PARTITION BY l_returnflag) AS tw
      FROM lineitem
    )
    SELECT l_returnflag,
           min(v) AS weighted_median,
           CAST(min(tw) AS BIGINT) AS total_weight
    FROM s WHERE 2 * cw >= tw GROUP BY l_returnflag
    """,
)
def a19_weighted_median(spark, sf_dir):
    """Exact weighted median (ClickHouse ``quantileExactWeighted(0.5)``
    analog): per return flag, the smallest price whose cumulative
    quantity weight reaches half the group's total. One window sort
    per group computes the running weight (deterministic total order:
    value, then the (orderkey, linenumber) PK); the selection is a
    plain filter + min — integer weight arithmetic throughout, no
    interpolation, so both engines pick the identical row. At scale
    this is the one-sort exact answer; the mergeable approximation for
    rollups is the v_qsk sketch (rollup.py)."""
    li = t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("l_returnflag")
    s = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.sum(F.col("l_quantity").cast("long")).over(w).alias("cw"),
        F.sum(F.col("l_quantity").cast("long")).over(wt).alias("tw"),
    )
    return (
        s.where(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("v").alias("weighted_median"),
            F.min("tw").alias("total_weight"),
        )
    )


@query(
    "w17_running_distinct",
    """
    WITH f AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS occ
      FROM events
    )
    SELECT user_id, event_id,
           CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS distinct_types_so_far
    FROM f WHERE user_id % 25 = 0
    """,
)
def w17_running_distinct(spark, sf_dir):
    """Running DISTINCT count per user (distinct event types seen up to
    each event) — the window frame can't hold a distinct set, so the
    classic rewrite: flag each (user, type)'s FIRST occurrence with one
    row_number, then a running sum of flags. Both windows share the
    user_id shuffle (the second sorts within it); no joins, no state,
    and the rewrite is exact — the pattern behind every 'unique items
    seen so far' product metric. Output sampled to every 25th user to
    bound rows."""
    e = t(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    f = e.select(
        "user_id",
        "event_id",
        "ts",
        F.row_number().over(w_first).alias("occ"),
    )
    return f.where(F.col("user_id") % 25 == 0).select(
        "user_id",
        "event_id",
        F.sum(F.when(F.col("occ") == 1, 1).otherwise(0))
        .over(w_run)
        .cast("long")
        .alias("distinct_types_so_far"),
    )


@query(
    "a20_bit_aggs",
    """
    SELECT event_type,
           CAST(bit_and(user_id) AS BIGINT) AS band,
           CAST(bit_or(user_id) AS BIGINT) AS bor,
           CAST(bit_xor(user_id) AS BIGINT) AS bxor,
           CAST(bit_or(CAST(1 AS BIGINT) << CAST(user_id % 62 AS INTEGER))
             AS BIGINT) AS presence_mask
    FROM events GROUP BY event_type
    """,
)
def a20_bit_aggs(spark, sf_dir):
    """Bitwise aggregates (ClickHouse groupBitAnd/Or/Xor parity) over
    user ids per event type, plus a 62-bit PRESENCE MASK (bit_or of
    1 << id%62) — the poor-man's bitmap index every warehouse builds
    for fast set membership. All integer-exact, fully partial-
    aggregable map-side (and/or/xor are associative+commutative), one
    tiny shuffle. The variable shift uses the SQL expression form
    (PySpark's shiftleft takes literals only — the rollup.py lesson)."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.bit_and("user_id").alias("band"),
        F.bit_or("user_id").alias("bor"),
        F.bit_xor("user_id").alias("bxor"),
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT))")
        ).alias("presence_mask"),
    )


@query(
    "j13_asof_tolerance",
    """
    WITH ref AS (
      SELECT user_id, epoch_us(ts) AS us, max(value) AS ref_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), clicks AS (
      SELECT event_id, user_id, epoch_us(ts) AS us
      FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id,
           CASE WHEN c.us - r.us <= 3600000000
                THEN round(r.ref_value, 4) END AS ref_value_1h,
           CASE WHEN c.us - r.us <= 3600000000
                THEN c.us - r.us END AS staleness_us
    FROM clicks c ASOF LEFT JOIN ref r
      ON c.user_id = r.user_id AND c.us >= r.us
    """,
)
def j13_asof_tolerance(spark, sf_dir):
    """As-of join with TOLERANCE (pandas merge_asof(tolerance=1h)): the
    most recent prior purchase enriches a click only if it is at most
    one hour stale — the freshness bound every feature-store lookup
    needs (an unbounded as-of silently serves week-old state). The
    bound composes on the existing as-of machinery as a post-predicate
    nulling both the value and the reported staleness: the match
    itself stays the one-shuffle union+window plan, and the tolerance
    costs one comparison per row — never a second range join."""
    from es_to_clickhouse_spark.operators.asof import asof_join

    e = t(spark, sf_dir, "events")
    ref = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id", epoch_micros(F.col("ts")).alias("us"), "value")
        .groupBy("user_id", "us")
        .agg(F.max("value").alias("ref_value"))
        .withColumn("ref_us", F.col("us"))
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", epoch_micros(F.col("ts")).alias("us")
    )
    j = asof_join(
        clicks, ref, on="us", by="user_id", right_cols=["ref_value", "ref_us"]
    )
    fresh = (F.col("us") - F.col("ref_us_right")) <= 3_600_000_000
    return j.select(
        "event_id",
        "user_id",
        F.when(fresh, F.round("ref_value_right", 4)).alias("ref_value_1h"),
        F.when(fresh, F.col("us") - F.col("ref_us_right")).alias("staleness_us"),
    )


@query(
    "a21_if_combinators",
    """
    WITH q AS (
      SELECT event_type, user_id, value,
             CAST(round(value * 1000000) AS BIGINT) AS v_micro
      FROM events
    )
    SELECT event_type,
           CAST(count(*) FILTER (value > 50) AS BIGINT) AS n_big,
           round(CAST(sum(v_micro) FILTER (value > 50) AS DOUBLE)
                 / 1000000, 2) AS sum_big,
           round(CAST(sum(v_micro) FILTER (value > 50) AS DOUBLE) / 1000000
                 / count(*) FILTER (value > 50), 4) AS avg_big,
           round(min(value) FILTER (user_id % 2 = 0), 2) AS min_even_user,
           round(max(value) FILTER (user_id % 2 = 1), 2) AS max_odd_user,
           CAST(count(DISTINCT user_id) FILTER (value > 90) AS BIGINT)
             AS n_users_gt90
    FROM q GROUP BY event_type
    """,
)
def a21_if_combinators(spark, sf_dir):
    """Conditional-aggregate battery (ClickHouse's ``-If`` combinators /
    SQL FILTER clause): countIf, sumIf, avgIf, minIf, maxIf, and
    distinct-countIf in ONE pass per group — the idiom that replaces N
    filtered self-aggregation subqueries with one scan (each condition
    is a when() inside the agg, partial-aggregated map-side like any
    other accumulator). Sums/averages ride per-row micro-unit integer quantization so
    the distributed accumulation is order-free (a 1-ulp avg divergence
    at a round-4 boundary surfaced at sf0.001 with plain double sums)."""
    e = t(spark, sf_dir, "events").withColumn(
        "v_micro", F.round(F.col("value") * 1000000).cast("long")
    )
    big = F.when(F.col("value") > 50, F.col("value"))
    big_micro = F.when(F.col("value") > 50, F.col("v_micro"))
    return e.groupBy("event_type").agg(
        F.count(big).alias("n_big"),
        F.round(F.sum(big_micro).cast("double") / 1000000, 2).alias("sum_big"),
        F.round(
            F.sum(big_micro).cast("double") / 1000000 / F.count(big), 4
        ).alias("avg_big"),
        F.round(
            F.min(F.when(F.col("user_id") % 2 == 0, F.col("value"))), 2
        ).alias("min_even_user"),
        F.round(
            F.max(F.when(F.col("user_id") % 2 == 1, F.col("value"))), 2
        ).alias("max_odd_user"),
        F.countDistinct(
            F.when(F.col("value") > 90, F.col("user_id"))
        ).alias("n_users_gt90"),
    )
