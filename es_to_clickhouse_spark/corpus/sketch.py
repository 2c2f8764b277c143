"""Corpus: deterministic sketches — KMV cardinality, hash sampling,
hash-range splits (operators/sketch.py).

Spark's builtin HLL++ (approx_count_distinct) can't be oracle-checked
(engine-specific registers); KMV over the md5-derived 32-bit hash is the
same O(k) sketch with a DuckDB-bit-identical definition, so these run
under the full value-hash oracle like every other corpus query.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from es_to_clickhouse_spark.corpus import query, t
from es_to_clickhouse_spark.operators.sketch import (
    HASH_SPACE,
    hash_sample,
    hash_split,
    hll_distinct,
    kmv_distinct,
    weighted_sample,
)

_DUCK_H32 = "('0x'||substr(md5({x}),1,8))::BIGINT"


@query(
    "sk1_kmv_distinct",
    f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             {_DUCK_H32.format(x="CAST(user_id AS VARCHAR)")} AS hv
      FROM events
    ), r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ), s AS (
      SELECT event_type, count(*) AS n, max(hv) AS kth
      FROM r WHERE rn <= 64 GROUP BY event_type
    ), x AS (
      SELECT event_type, count(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT s.event_type,
           CAST(floor(CASE WHEN s.n < 64 THEN CAST(s.n AS DOUBLE)
                           ELSE 63 * 4294967296.0 / s.kth END) AS BIGINT)
             AS approx_distinct,
           x.exact_distinct
    FROM s JOIN x USING (event_type)
    """,
)
def sk1_kmv_distinct(spark, sf_dir):
    """KMV approximate distinct users per event type, alongside the exact
    count (so the estimate's error is visible in the result). The sketch
    reduces each group to its k=64 smallest distinct hashes via a
    two-level (salted, then global) selection — no task ever sorts a
    whole group."""
    e = t(spark, sf_dir, "events")
    approx = kmv_distinct(e, ["event_type"], "user_id", k=64)
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return approx.join(exact, "event_type")


_SAMPLE_CUT = int(0.10 * HASH_SPACE)


@query(
    "sk2_hash_sample",
    f"""
    SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE {_DUCK_H32.format(x="'smp'||CAST(doc_id AS VARCHAR)")} < {_SAMPLE_CUT}
    GROUP BY lang
    """,
)
def sk2_hash_sample(spark, sf_dir):
    """Reproducible 10% document sample by key hash: unlike df.sample it
    yields the SAME rows on every engine, rerun, and reshard, and the
    predicate is row-local (no shuffle, evaluated in the scan stage)."""
    d = hash_sample(t(spark, sf_dir, "documents"), "doc_id", 0.10, salt="smp")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("chars")
    )


_B_TRAIN = int(0.8 * HASH_SPACE)
_B_VAL = int((0.8 + 0.1) * HASH_SPACE)


@query(
    "sk3_hash_split",
    f"""
    WITH s AS (
      SELECT lang,
             CASE WHEN hv < {_B_TRAIN} THEN 'train'
                  WHEN hv < {_B_VAL} THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT lang,
                   {_DUCK_H32.format(x="'split'||CAST(doc_id AS VARCHAR)")} AS hv
            FROM documents)
    )
    SELECT lang, split, count(*) AS n FROM s GROUP BY lang, split
    """,
)
def sk3_hash_split(spark, sf_dir):
    """Leakage-free train/val/test assignment (80/10/10) as a pure
    function of doc_id: membership survives reshards, reruns, and
    incremental appends — the property a training pipeline needs."""
    d = t(spark, sf_dir, "documents")
    assigned = d.select(
        "lang", hash_split(F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1})
    )
    return assigned.groupBy("lang", "split").agg(F.count(F.lit(1)).alias("n"))


@query(
    "sk4_stratified_sample",
    f"""
    WITH r AS (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {_DUCK_H32.format(x="'strat'||CAST(doc_id AS VARCHAR)")},
                        doc_id
             ) AS rn
      FROM documents
    )
    SELECT lang, doc_id FROM r WHERE rn <= 50
    """,
)
def sk4_stratified_sample(spark, sf_dir):
    """Fixed-size deterministic sample per language stratum (the 50 docs
    with smallest keyed hash): reproducible across engines and reruns,
    one shuffle on the stratum key — what sampleBy() can't give
    (binomial sizes, RNG seeds that don't survive engine changes)."""
    from es_to_clickhouse_spark.operators.sketch import stratified_sample

    d = t(spark, sf_dir, "documents")
    return stratified_sample(d, ["lang"], "doc_id", 50).select("lang", "doc_id")


@query(
    "sk5_hll_distinct",
    f"""
    WITH h AS (
      SELECT event_type,
             {_DUCK_H32.format(x="CAST(user_id AS VARCHAR)")} AS hv
      FROM events
    ), r AS (
      SELECT event_type, hv >> 24 AS reg,
             CASE WHEN (hv & 16777215) = 0 THEN 25
                  ELSE 25 - length(bin(hv & 16777215)) END AS rho
      FROM h
    ), mx AS (
      SELECT event_type, reg, max(rho) AS maxrho FROM r GROUP BY event_type, reg
    ), a AS (
      SELECT event_type, count(*) AS n,
             sum(CAST(1.0 AS DOUBLE) / (1::BIGINT << maxrho)) AS s
      FROM mx GROUP BY event_type
    ), x AS (
      SELECT event_type, count(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT a.event_type,
           CAST(floor(CAST(47072.71267120224 AS DOUBLE)
                      / (s + (CAST(256.0 AS DOUBLE) - n))) AS BIGINT)
             AS approx_distinct,
           x.exact_distinct
    FROM a JOIN x USING (event_type)
    """,
)
def sk5_hll_distinct(spark, sf_dir):
    """HyperLogLog (p=8) distinct users per event type next to the exact
    count. Every float op is exact or order-independent (register sums are
    sums of powers of two), so raw HLL is bit-reproducible on any engine —
    see operators/sketch.py hll_distinct. ~6.5% standard error by design;
    the (group, register) aggregate is map-side combinable, so the shuffle
    carries <= 256 rows per group regardless of data size."""
    e = t(spark, sf_dir, "events")
    approx = hll_distinct(e, ["event_type"], "user_id", p=8)
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return approx.join(exact, "event_type")


@query(
    "sk7_quantile_sketch_calibration",
    f"""
    WITH h AS (
      SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS v,
             {_DUCK_H32.format(x="'qsk'||CAST(doc_id AS VARCHAR)")} AS hv
      FROM documents
    ), r AS (
      SELECT lang, v,
             row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn
      FROM h
    ), s AS (
      SELECT lang, v,
             row_number() OVER (PARTITION BY lang ORDER BY v) AS vr,
             count(*) OVER (PARTITION BY lang) AS n
      FROM r WHERE rn <= 64
    ), est AS (
      SELECT lang,
             CAST(max(CASE WHEN vr = greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)
                           THEN v END) AS BIGINT) AS p50_est,
             CAST(max(CASE WHEN vr = greatest(CAST(ceil(0.95 * n) AS BIGINT), 1)
                           THEN v END) AS BIGINT) AS p95_est
      FROM s GROUP BY lang
    ), q AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS vr,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents
    ), ex AS (
      SELECT lang,
             CAST(max(CASE WHEN vr = greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)
                           THEN n_chars END) AS BIGINT) AS p50_exact,
             CAST(max(CASE WHEN vr = greatest(CAST(ceil(0.95 * n) AS BIGINT), 1)
                           THEN n_chars END) AS BIGINT) AS p95_exact
      FROM q GROUP BY lang
    )
    SELECT est.lang, p50_est, p95_est, p50_exact, p95_exact
    FROM est JOIN ex USING (lang)
    """,
)
def sk7_quantile_sketch_calibration(spark, sf_dir):
    """Calibration of the rollup's mergeable quantile partial (rollup.py
    ``v_qsk``): per-language p50/p95 of n_chars estimated from the
    k=64 bottom-k-by-hash sample NEXT TO the exact discrete quantiles,
    so the sketch's rank error is visible in the result — the same
    estimator-vs-truth pattern as sk1/sk5/d12. The sample selection and
    the ceil(p*n) nearest-rank arithmetic are replicated bit-for-bit by
    the DuckDB oracle (engine-stable md5 hash, doc_id tiebreak), so
    this runs under the full value-hash gate. Exercises the REAL rollup
    code path: batch_partials builds the sample, sketch_quantile reads
    it — what ClickHouse ``quantileState`` gives the reference's target
    warehouse, maintained incrementally here instead."""
    from es_to_clickhouse_spark.rollup import batch_partials, sketch_quantile

    d = t(spark, sf_dir, "documents")
    parts = batch_partials(
        d, ["lang"], "n_chars", key_col="doc_id", quantile_k=64
    )
    est = parts.select(
        "lang",
        sketch_quantile(F.col("v_qsk"), 0.5).cast("bigint").alias("p50_est"),
        sketch_quantile(F.col("v_qsk"), 0.95).cast("bigint").alias("p95_est"),
    )
    wv = Window.partitionBy("lang").orderBy("n_chars")
    wn = Window.partitionBy("lang")
    q = d.select(
        "lang",
        "n_chars",
        F.row_number().over(wv).alias("vr"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def exq(p, name):
        idx = F.greatest(
            F.ceil(F.lit(p) * F.col("n")).cast("int"), F.lit(1)
        )
        return (
            F.max(F.when(F.col("vr") == idx, F.col("n_chars")))
            .cast("bigint")
            .alias(name)
        )

    exact = q.groupBy("lang").agg(exq(0.5, "p50_exact"), exq(0.95, "p95_exact"))
    return est.join(exact, "lang")


@query(
    "sk8_session_p95_sketch",
    f"""
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
    ), sess AS (
      SELECT user_id, sess_id,
             CAST(user_id AS VARCHAR)||'#'||CAST(sess_id AS VARCHAR) AS skey,
             CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS dur_us
      FROM s GROUP BY user_id, sess_id
    ), r AS (
      SELECT v, skey FROM (
        SELECT CAST(dur_us AS DOUBLE) AS v, skey,
               row_number() OVER (
                 ORDER BY {_DUCK_H32.format(x="'qsk'||skey")}, skey) AS rn
        FROM sess
      ) WHERE rn <= 128
    ), q AS (
      SELECT v, row_number() OVER (ORDER BY v) AS vr, count(*) OVER () AS n
      FROM r
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM sess) AS n_sessions,
           CAST(max(CASE WHEN vr = greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)
                         THEN v END) AS BIGINT) AS p50_est,
           CAST(max(CASE WHEN vr = greatest(CAST(ceil(0.95 * n) AS BIGINT), 1)
                         THEN v END) AS BIGINT) AS p95_est,
           (SELECT CAST(max(dur_us) AS BIGINT) FROM sess) AS max_dur_us
    FROM q
    """,
)
def sk8_session_p95_sketch(spark, sf_dir):
    """b5's AT-SCALE path made real: session-duration p50/p95 from the
    rollup's mergeable bottom-k quantile sample (k=128) instead of
    collecting every duration into one array cell. Same sessionization
    plan as b5 (30-min gap, one user_id shuffle); the session rows then
    reduce to a bounded sketch whose estimate the DuckDB oracle
    replicates bit-for-bit (md5 bottom-k + ceil(p*n) selection). At a
    billion sessions b5's exact array cell is the scale hazard — this
    query IS the documented swap, and bottom-k merges exactly across
    batches."""
    from es_to_clickhouse_spark.functions import epoch_micros
    from es_to_clickhouse_spark.rollup import batch_partials, sketch_quantile

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e = t(spark, sf_dir, "events")
    g = e.select(
        "user_id", "ts", "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (epoch_micros(F.col("ts")) - epoch_micros(F.lag("ts").over(w))
               > 1800 * 1000000),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("new_sess"),
    )
    s = g.select(
        "user_id", "ts",
        F.sum("new_sess").over(wsum).cast("long").alias("sess_id"),
    )
    sess = s.groupBy("user_id", "sess_id").agg(
        (epoch_micros(F.max("ts")) - epoch_micros(F.min("ts"))).alias("dur_us")
    )
    keyed = sess.select(
        F.lit(1).alias("_g"),
        F.concat_ws("#", F.col("user_id"), F.col("sess_id")).alias("skey"),
        "dur_us",
    )
    parts = batch_partials(
        keyed, ["_g"], "dur_us", key_col="skey", quantile_k=128
    )
    return parts.select(
        F.col("v_cnt").cast("bigint").alias("n_sessions"),
        sketch_quantile(F.col("v_qsk"), 0.5).cast("bigint").alias("p50_est"),
        sketch_quantile(F.col("v_qsk"), 0.95).cast("bigint").alias("p95_est"),
        F.col("v_max").cast("bigint").alias("max_dur_us"),
    )


@query(
    "sk6_weighted_sample",
    f"""
    WITH s AS (
      SELECT doc_id, lang, n_chars,
             -ln(({_DUCK_H32.format(x="'wsmp'||CAST(doc_id AS VARCHAR)")}
                  + CAST(0.5 AS DOUBLE)) / CAST(4294967296.0 AS DOUBLE))
               / n_chars AS score
      FROM documents
    )
    SELECT doc_id, lang, n_chars FROM s ORDER BY score, doc_id LIMIT 50
    """,
)
def sk6_weighted_sample(spark, sf_dir):
    """Deterministic weighted sample (A-ES exponential clocks): 50 docs
    drawn with probability proportional to n_chars, reproducible across
    engines/reruns. Two-level top-n — no global sort."""
    d = t(spark, sf_dir, "documents")
    return weighted_sample(d, "doc_id", "n_chars", 50).select(
        "doc_id", "lang", "n_chars"
    )


@query(
    "sk9_hll_rollup_calibration",
    f"""
    WITH h AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
             {_DUCK_H32.format(x="CAST(user_id AS VARCHAR)")} AS hv
      FROM events WHERE user_id IS NOT NULL
    ), r AS (
      SELECT d, hv >> 24 AS reg,
             CASE WHEN (hv & 16777215) = 0 THEN 25
                  ELSE 25 - length(bin(hv & 16777215)) END AS rho
      FROM h
    ), mx AS (
      SELECT d, reg, max(rho) AS maxrho FROM r GROUP BY d, reg
    ), a AS (
      SELECT d, count(*) AS n,
             sum(CAST(1.0 AS DOUBLE) / (1::BIGINT << maxrho)) AS s
      FROM mx GROUP BY d
    ), x AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
             count(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY 1
    )
    SELECT a.d,
           CAST(floor(CAST(47072.71267120224 AS DOUBLE)
                      / (s + (CAST(256.0 AS DOUBLE) - n))) AS BIGINT)
             AS approx_distinct,
           x.exact_distinct
    FROM a JOIN x USING (d)
    """,
)
def sk9_hll_rollup_calibration(spark, sf_dir):
    """Calibration of the rollup's mergeable approx-distinct partial
    (rollup.py ``v_hllr`` + ``sketch_distinct`` — the ClickHouse
    ``uniqState`` analog): daily distinct users estimated from the
    SPARSE register state next to the exact count, the sk5/sk7
    estimator-vs-truth pattern. Exercises the REAL rollup code path —
    _hll_registers builds the per-grain state, sketch_distinct's
    SQL-expression fold reads it — and the DuckDB oracle reproduces
    every register and every float step bit-for-bit (exact powers of
    two; raw HLL, no libm-dependent bias branch)."""
    from es_to_clickhouse_spark.rollup import batch_partials, sketch_distinct

    e = t(spark, sf_dir, "events").select(
        F.to_date("ts").cast("string").alias("d"), "user_id",
        F.lit(1.0).alias("one"),
    )
    parts = batch_partials(e, ["d"], "one", distinct_col="user_id")
    approx = parts.select("d", sketch_distinct("v_hllr").alias("approx_distinct"))
    exact = e.groupBy("d").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return approx.join(exact, "d")


@query(
    "sk10_topk_rollup_exact",
    """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
           event_type AS key,
           count(*) AS cnt,
           CAST(0 AS BIGINT) AS err
    FROM events WHERE event_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def sk10_topk_rollup_exact(spark, sf_dir):
    """Oracle coverage for the rollup's heavy-hitter partial
    (rollup.py ``v_topk``/``v_topk_err``) in its EXACT regime: with
    fewer distinct keys than ``topk_k`` the Misra-Gries compress never
    fires, so the summary IS the per-grain count table and the error
    bound is 0 — which a plain GROUP BY oracle can certify. The lossy
    regime's guarantees (stored <= true <= stored + err; heavy keys
    never lost; deterministic replay) are split-dependent and pinned by
    tests/test_rollup.py instead. Exercises the real code path: exact
    counts -> windowed compress -> key-sorted array state -> explode."""
    from es_to_clickhouse_spark.rollup import batch_partials

    e = t(spark, sf_dir, "events").select(
        F.to_date("ts").cast("string").alias("d"),
        "event_type",
        F.lit(1.0).alias("one"),
    )
    parts = batch_partials(e, ["d"], "one", topk_col="event_type", topk_k=32)
    return parts.select(
        "d", F.explode("v_topk").alias("_e"), F.col("v_topk_err").alias("err")
    ).select(
        "d",
        F.col("_e.key").alias("key"),
        F.col("_e.cnt").alias("cnt"),
        "err",
    )


@query(
    "w18_sliding_hll_distinct",
    f"""
    WITH u AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id
      FROM events WHERE user_id IS NOT NULL
    ), days AS (SELECT DISTINCT d FROM u),
    h AS (
      SELECT d, user_id,
             {_DUCK_H32.format(x="CAST(user_id AS VARCHAR)")} AS hv
      FROM u
    ), wexp AS (
      SELECT days.d AS w, h.hv
      FROM days JOIN h ON h.d BETWEEN days.d AND days.d + 6
    ), r AS (
      SELECT w, hv >> 24 AS reg,
             CASE WHEN (hv & 16777215) = 0 THEN 25
                  ELSE 25 - length(bin(hv & 16777215)) END AS rho
      FROM wexp
    ), mx AS (
      SELECT w, reg, max(rho) AS maxrho FROM r GROUP BY w, reg
    ), a AS (
      SELECT w, count(*) AS n,
             sum(CAST(1.0 AS DOUBLE) / (1::BIGINT << maxrho)) AS s
      FROM mx GROUP BY w
    ), x AS (
      SELECT days.d AS w, count(DISTINCT u.user_id) AS exact_distinct
      FROM days JOIN u ON u.d BETWEEN days.d AND days.d + 6
      GROUP BY 1
    )
    SELECT strftime(a.w, '%Y-%m-%d') AS window_start,
           CAST(floor(CAST(47072.71267120224 AS DOUBLE)
                      / (s + (CAST(256.0 AS DOUBLE) - n))) AS BIGINT)
             AS approx_distinct,
           x.exact_distinct
    FROM a JOIN x ON a.w = x.w
    """,
)
def w18_sliding_hll_distinct(spark, sf_dir):
    """Sliding-window approx distinct: 7-day distinct users per window
    start, estimated by MERGING per-day HLL registers across the window
    — the at-scale replacement for b3's exact explode when windows are
    long (register state per (day, reg) is bounded at 256 rows/day
    forever; the exact path reshuffles every (day, user) pair). The
    window union is a register-wise max (HLL merge is exactly
    order/duplicate-insensitive), composed with b3's explode-to-window-
    starts trick so it stays an equi-groupBy. Exact count reported
    alongside — the sk9 calibration pattern on a WINDOWED axis; every
    register and float step is engine-replicated bit-for-bit."""
    from es_to_clickhouse_spark.operators.sketch import hash32

    u = (
        t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("d"), "user_id")
        .distinct()
    )
    days = u.select("d").distinct()
    h = u.select("d", "user_id", hash32(F.col("user_id")).alias("hv"))
    wexp = h.select(
        F.explode(F.sequence(F.date_sub(F.col("d"), 6), F.col("d"))).alias("w"),
        "hv",
    ).join(
        F.broadcast(days.withColumnRenamed("d", "w")), "w", "left_semi"
    )
    low = F.col("hv").bitwiseAND(F.lit(16777215))
    r = wexp.select(
        "w",
        F.shiftright("hv", 24).alias("reg"),
        F.when(low == 0, F.lit(25)).otherwise(25 - F.length(F.bin(low))).alias(
            "rho"
        ),
    )
    mx = r.groupBy("w", "reg").agg(F.max("rho").alias("maxrho"))
    a = mx.groupBy("w").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.lit(1.0) / F.expr("shiftleft(CAST(1 AS BIGINT), maxrho)")
        ).alias("s"),
    )
    est = a.select(
        "w",
        F.floor(
            F.lit(47072.71267120224) / (F.col("s") + (F.lit(256.0) - F.col("n")))
        )
        .cast("long")
        .alias("approx_distinct"),
    )
    exact = (
        u.select(
            F.explode(
                F.sequence(F.date_sub(F.col("d"), 6), F.col("d"))
            ).alias("w"),
            "user_id",
        )
        .join(F.broadcast(days.withColumnRenamed("d", "w")), "w", "left_semi")
        .groupBy("w")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return est.join(exact, "w").select(
        F.date_format("w", "yyyy-MM-dd").alias("window_start"),
        "approx_distinct",
        "exact_distinct",
    )
