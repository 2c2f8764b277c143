"""Similarity search over embedding columns (array<float>).

- ``cosine`` is a pure Column expression (zip_with product + sequential
  aggregate fold in DOUBLE — the same fold order DuckDB's
  list_cosine_similarity uses, so results are oracle-stable).
- ``brute_force_topk`` broadcasts the query vector and computes one score
  per row — a single map-side pass + TakeOrdered; the correct baseline at
  any scale (no shuffle).
- ``sign_lsh_bucket`` is the scale path: a coarse quantizer from the sign
  bits of leading dimensions (deterministic, engine-independent). Search
  touches only the query's bucket — the IVF/LSH probe pattern. Real
  deployments raise ``n_bits`` / add multi-probe; the plumbing is the same.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity in double precision."""
    ad = a.cast("array<double>")
    bd = b.cast("array<double>")
    return dot(ad, bd) / (norm(ad) * norm(bd))


def brute_force_topk(
    df: DataFrame,
    query_vec: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine against a 1-row query-vector DataFrame
    (column ``q``). Broadcast + map-side score + TakeOrderedAndProject."""
    scored = df.crossJoin(F.broadcast(query_vec)).select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("q")), 4).alias("cos"),
    )
    return scored.orderBy(F.desc("cos"), F.col(id_col)).limit(k)


def sign_lsh_bucket(vec: Column, n_bits: int = 6) -> Column:
    """Coarse bucket id: sign bits of the first ``n_bits`` dimensions,
    packed as a string key (deterministic; no learned centroids needed)."""
    bits = [
        F.when(F.element_at(vec, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(n_bits)
    ]
    return F.concat(*bits)


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """IVF coarse quantizer: assign each vector to its nearest centroid
    (max cosine; ties broken by lowest cent_id — deterministic).

    ``centroids`` is a small DataFrame (cent_id, cv) — broadcast, so
    assignment is one map-side pass over the big side plus a max_by
    groupBy keyed by the vector id. The argmax is PARTIAL-AGGREGABLE:
    the (vec × centroid) expanded frame is generated and reduced inside
    the same mapper, so the shuffle carries one row per vector — a
    window row_number() would instead sort-shuffle the full n_centroids×
    expansion (the difference between O(n) and O(n·k) shuffle bytes at
    100 TB). Ties break to the lowest cent_id via the (sim, −cent_id)
    struct order, identical to the previous ORDER BY sim DESC, cent_id.
    At 100 TB the cell id becomes the partition/bucketing key and probes
    read one cell, not the table; re-clustering is a re-run of this
    single job.

    The big side is repartitioned to the default parallelism first
    (the embedding_neardup_pairs device): the N x k compute happens in
    the crossJoin's mapper, and a compactly-written source (one ~100 MB
    parquet file = ONE input split) would otherwise run the whole
    assign as a single task — measured at the 100x decade: d14's
    assign sat on one core for minutes while 31 idled. The one-pass
    N-row shuffle is noise next to the N x k fold work it spreads.
    Norms are hoisted out of the N x k stage (the
    embedding_neardup_pairs argument: the folds are interpreted HOF
    lambdas, the dominant per-pair cost — 3 folds per pair become 1;
    values bit-identical, same fold shapes and multiply order).
    """
    n_tasks = df.sparkSession.sparkContext.defaultParallelism
    v = F.col(vec_col).cast("array<double>")
    # shuffle the RAW (float) array, cast to double at the use site:
    # pre-casting doubles every vector byte through the repartition
    # exchange, and float->double per element inside the fold is
    # bit-identical math (each float is exactly representable)
    big = df.repartition(n_tasks).select(
        F.col(id_col), F.col(vec_col).alias("_v"), norm(v).alias("_nm")
    )
    cv = F.col("cv").cast("array<double>")
    cents = centroids.select(
        F.col("cent_id"), cv.alias("_cv"), norm(cv).alias("_cnm")
    )
    sims = big.crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        F.col("cent_id"),
        F.round(
            dot(F.col("_v").cast("array<double>"), F.col("_cv"))
            / (F.col("_nm") * F.col("_cnm")),
            round_digits,
        ).alias("sim"),
    )
    best = F.max_by(
        F.struct("cent_id", "sim"),
        F.struct(F.col("sim"), (-F.col("cent_id")).alias("nc")),
    )
    return (
        sims.groupBy(id_col)
        .agg(best.alias("_b"))
        .select(id_col, F.col("_b.cent_id"), F.col("_b.sim"))
    )


def ivf_assign_two_level(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    k: int | None = None,
) -> DataFrame:
    """ANN-assisted IVF assignment: two-level
    coarse quantization. The dense assign (:func:`ivf_assign`) scores
    every vector against all k centroids — with SemDeDup's
    corpus-scaled k (~n/256) that matrix is ~N²/256 and dominates at
    true 100 TB. Here the k centroids are first themselves assigned to
    m = max(2, isqrt(k)) SUPER-centroids (the m lowest cent_ids — any
    deterministic subset works for blocking; k×m work, negligible);
    each vector then scores the m supers (N×m), picks one (argmax,
    ties to lowest sup_id), and scores only that super-cell's
    centroids (expected k/m candidates via a broadcast hash join on
    sup_id — never empty: a super-centroid is its own nearest super,
    so every super-cell contains at least itself). Total assign work
    is N·(m + k/m) = O(N·sqrt(k)) — at k=4M (a 10^9-vector corpus)
    that is ~2000 dots/vector instead of 4M. The next escalation,
    if sqrt(k) itself ever dominates, is the same construction
    applied recursively (log-depth hierarchy, constant work/level).

    Assignment is APPROXIMATE exactly the way IVF training is: a
    vector near a super-cell boundary may land in a neighboring cell.
    For SemDeDup that moves the cross-cell recall tradeoff it already
    accepts, not correctness — and the procedure is DETERMINISTIC
    (fixed supers, argmax with id tie-breaks, fixed rounding), so an
    oracle mirrors it exactly. Verify recall against the exact assign
    on a sample with :func:`ivf_assign` (the sim9 audit pattern).

    Both argmaxes are partial-aggregable ``max_by`` (never window
    row_number — the ivf_assign shuffle argument), and their
    aggregation buffers carry ONLY fixed-size scalars (ids, sims) —
    never the vector. An array inside a ``max_by`` buffer silently
    demotes the whole aggregate to SortAggregateExec (hash aggregation
    needs fixed-size mutable buffers), and the sort then spills the
    ENTIRE m-times-expanded frame: measured at 2M x dim-768 the
    vector-through-the-argmax variant spilled ~350 GB and died with
    SPILL_OUT_OF_MEMORY / no-space-on-device, where the dim-64 runs had
    merely been silently slower.
    The vectors are re-attached AFTER each argmax by an id-keyed join
    against the lazily-checkpointed (id, vec, norm) frame — one
    unexpanded shuffle instead of an m-times-expanded sort."""
    n_tasks = df.sparkSession.sparkContext.defaultParallelism
    cv = F.col("cv").cast("array<double>")
    cents = centroids.select(
        F.col("cent_id"), cv.alias("_cv"), norm(cv).alias("_cnm")
    )
    if k is None:
        k = cents.count()  # bounded driver scalar: centroids are small
    import math

    m = max(2, math.isqrt(k))
    sups = (
        cents.orderBy("cent_id")
        .limit(m)
        .select(
            F.col("cent_id").alias("sup_id"),
            F.col("_cv").alias("_sv"),
            F.col("_cnm").alias("_snm"),
        )
    )

    def _sim(vc, nc, sc, sn):
        return F.round(dot(vc, sc) / (nc * sn), round_digits)

    # centroid -> super (k x m, tiny): scalar-only argmax buffer, then
    # re-attach the centroid vectors by id (see the docstring's
    # SortAggregate spill autopsy)
    cents = cents.localCheckpoint(eager=False)
    cmap = (
        cents.crossJoin(F.broadcast(sups))
        .select(
            "cent_id",
            "sup_id",
            _sim(F.col("_cv"), F.col("_cnm"), F.col("_sv"), F.col("_snm")).alias(
                "sim"
            ),
        )
        .groupBy("cent_id")
        .agg(
            F.max_by(
                F.struct("sup_id"),
                F.struct(F.col("sim"), (-F.col("sup_id")).alias("ns")),
            ).alias("_b")
        )
        .select("cent_id", "_b.sup_id")
        .join(cents, "cent_id")
    )
    # vector -> super (N x m): same shape — the argmax shuffles one
    # scalar row per vector; the unexpanded id-keyed join brings the
    # vector back. The checkpointed frame keeps the vector in its RAW
    # (float) width — casting to double happens per element inside the
    # folds (bit-identical), so the checkpoint, the join shuffle, and
    # every downstream exchange move half the bytes.
    v = F.col(vec_col).cast("array<double>")
    big = (
        df.repartition(n_tasks)
        .select(F.col(id_col), F.col(vec_col).alias("_v"), norm(v).alias("_nm"))
        .localCheckpoint(eager=False)
    )
    _vd = F.col("_v").cast("array<double>")
    vsup = (
        big.crossJoin(F.broadcast(sups))
        .select(
            id_col,
            "sup_id",
            _sim(_vd, F.col("_nm"), F.col("_sv"), F.col("_snm")).alias(
                "sim"
            ),
        )
        .groupBy(id_col)
        .agg(
            F.max_by(
                F.struct("sup_id"),
                F.struct(F.col("sim"), (-F.col("sup_id")).alias("ns")),
            ).alias("_b")
        )
        .select(id_col, "_b.sup_id")
        .join(big, id_col)
    )
    # vector -> cell within its super (N x k/m expected)
    return (
        vsup.join(F.broadcast(cmap), "sup_id")
        .select(
            id_col,
            "cent_id",
            _sim(_vd, F.col("_nm"), F.col("_cv"), F.col("_cnm")).alias(
                "sim"
            ),
        )
        .groupBy(id_col)
        .agg(
            F.max_by(
                F.struct("cent_id", "sim"),
                F.struct(F.col("sim"), (-F.col("cent_id")).alias("nc")),
            ).alias("_b")
        )
        .select(id_col, "_b.cent_id", "_b.sim")
    )


def bucketed_topk(
    df: DataFrame,
    query_vec: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_bits: int = 6,
) -> DataFrame:
    """ANN-style probe: score only rows in the query's sign-LSH bucket.
    At 100 TB the bucket column is a partition/bucketing key, so the probe
    is a partition-pruned scan, not a full pass."""
    bucketed = df.select(
        F.col(id_col),
        F.col(vec_col),
        sign_lsh_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    q = query_vec.select(
        F.col("q"), sign_lsh_bucket(F.col("q"), n_bits).alias("q_bucket")
    )
    probed = bucketed.join(
        F.broadcast(q), bucketed.bucket == q.q_bucket
    ).select(
        F.col(id_col),
        F.col("bucket"),
        F.round(cosine(F.col(vec_col), F.col("q")), 4).alias("cos"),
    )
    return probed.orderBy(F.desc("cos"), F.col(id_col)).limit(k)


def lloyd_step(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """One Lloyd (k-means) iteration: assign every vector to its nearest
    centroid (cosine, via ivf_assign's broadcast pass), then recompute
    per-dimension centroid means, returned in LONG form
    (cent_id, pos, m) — the engine-neutral shape (array packing differs
    per engine; a caller re-packs with collect_list over pos).

    Scale: posexplode multiplies rows by the dimension count, but the
    per-(cell, dim) mean partial-aggregates map-side, so the shuffle
    carries k*dim rows per partition, not rows*dim. Iterating = calling
    this k times on the re-packed result (deterministic, so any single
    step is oracle-checkable)."""
    assigned = ivf_assign(df, centroids, id_col, vec_col).select(id_col, "cent_id")
    withvec = assigned.join(df.select(id_col, vec_col), id_col)
    dims = withvec.select(
        "cent_id", F.posexplode(vec_col).alias("pos", "val")
    )
    return dims.groupBy("cent_id", F.col("pos").cast("long").alias("pos")).agg(
        F.round(F.avg(F.col("val").cast("double")), round_digits).alias("m")
    )


def pq_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cents: DataFrame,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization code assignment: split each vector into ``m``
    contiguous subvectors and assign each to its nearest codebook entry
    (squared L2; ties break on the smallest centroid id).

    ``cents`` is a (cent_id, vector) codebook frame — at scale a sampled/
    trained set, here drawn deterministically from the data so the whole
    assignment is oracle-replicable. Returns one row per (id, subspace)
    with the winning ``code`` and its squared distance.

    Scale shape: the codebook is BROADCAST (m*k subvectors), assignment
    is a map-side cross join + per-(row, subspace) argmin via min_by —
    PARTIAL-AGGREGABLE, so the shuffle carries one row per (id,
    subspace), never the k× codebook expansion a window row_number()
    would sort (the ivf_assign lesson). The distance fold is the same
    sequential aggregate DuckDB's list_sum uses, so distances are
    bit-identical and the argmin (on the 9-decimal rounded distance,
    then cent id) picks the same code on every engine.
    """
    sub_len = dim // m
    subs = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.struct(
                s.alias("sub"),
                F.slice(
                    F.col(vec_col).cast("array<double>"),
                    s * sub_len + 1,
                    sub_len,
                ).alias("sv"),
            ),
        )
    )
    rows = df.select(F.col(id_col), subs.alias("_s")).select(
        id_col, F.col("_s.sub").alias("sub"), F.col("_s.sv").alias("sv")
    )
    csubs = cents.select(
        F.col("cent_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.alias("sub"),
                    F.slice(
                        F.col("cv").cast("array<double>"),
                        s * sub_len + 1,
                        sub_len,
                    ).alias("cv"),
                ),
            )
        ).alias("_c"),
    ).select("cent_id", F.col("_c.sub").alias("sub"), F.col("_c.cv").alias("cv"))
    dist = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = rows.join(F.broadcast(csubs), "sub").select(
        id_col, "sub", F.col("cent_id"), F.round(dist, 9).alias("_d")
    )
    best = F.min_by(
        F.struct("cent_id", "_d"), F.struct(F.col("_d"), F.col("cent_id"))
    )
    return (
        scored.groupBy(id_col, "sub")
        .agg(best.alias("_b"))
        .select(
            id_col,
            "sub",
            F.col("_b.cent_id").alias("code"),
            F.col("_b._d").alias("dist"),
        )
    )


#: assign-tier crossovers, measured. The dense↔two-level boundary is
#: WORK-based (k·dim, the per-vector fold elements), not k alone — the
#: dense cross join's advantage is amortized join overhead, which is
#: constant per row, while its cost is k·dim interpreted fold elements,
#: so the boundary moves with dimensionality. Anchors: at dim 64
#: (SCALE_BENCH assign decades) dense wins at k=837
#: (k·dim = 54k: 0.842 s vs 4.111 s) and two-level wins at k=7,861
#: (503k: 81 s vs a deliberately-unrun dense matrix); at dim 768
#: (SCALE_BENCH.md realdim) dense wins at k=78 (60k: 10.8 s vs
#: 18.4 s whole-pipeline) and LOSES by >10x at k=781 (600k: the dense
#: pass ground past 14 minutes where two-level takes ~2 — aborted).
#: Every measured point is consistent with a single work threshold
#: ~200k elements. The two-level↔hierarchical boundary stays k-based
#: (both tiers scale ×dim, so dim cancels): hierarchical already wins
#: at k=7,861 (51.8 s vs 81.0 s) but recall compounds per level, so
#: two-level holds until sqrt(k) clearly dominates (~100k cells,
#: where it is ~4,000 vs ~260 dots/vector at k=4M).
ASSIGN_DENSE_MAX_WORK = 200_000  # k * dim
ASSIGN_TWO_LEVEL_MAX_K = 100_000


def _k_dim(
    centroids: DataFrame, k: int | None, dim: int | None
) -> tuple[int, int]:
    """Fill in the centroid count / dimensionality tier-routing scalars
    the caller didn't supply — in ONE bounded aggregate job (separate
    count() + first(size) probes would cost two driver jobs per assign
    construction). min(size) over a uniform-dim table equals the
    first-row size; an empty table yields (0, 0)."""
    row = centroids.agg(
        F.count(F.lit(1)).alias("_k"), F.min(F.size("cv")).alias("_d")
    ).first()
    return (
        k if k is not None else int(row["_k"]),
        dim if dim is not None else int(row["_d"] or 0),
    )


def ivf_assign_auto(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    k: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Tier-routed IVF assignment: pick
    dense / two-level / log-depth-hierarchical from the measured
    crossovers above, so scaling a pipeline from 2k vectors to 10^9 is
    a data change, not a code change. All three tiers emit the same
    (id, cent_id, sim) schema with the same deterministic tie-break
    (max cosine, lowest cent_id). Dense is EXACT; two-level and
    hierarchical are the documented recall tradeoffs (audited by
    sim11_assign_recall and the fanout-agreement tests respectively).

    ``k``/``dim``: pass when the caller already knows them (e.g.
    sampled_centroids sizes k = max(8, n/256) from a count it already
    ran) to skip the bounded probe job."""
    if k is None or dim is None:
        k, dim = _k_dim(centroids, k, dim)
    if k * max(dim, 1) <= ASSIGN_DENSE_MAX_WORK:
        return ivf_assign(df, centroids, id_col, vec_col, round_digits)
    if k <= ASSIGN_TWO_LEVEL_MAX_K:
        return ivf_assign_two_level(
            df, centroids, id_col, vec_col, round_digits, k=k
        )
    return ivf_assign_hierarchical(
        df, centroids, id_col, vec_col, round_digits
    )


def ivf_assign_probes(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    n_probes: int = 2,
    k: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Recall-preserving multi-probe IVF assignment via
    QUANTIZER SPLITTING: the centroid set is partitioned into
    ``n_probes`` deterministic groups (rank parity over cent_id — never
    an md5-parity cut, which can leave a group empty at small k), each
    group is its own independent k/n-cell coarse quantizer, and every
    vector is assigned to its nearest centroid WITHIN EACH group by the
    tier-routed :func:`ivf_assign_auto`. Output: ``n_probes`` rows per
    vector — (id, cent_id, sim, probe) — whose union is the blocking
    key set; groups' cent_ids are disjoint (they are the original
    centroid ids), so the probed cells never collide across groups.

    Why this construction, measured (dim-768/rank-128 realdim fixture,
    numpy design study): single-cell blocking keeps only 0.55 of
    planted cos~0.95 near-dup pairs at k=398 because the hash-sampled
    argmax landscape is nearly flat — the perturbation flips the argmax
    across a cell boundary. Probing the top-2 cells fixes that (0.876)
    but an exact top-2 needs either a second peel over the scored
    frame (2x the dominant fold work) or a k-expanded sort (the
    SortAggregate spill trap). Splitting the quantizer gets 94% of
    exact top-2's recall (0.822 at k=398) in ONE argmax pass per group
    with scalar-only aggregation buffers: the best cell of each group
    is found independently, and a near-dup pair straddling a boundary
    in one group agrees in the other with high probability because the
    two groups' Voronoi boundaries are independent. Super-probing
    variants were measured worse on BOTH axes (top-2-supers x top-cell:
    0.777 recall at 1.66x the candidates).

    Scale shape: each group assign is the unchanged tier-routed
    machinery at k/n centroids — two-level per group costs
    N*2*sqrt(k/n) fold elements, so n=2 totals ~1.41x the single
    quantizer's assign work; candidate pairs in a downstream
    (label x cell) pair stage grow ~n^2 x (each vector sits in n cells
    of n-fold population) — still corpus-LINEAR, since per-cell
    population stays bounded by n*per_cell. Deterministic end-to-end
    (rank split, argmax id tie-breaks, fixed rounding): the oracle
    mirrors it as one argmax subquery per rank-parity group."""
    if k is None or dim is None:
        k, dim = _k_dim(centroids, k, dim)
    if k < n_probes:
        raise ValueError(f"need >= {n_probes} centroids, got {k}")
    from pyspark.sql.window import Window

    ranked = centroids.withColumn(
        "_g",
        (F.row_number().over(Window.orderBy("cent_id")) % n_probes),
    ).localCheckpoint(eager=False)  # window over the SMALL centroid table
    out = None
    for g in range(n_probes):
        cg = ranked.where(F.col("_g") == g).drop("_g")
        # rank split sizes the groups within one of each other
        kg = k // n_probes + (1 if (k % n_probes) > ((g - 1) % n_probes) else 0)
        a = ivf_assign_auto(
            df, cg, id_col, vec_col, round_digits, k=kg, dim=dim
        ).withColumn("probe", F.lit(g))
        out = a if out is None else out.unionByName(a)
    return out


def sampled_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    per_cell: int = 256,
    floor: int = 8,
    n: int | None = None,
) -> DataFrame:
    """Deterministic corpus-scaled centroid sample for IVF/SemDeDup:
    ~n/per_cell centroids chosen by KEY HASH, not by id VALUE.

    The previous rule — ``id < max(floor, n/per_cell)`` — silently
    assumed ids are DENSE from 0: on any corpus whose ids are strided,
    sharded, or sparse (every real 100 TB layout; the replicated scale
    testbed at factor >= 4) the value-threshold saturates at however
    many ids happen to be small, the centroid count stops scaling with
    the corpus, cell populations grow linearly, and the within-cell
    quadratic comes back — measured as d14's 23.6x third decade with
    only 2,000 of the intended 7,812 centroids existing
    (SCALE_BENCH.md). A hash cut keeps the expected count at
    max(floor, n/per_cell) under ANY id distribution, is a row-local
    scan-stage predicate (no sort, no limit, no shuffle), and the
    integer comparison ``h32 * 1 < cut`` replays bit-identically in
    DuckDB (same md5 device as hash_sample/sk2)."""
    from es_to_clickhouse_spark.operators.sketch import hash32

    if n is None:
        # bounded driver scalar (same as the old rule's); callers that
        # already counted the corpus pass it in to skip the job
        n = df.count()
    if n == 0:
        # empty corpus: empty centroid frame; the cut below would
        # divide by zero
        return df.select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cv")
        )
    k = max(floor, n // per_cell)
    cut = ((1 << 32) * k) // n
    return df.where(hash32(F.col(id_col), "cent") < cut).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cv")
    )


def ivf_assign_hierarchical(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    fanout: int = 64,
) -> DataFrame:
    """Log-depth coarse quantization — the named escalation past
    :func:`ivf_assign_two_level` (its docstring: "the same construction
    applied recursively, constant work/level").

    Two-level assign is O(N·sqrt(k)): at k = 4M centroids (a
    10^9-vector corpus under the n/256 rule) that is still ~4,000 dots
    per vector. Here the centroid set is folded into a geometric tree
    with CONSTANT fanout: level 0 = all k centroids; level i+1 = the
    max(2, |level_i| // fanout) lowest node ids of level i (the same
    deterministic-subset device as two-level's supers), each level-i
    node mapped to its nearest level-i+1 parent (argmax rounded cosine,
    ties to lowest parent id). A vector scores ALL top-level nodes
    (<= fanout), then at each level down only the children of its
    current pick (expected fanout) — O(N · fanout · log_fanout k)
    total, e.g. ~260 dots/vector at k = 4M with fanout 64 vs two-level's
    ~4,000. Deterministic end-to-end (fixed subsets, id tie-breaks,
    fixed rounding), so it is oracle-mirrorable the same way.

    Approximation compounding: each level can misroute a boundary
    vector into a neighboring subtree, so recall vs the exact assign
    decays with depth — audit with :func:`ivf_assign` on a sample
    (sim11's pattern) before trading two-level's recall for this
    schedule; at k <= fanout it degrades to the dense assign (single
    level) and at fanout >= sqrt(k) it behaves like two-level.

    Non-empty descent cells: every parent is drawn FROM its child level
    and is its own nearest parent (cosine exactly 1), so each chosen
    parent's child set contains at least itself — the same guarantee
    (and the same exact-duplicate-vector caveat) as two-level.

    Scale note: each level's child map is broadcast (k vectors at level
    0 — fine to ~10M centroids; past that, drop the hint and let the
    level-0 join shuffle on the parent id, which AQE plans as a
    broadcast anyway for every level above 0)."""
    import math

    n_tasks = df.sparkSession.sparkContext.defaultParallelism
    cv = F.col("cv").cast("array<double>")
    nodes = centroids.select(
        F.col("cent_id").alias("_nid"), cv.alias("_cv"), norm(cv).alias("_cnm")
    )
    k = nodes.count()  # bounded driver scalar (two-level does the same)

    def _sim(vc, nc, sc, sn):
        return F.round(dot(vc, sc) / (nc * sn), round_digits)

    # ---- centroid-side tree build (geometric sizes: k, k/f, k/f², ...)
    sizes = [k]
    while sizes[-1] > fanout:
        sizes.append(max(2, sizes[-1] // fanout))
    nodes = nodes.localCheckpoint(eager=False)
    levels = [nodes]
    for s in sizes[1:]:
        levels.append(levels[-1].orderBy("_nid").limit(s))
    # child map per level: level-i nodes tagged with their level-(i+1)
    # parent (k_i x k_{i+1} scoring — geometric series, << k² total).
    # Argmax buffers carry scalars only; child vectors re-attach via an
    # id join (the two-level SortAggregate-spill lesson — see its
    # docstring).
    cmaps = []
    for child, parent in zip(levels[:-1], levels[1:]):
        p = parent.select(
            F.col("_nid").alias("_pid"),
            F.col("_cv").alias("_pv"),
            F.col("_cnm").alias("_pnm"),
        )
        child = child.localCheckpoint(eager=False)
        cmaps.append(
            child.crossJoin(F.broadcast(p))
            .select(
                "_nid",
                "_pid",
                _sim(
                    F.col("_cv"), F.col("_cnm"), F.col("_pv"), F.col("_pnm")
                ).alias("_s"),
            )
            .groupBy("_nid")
            .agg(
                F.max_by(
                    F.struct("_pid"),
                    F.struct(F.col("_s"), (-F.col("_pid")).alias("_np")),
                ).alias("_b")
            )
            .select("_nid", "_b._pid")
            .join(child, "_nid")
        )

    # ---- vector descent: full scan of the top level, then children of
    # the running pick. Each argmax shuffles one scalar row per vector
    # (never the vector — array buffers demote to SortAggregate and
    # spill the fanout-times-expanded frame); the vector re-attaches
    # per level by an id join against the checkpointed base frame.
    # base keeps the raw (float) vector; the double cast happens per
    # element inside each fold — bit-identical, half the checkpoint and
    # join-shuffle bytes (the two-level lesson)
    v = F.col(vec_col).cast("array<double>")
    base = (
        df.repartition(n_tasks)
        .select(F.col(id_col), F.col(vec_col).alias("_v"), norm(v).alias("_nm"))
        .localCheckpoint(eager=False)
    )
    _vd = F.col("_v").cast("array<double>")
    cur = (
        base.crossJoin(
            F.broadcast(
                levels[-1].select(
                    F.col("_nid").alias("_pid"),
                    F.col("_cv").alias("_pv"),
                    F.col("_cnm").alias("_pnm"),
                )
            )
        )
        .select(
            id_col,
            "_pid",
            _sim(_vd, F.col("_nm"), F.col("_pv"), F.col("_pnm")).alias(
                "_s"
            ),
        )
        .groupBy(id_col)
        .agg(
            F.max_by(
                # _s rides along so the k <= fanout degenerate case (no
                # descent levels) still emits the winning similarity
                F.struct("_pid", "_s"),
                F.struct(F.col("_s"), (-F.col("_pid")).alias("_np")),
            ).alias("_b")
        )
        .select(id_col, "_b._pid", "_b._s")
    )
    for cmap in reversed(cmaps):
        cur = (
            cur.join(base, id_col)
            .join(F.broadcast(cmap), "_pid")
            .select(
                id_col,
                F.col("_nid"),
                _sim(_vd, F.col("_nm"), F.col("_cv"), F.col("_cnm")).alias(
                    "_s"
                ),
            )
            .groupBy(id_col)
            .agg(
                F.max_by(
                    F.struct(F.col("_nid").alias("_pid"), F.col("_s")),
                    F.struct(F.col("_s"), (-F.col("_nid")).alias("_nn")),
                ).alias("_b")
            )
            .select(id_col, "_b._pid", "_b._s")
        )
    return cur.select(
        id_col, F.col("_pid").alias("cent_id"), F.col("_s").alias("sim")
    )
