"""Deduplication operators: exact, MinHash(+LSH), Jaccard verify, SimHash,
embedding near-dup.

Scale design:
- **Exact** dedup is a hash-groupBy on a fingerprint column — one shuffle
  keyed by a 128-bit hash (uniform, no skew), the only correct exact
  strategy at 100 TB.
- **MinHash** signatures are per-row Column expressions (md5-based, stable
  across engines → oracle-checkable); **LSH banding** turns the quadratic
  near-dup search into a groupBy on band keys: candidate pairs only ever
  materialize within a bucket. Bucket sizes are bounded in practice; a
  ``max_bucket`` guard drops pathological buckets (logged, not silently).
- **Jaccard** is the verify step applied to candidate pairs (never all
  pairs at scale); within-block pairing goes through
  :func:`salted_block_pairs`.
- **SimHash** packs token-hash bit votes into a 16-bit signature with pure
  integer expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from es_to_clickhouse_spark.operators.text import tokens


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: keep min(id) per key group (deterministic winner —
    dropDuplicates keeps an arbitrary row, which can't be oracle-checked)."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies")
    )


def minhash_signature(text: Column, k: int = 4, prefix: str = "mh") -> list[Column]:
    """k MinHash values over the distinct token set.

    h_j(doc) = min over tokens of md5(j ':' token): md5 is uniform, stable,
    and available in DuckDB, so signatures are engine-independent. Each
    value is one projection — O(k·|tokens|) per row, embarrassingly parallel.
    """
    tok = F.array_distinct(tokens(text))

    # NB: factory, not a default-arg lambda — PySpark treats `lambda x, j=j`
    # as a two-argument (element, index) lambda and binds j to the index.
    def hasher(j: int):
        return lambda x: F.md5(F.concat(F.lit(f"{j}:"), x))

    return [
        F.array_min(F.transform(tok, hasher(j))).alias(f"{prefix}{j}")
        for j in range(k)
    ]


def minhash_lsh_buckets(
    df: DataFrame,
    text_col: str = "text",
    k: int = 4,
    bands: int = 2,
) -> DataFrame:
    """MinHash + LSH banding: signature → band keys → (band_id, band_key)
    bucket rows. Near-dup candidates are rows sharing a bucket; the
    follow-up join happens per-bucket, never globally."""
    rows_per_band = k // bands
    sig = df.select("*", *minhash_signature(F.col(text_col), k))
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.md5(F.concat_ws("|", *parts)).alias(f"band{b}")
        )
    sig = sig.select("*", *band_cols)
    stacked = None
    for b in range(bands):
        part = sig.select(
            F.lit(b).alias("band_id"), F.col(f"band{b}").alias("band_key"), "*"
        ).drop(*[f"band{i}" for i in range(bands)])
        stacked = part if stacked is None else stacked.unionByName(part)
    return stacked


def jaccard(tokens_a: Column, tokens_b: Column) -> Column:
    """Jaccard over two distinct-token arrays (JVM-side set ops)."""
    inter = F.size(F.array_intersect(tokens_a, tokens_b))
    union = F.size(tokens_a) + F.size(tokens_b) - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def salted_block_pairs(
    base: DataFrame,
    id_col: str,
    payload: list[str],
    n_salts: int = 16,
    salt_col: str | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """Balanced within-block self-pairing on uniform salt-pair buckets.

    ``base`` must carry ``id_col``, a ``_block`` column, and the
    ``payload`` columns; the result holds every unordered pair of rows
    sharing a block EXACTLY once, as columns ``_ida``/``_idb`` (arbitrary
    orientation — normalize with least/greatest) plus each payload column
    suffixed ``_a``/``_b``.

    Why not a plain self-join on the block key: with few large blocks the
    quadratic pair work lands on a handful of shuffle keys and one
    straggler does everything (measured 57 s single-task at sf0.1 before
    salting). And why the key is the full unordered SALT PAIR (lo, hi)
    rather than (block, partner_salt): with the partner-salt key the work
    per key is TRIANGULAR (partner n-1 carries n x the pairs of partner
    0), so the wall clock tracks the heaviest key; keying on (lo, hi)
    gives every key a uniform 1/n^2 of its block's pairs (measured
    4.5 s -> 2.2 s at sf0.1 for the jaccard verify). The side with the
    LOWER salt emits (salt, j >= salt), the HIGHER side (i <= salt,
    salt); a cross-salt pair meets at exactly one key, a same-salt pair
    at (s, s) twice and is deduped by id order. Replication is ~n/2 x
    per side, carrying only (id, salts, payload).

    The explicit repartition pins the exchange: a single-file source
    scans as one partition and AQE will not widen it on byte-size
    grounds — the cost here is compute, invisible to size heuristics.

    ``salt_col``: name of an int column on ``base`` holding a
    PER-ROW salt count that must be CONSTANT WITHIN EACH BLOCK (it is a
    function of the block, e.g. ceil(block_population / target) — see
    :func:`sized_block_salts`). Both pair sides then derive the same
    per-block salt space, so the unordered-pair-exactly-once guarantee
    is unchanged while a skewed block histogram gets per-block split
    granularity: uniform small blocks pay zero replication, oversized
    blocks alone fan out. Overrides ``n_salts`` when given.

    ``n_parts``: pair-exchange partition count; defaults to
    ``defaultParallelism``. The pair join is a forced SHUFFLE_HASH (see
    below) whose per-partition build map holds ~build_bytes/n_parts: a
    count pinned to the LOCAL core count OOMs once the replicated
    payload outgrows execution memory (measured: d14's realdim pipeline
    at 2M x dim-768 dies in the hash build at 32 partitions). Callers
    that can bound the replicated volume pass a data-derived count
    (:func:`embedding_neardup_pairs` sizes it to ~64 MB of build per
    partition from the salt histogram).
    """
    ns = F.col(salt_col) if salt_col else F.lit(n_salts)
    base = base.withColumn(
        "_salt", F.abs(F.hash(F.col(id_col))) % ns
    )
    a = base.select(
        F.col(id_col).alias("_ida"), "_block",
        *[F.col(c).alias(c + "_a") for c in payload],
        F.col("_salt").alias("_salt_a"),
        F.col("_salt").alias("_salt_lo"),
        F.explode(
            F.sequence(F.col("_salt"), ns - 1)
        ).alias("_salt_hi"),
    )
    b = base.select(
        F.col(id_col).alias("_idb"), "_block",
        *[F.col(c).alias(c + "_b") for c in payload],
        F.col("_salt").alias("_salt_b"),
        F.explode(F.sequence(F.lit(0), F.col("_salt"))).alias("_salt_lo"),
        F.col("_salt").alias("_salt_hi"),
    )
    n_tasks = n_parts or base.sparkSession.sparkContext.defaultParallelism
    a = a.repartition(n_tasks, "_block", "_salt_lo", "_salt_hi")
    # SHUFFLE_HASH, not the default sort-merge: both join inputs carry
    # the full payload (vectors / token arrays), and SMJ SORTS both
    # replicated sides — at 2M x dim-768 x 2 probes that sort spilled
    # >34 GB on top of the exchange and filled the disk. A shuffled
    # hash join streams one side against a
    # per-partition build map (~bytes/partitions resident, spillable
    # since Spark 3.1), so the pair stage pays the exchange ONCE with
    # no sort copies. Pair-key uniformity (the salt-pair design above)
    # is exactly what makes per-partition builds safe.
    return a.join(
        b.hint("SHUFFLE_HASH"), on=["_block", "_salt_lo", "_salt_hi"]
    ).where(
        # same-salt bucket (lo == hi): id order dedups; cross-salt: every
        # pair appears exactly once (a.salt == lo < hi == b.salt)
        (F.col("_salt_a") != F.col("_salt_b")) | (F.col("_ida") < F.col("_idb"))
    )


def lsh_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    bands: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """The full near-dup pipeline: MinHash → LSH bands → candidate pairs
    (sharing ≥1 bucket) → exact Jaccard verify ≥ threshold.

    This is the composition that makes dedup tractable at 100 TB: the
    self-join runs per (band_id, band_key) bucket — candidate pairs are
    ~linear in collisions, never the quadratic all-pairs — and only
    candidates pay the exact token-set comparison. Output columns:
    (id_a, id_b, jaccard), each unordered pair once.

    ``max_bucket``: drop buckets larger than this before pairing — the
    guard against pathological low-entropy buckets (a bucket of size B
    costs B² pairs; on real corpora buckets are small, but a degenerate
    band key must bound the blowup deterministically, not straggle a
    stage). Dropped buckets are the caller's signal to raise k/bands or
    shingle size.
    """
    # repartition the single-file source once so the md5 minhash and the
    # tokenizer projections run on all cores, and share
    # ONE materialized token frame across both verify joins — otherwise
    # each join re-executes the tokenize subtree in a single task.
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    buckets = minhash_lsh_buckets(df, text_col, k, bands).select(
        "band_id", "band_key", F.col(id_col)
    )
    if max_bucket is not None:
        w = Window.partitionBy("band_id", "band_key")
        buckets = (
            buckets.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .where(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )
    a = buckets.select("band_id", "band_key", F.col(id_col).alias("id_a"))
    b = buckets.select("band_id", "band_key", F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, ["band_id", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()  # a pair may collide in several bands — verify once
    )
    # token sets hashed to longs (xxhash64 preserves within-pair
    # distinctness up to collision odds ~ (tokens/doc)^2 / 2^64, and
    # jaccard only needs set cardinalities) and checkpointed once: both
    # verify joins read one materialization instead of re-running the
    # HOF-lambda tokenizer per side.
    toks = df.select(
        F.col(id_col),
        F.transform(
            F.array_distinct(tokens(F.col(text_col))), lambda s: F.xxhash64(s)
        ).alias("_tok"),
    ).localCheckpoint(eager=False)
    return (
        cand.join(toks.select(F.col(id_col).alias("id_a"), F.col("_tok").alias("_ta")), "id_a")
        .join(toks.select(F.col(id_col).alias("id_b"), F.col("_tok").alias("_tb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("_ta"), F.col("_tb")), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash16(text: Column) -> Column:
    """16-bit SimHash: per-token 16-bit hash (first 4 hex chars of md5),
    per-bit ±1 votes, sign → signature bits. Pure integer Column math.

    ONE fold with a 16-counter struct accumulator: the earlier version
    ran 16 separate F.aggregate folds, each re-evaluating the md5 token
    hashing (HOF lambdas are interpreted, no cross-expression CSE), so
    every document paid 16x the md5 work — measured 2.2 s -> 0.9 s for
    d7 at sf0.1. Votes are identical integers, so the signature — and
    the per-bit SQL oracle — is unchanged."""
    tok = F.array_distinct(tokens(text))
    hashes = F.transform(
        tok, lambda x: F.conv(F.substring(F.md5(x), 1, 4), 16, 10).cast("long")
    )

    def step(acc, h):
        return F.struct(
            *[
                (
                    acc[f"v{i}"]
                    + F.when(h.bitwiseAND(F.lit(1 << i)) > 0, F.lit(1)).otherwise(
                        F.lit(-1)
                    )
                ).alias(f"v{i}")
                for i in range(16)
            ]
        )

    zero = F.struct(*[F.lit(0).alias(f"v{i}") for i in range(16)])
    votes = F.aggregate(hashes, zero, step)
    out = F.lit(0)
    for i in range(16):
        out = out + F.when(votes[f"v{i}"] > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return out


#: per-salt-bucket row target for sized_block_salts: a block at or
#: under the target keeps one salt (zero replication); an oversized
#: block gets ceil(population/target) salts, so every salt-pair key
#: carries ~target^2 candidate pairs — the same per-task granularity a
#: UNIFORM SemDeDup cell histogram (expected cell population 256, the
#: k = n/256 rule) already runs at, i.e. the skewed histogram is split
#: down to the granularity the uniform case measured healthy.
SALT_TARGET_ROWS = 256
#: explode-width bound: a row in a block of population P fans out to at
#: most ceil(P/target) salt rows; the cap bounds the per-row sequence
#: array. Replication through the exchange stays ~pairs/target rows
#: TOTAL either way; 4096 covers a 1M-row block before clamping.
SALT_CAP = 4096

#: minimum vector dim for the Cauchy-Schwarz prefix-bound prefilter in
#: :func:`embedding_neardup_pairs`: below this, the p = dim/6 prefix
#: fold costs more than the full folds it prunes (dim-64 A/B flat to
#: slightly negative; dim-768 2.3x — see the in-function comment), so
#: small-dim rows carry an empty prefix and the pair conjunct
#: short-circuits on one int compare.
_PREFIX_MIN_DIM = 256


def sized_block_salts(
    base: DataFrame,
    target: int = SALT_TARGET_ROWS,
    cap: int = SALT_CAP,
    out_col: str = "_ns",
    stats: dict | None = None,
    size_col: str | None = None,
) -> DataFrame:
    """Attach a per-row salt count ``out_col`` derived from each block's
    OBSERVED population: ceil(population / target), 1 for blocks at or
    under target, so a skewed block histogram splits only its oversized
    blocks.

    ``base`` must carry ``_block``. The population scan is one
    payload-free aggregate over the checkpointed base (the checkpoint
    also stops the pair join's two sides re-running the upstream plan),
    and only the OVERSIZED blocks' counts travel: they are broadcast
    back as a left join, absent rows default to 1 salt. The oversized
    list is bounded by total_rows/target rows by construction — in the
    skew regime it is a handful; in the uniform regime it is ~the cell
    count (key + count only, e.g. ~50 MB per 1e9 rows at target 256).

    Salt choice never changes the pair SET (every unordered in-block
    pair still meets exactly once — :func:`salted_block_pairs`), only
    how it spreads over tasks.

    ``stats``: optional dict; when given, ONE extra scalar
    aggregate over the block histogram (a driver job returning 3
    numbers — the j9/rj2 bounded-probe pattern) records
    ``stats["replicated_rows"]`` (rows × salts summed over blocks: it
    approximates the COMBINED replicated volume of both pair sides,
    which is exactly rows × (salts + 1), and so bounds each side from
    above — a side carries about rows × (salts + 1) / 2; as a sizing
    input it errs toward more partitions, the safe direction),
    ``stats["n_rows"]`` and
    ``stats["max_width"]`` (max array size of ``size_col``), so the
    caller can size the pair exchange to the REPLICATED volume instead
    of a core-count constant (the 2M realdim hash-build OOM)."""
    base = base.localCheckpoint(eager=False)
    hist = base.groupBy("_block").agg(
        F.count(F.lit(1)).alias("_bn"),
        *(
            [F.max(F.size(F.col(size_col))).alias("_wd")]
            if size_col
            else []
        ),
    )
    if stats is not None:
        ns_of = F.least(F.lit(cap), F.ceil(F.col("_bn") / F.lit(target)))
        row = hist.agg(
            F.sum("_bn").alias("n"),
            F.sum(
                F.when(
                    F.col("_bn") > target, F.col("_bn") * (ns_of - 1)
                ).otherwise(F.lit(0))
            ).alias("excess"),
            *([F.max("_wd").alias("w")] if size_col else []),
        ).first()
        stats["n_rows"] = int(row["n"] or 0)
        stats["replicated_rows"] = int((row["n"] or 0) + (row["excess"] or 0))
        stats["max_width"] = int(row["w"] or 0) if size_col else 0
    over = hist.select("_block", "_bn").where(F.col("_bn") > target)
    return (
        base.join(F.broadcast(over), "_block", "left")
        .withColumn(
            out_col,
            # coalesce BEFORE least: least() skips NULL operands, so
            # least(cap, NULL) would hand every under-target block the
            # cap instead of 1
            F.least(
                F.lit(cap),
                F.coalesce(
                    F.ceil(F.col("_bn") / F.lit(target)), F.lit(1)
                ),
            ).cast("int"),
        )
        .drop("_bn")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked (label / coarse quantizer /
    LSH bucket) to avoid the global cross join.

    SCALE WARNING — this is the documented BASELINE, quadratic within
    each block (~N²/labels candidate pairs; measured 717 s at 100× data
    with ~2.5e9 in-label pairs, SCALE_BENCH.md). For production corpora
    route to the compound (label × IVF-cell) variant —
    ``d18_embedding_neardup_cell`` in ``corpus/pipeline.py``, which
    bounds every block by the two-level quantizer's cell population
    (9.1 s at the same 100× decade) — or to SemDeDup (``d14``) /
    MinHash-LSH (``d8``) when approximate recall is acceptable.

    Per-row norms are hoisted OUT of the pair stage: cosine(a, b) =
    dot(a, b) / (||a|| * ||b||), and the norms are pure row functions, so
    each quadratic pair pays ONE zip_with/aggregate fold instead of
    three (the folds are HOF lambdas — interpreted, the dominant
    per-pair cost; measured 2.6 s -> ~1 s at sf0.1). Values are
    bit-identical: same fold shapes, same multiply order, and both dot
    and the norm product are exactly symmetric under operand swap, so
    the least/greatest orientation from salted_block_pairs changes
    nothing. Pairing/skew balance: salted_block_pairs.

    NOT fully lazy: building the frame runs one eager Spark job —
    :func:`sized_block_salts`' stats probe (``.first()`` over the block
    histogram, which also materializes the base checkpoint) sizes the
    pair exchange. A caller that only builds the plan (explain, plan
    dumps, an unexecuted branch) still pays the upstream scan."""
    from es_to_clickhouse_spark.operators.similarity import dot, norm

    n_tasks = df.sparkSession.sparkContext.defaultParallelism
    v = F.col(vec_col).cast("array<double>")
    # Cauchy-Schwarz prefix-bound prefilter: split each vector into a
    # prefix of p = dim/6 elements
    # and a tail; for any pair, dot(a, b) <= dot(a_p, b_p) +
    # ||a_tail||*||b_tail|| exactly (Cauchy-Schwarz on the tails), so a
    # pair whose BOUND is below the threshold — minus the round(.,4)
    # margin — cannot pass the exact test and skips the full-dim fold.
    # The folds are interpreted HOF lambdas (the dominant per-pair
    # cost), so pruning with a p-element fold cuts per-pair work to
    # ~p/dim on the pruned mass. Measured on the realdim fixture
    # (dim 768, rank 128, threshold 0.9, d14's composition at 20k):
    # pair pipeline 28.1 s -> 12.1 s median (p = dim/6; p = dim/4
    # 16.7 s, p = dim/8 17.0 s — the dim/6 bound still prunes ~99% and
    # costs least). GATED per row at dim >= 256: at dim 64 the prune
    # rate does not pay for the prefix fold (d14/d6/d18 measured flat,
    # d21 slightly worse), so small-dim rows carry an empty prefix and
    # the pair conjunct short-circuits on one int compare. The CASE
    # sits in the per-row projection BELOW the pair exchange (never
    # inlined into the join condition, where a CaseWhen would leave
    # whole-stage codegen); the pair-level keep-conjunct is
    # comparisons and one OR only. Results are identical BY BOUND, not
    # by luck: prune requires bound < threshold - 6e-5 while the exact
    # test passes only when cos >= threshold - 5e-5 (HALF_UP round to
    # 4 digits), and computed-float error on the bound is ~1e-12.
    vr = F.col(vec_col)
    plen = F.when(
        F.size(vr) >= _PREFIX_MIN_DIM, (F.size(vr) / 6).cast("int")
    ).otherwise(F.lit(0))
    # the vector rides the pair join in its RAW (float) width — the
    # double cast happens per element inside the dot fold, which is
    # bit-identical (every float is exactly representable) and halves
    # the bytes through the quadratic stage's shuffles (at dim 768 the
    # double-width payload overflowed the disk). The
    # prefix rides raw for the same reason (~dim/6 extra floats/row).
    tail_d = F.slice(
        vr, plen + 1, F.greatest(F.size(vr) - plen, F.lit(0))
    ).cast("array<double>")
    base = df.repartition(n_tasks).select(
        F.col(id_col),
        F.col(block_col).alias("_block"),
        F.col(vec_col).alias("_v"),
        norm(v).alias("_nm"),
        F.slice(vr, 1, plen).alias("_vp"),
        plen.alias("_pl"),
        F.sqrt(
            F.aggregate(tail_d, F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("_rn"),
    )
    # SIZE-AWARE salting: each block is salted by its OBSERVED
    # population (sized_block_salts). A salt count keyed on the block
    # COUNT is blind to per-block size skew: low-rank geometry piles
    # vectors into a few giant IVF cells, a many-cells rule chooses no
    # salt, and the quadratic stage runs on single straggler tasks (d14
    # measured 41.8x on its first decade). Population-keyed salts split
    # exactly the oversized blocks while uniform histograms (d18's
    # label x cell) keep the zero-replication plan.
    # Pair-exchange partition count from the OBSERVED replicated volume:
    # the forced SHUFFLE_HASH join builds
    # ~build_bytes/n_parts per partition, and the old defaultParallelism
    # pin — a LOCAL core-count constant — OOM'd the hash build at
    # 2M x dim-768 (~30 GB replicated build side over 32 partitions).
    # sized_block_salts' one bounded scalar probe yields the exact
    # post-salt row count and max vector width; target ~64 MB of raw
    # build payload per partition (floats ride raw; x6 bytes/element
    # covers the double-cast prefix, scalars and row framing), clamped
    # to [defaultParallelism, 32768]. At bench scale the estimate stays
    # under one partition's budget and the plan is unchanged (n_parts =
    # defaultParallelism).
    stats: dict = {}
    base = sized_block_salts(base, stats=stats, size_col="_v")
    est_bytes = stats["replicated_rows"] * (stats["max_width"] * 6 + 64)
    pair_parts = max(
        n_tasks, min(32768, -(-est_bytes // (64 << 20)))
    )
    pairs = salted_block_pairs(
        base,
        id_col,
        ["_v", "_nm", "_vp", "_pl", "_rn"],
        salt_col="_ns",
        n_parts=pair_parts,
    )
    if threshold > 0:
        # cheap conjuncts first: Catalyst inlines this filter into the
        # join condition where && short-circuits in codegen, so the
        # prefix fold runs only on large-dim pairs and the full-dim
        # fold only on bound survivors
        tm = float(threshold) - 0.00006
        pairs = pairs.where(
            (F.col("_pl_a") <= 0)
            | (F.col("_pl_a") != F.col("_pl_b"))
            | (
                dot(
                    F.col("_vp_a").cast("array<double>"),
                    F.col("_vp_b").cast("array<double>"),
                )
                + F.col("_rn_a") * F.col("_rn_b")
                >= F.lit(tm) * F.col("_nm_a") * F.col("_nm_b")
            )
        )
    cos = F.round(
        dot(
            F.col("_v_a").cast("array<double>"),
            F.col("_v_b").cast("array<double>"),
        )
        / (F.col("_nm_a") * F.col("_nm_b")),
        4,
    )
    return pairs.select(
        F.least("_ida", "_idb").alias("id_a"),
        F.greatest("_ida", "_idb").alias("id_b"),
        cos.alias("cos"),
    ).where(F.col("cos") >= threshold)


def incremental_neardup(
    history: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    bands: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup screen of an ARRIVING batch against the historical
    corpus — ``d11``'s exact anti-join generalized to MinHash-LSH.

    The history side's (band_id, band_key, id) bucket rows are exactly
    what a production ingest PERSISTS between appends (insert-only:
    signatures never change), so each append pays ONE bucket join of
    the batch's band keys against the store plus exact-Jaccard
    verification of the collisions — never a rescan of history text
    and never a history×history pair. The bucket-size guard runs over
    the COMBINED population: a degenerate history bucket already at
    the cap must not re-pair against every new arrival forever.

    Output: one row per batch doc with >= 1 verified historical
    near-dup — (id, n_hist_matches, best_jaccard). The batch ids
    ABSENT from the output are the novel set an ingest keeps.

    ONE implementation, two entry points: this derives the history
    store in-flight and delegates to :func:`screen_against_store` (the
    persisted-store append path), so the cap semantics, rounding and
    rollup can never diverge between the two
    (tests/test_operators.py pins their equality through a parquet
    round-trip).
    """
    par = history.sparkSession.sparkContext.defaultParallelism
    hb, ht = neardup_store(history.repartition(par), id_col, text_col, k, bands)
    return screen_against_store(
        hb, ht, batch, id_col, text_col, k, bands, threshold, max_bucket
    )


def neardup_store(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    bands: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """The two tables an ingest PERSISTS between appends so
    :func:`screen_against_store` never rescans history text:

    - buckets: (band_id, band_key, id) — the LSH band rows;
    - tokens:  (id, tok_hashes) — the xxhash64'd distinct-token sets
      the exact-Jaccard verify reads.

    Both are insert-only (signatures never change once written), so at
    100 TB they live as parquet bucketed by band_key / id and every
    append unions the batch's rows in."""
    buckets = minhash_lsh_buckets(df, text_col, k, bands).select(
        "band_id", "band_key", F.col(id_col)
    )
    toks = df.select(
        F.col(id_col),
        F.transform(
            F.array_distinct(tokens(F.col(text_col))), lambda s: F.xxhash64(s)
        ).alias("tok_hashes"),
    )
    return buckets, toks


def screen_against_store(
    store_buckets: DataFrame,
    store_tokens: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    bands: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """:func:`incremental_neardup` against a PERSISTED store: the
    production append path, where history signatures come off disk
    instead of being re-derived from text. Semantics are identical —
    the bucket cap still runs over the COMBINED population (store
    buckets unioned with the batch's new band rows), so a degenerate
    history bucket at the cap never re-pairs with new arrivals.
    Output: (id, n_hist_matches, best_jaccard) per matched batch doc."""
    batch_buckets, batch_tokens = neardup_store(
        batch.repartition(batch.sparkSession.sparkContext.defaultParallelism),
        id_col,
        text_col,
        k,
        bands,
    )
    # the batch's band rows feed both the touched-key build side and
    # the union below — checkpoint so the batch minhash derives once
    batch_buckets = batch_buckets.localCheckpoint(eager=False)
    hb = store_buckets.select(
        "band_id", "band_key", F.col(id_col).alias("_hid")
    ).withColumn("_side", F.lit("h"))
    bb = batch_buckets.select(
        "band_id", "band_key", F.col(id_col).alias("_hid")
    ).withColumn("_side", F.lit("b"))
    # 100 TB store design: the store is orders of magnitude bigger than
    # any append batch, and only buckets the BATCH touches can produce
    # a candidate pair — so prune the store scan to the batch's band
    # keys with a broadcast semi-join BEFORE the cap window. Cap
    # semantics are unchanged (untouched buckets contribute no pairs
    # and their population was never consulted for touched ones).
    touched = bb.select("band_id", "band_key").distinct()
    hb = hb.join(F.broadcast(touched), ["band_id", "band_key"], "semi")
    # A re-ingest of an overlapping batch can append the same doc id to
    # the store twice; duplicated token rows would multiply the verify
    # join (inflating n_hist_matches) and duplicated bucket rows would
    # inflate the cap's population count. Idempotent
    # screening: collapse the store to one row per identity — AFTER the
    # touched-keys prune: the dedup is (band_id, band_key, id)-
    # local, so deduping only the pruned rows returns identical rows
    # for every touched bucket while the exchange covers batch-bounded
    # rows instead of the whole store.
    hb = hb.dropDuplicates(["band_id", "band_key", "_hid"])
    both = hb.unionByName(bb)
    if max_bucket is not None:
        w = Window.partitionBy("band_id", "band_key")
        both = (
            both.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .where(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )
    # referenced on BOTH sides of the candidate self-join below: the
    # lazy checkpoint makes the (pruned, capped, batch-bounded) bucket
    # population evaluate ONCE — without it the store files are
    # scanned twice per screen
    both = both.localCheckpoint(eager=False)
    cand = (
        both.where(F.col("_side") == "b")
        .select("band_id", "band_key", F.col("_hid").alias("_bid"))
        .join(
            both.where(F.col("_side") == "h").select(
                "band_id", "band_key", "_hid"
            ),
            ["band_id", "band_key"],
        )
        .select("_bid", "_hid")
        .distinct()
        # referenced twice below (verify join + token-side prune)
        .localCheckpoint(eager=False)
    )
    bt = batch_tokens.select(
        F.col(id_col).alias("_bid"), F.col("tok_hashes").alias("_ta")
    ).localCheckpoint(eager=False)
    # Prune the store token table to candidate ids BEFORE the
    # idempotency dedup: dropDuplicates([id]) keeps an ARBITRARY
    # row when a re-ingested doc id appears with different tok_hashes
    # (its text changed between appends), making verify-join jaccards
    # flap across runs — max over the orderable array is a
    # deterministic per-id tiebreak, so pruning by id first returns the
    # identical token row for every id the verify join will read. The
    # dedup is an ARRAY-buffer aggregate (SortAggregate — arrays demote
    # hash aggregation), and running it over
    # the WHOLE store sorted the entire token table once per append;
    # candidate ids are batch-bounded, so this broadcast semi-join
    # keeps the per-append cost candidate-sized at any store size.
    cand_ids = cand.select(F.col("_hid").alias(id_col)).distinct()
    ht = (
        store_tokens.join(F.broadcast(cand_ids), id_col, "semi")
        .groupBy(id_col)
        .agg(F.max("tok_hashes").alias("tok_hashes"))
        .select(F.col(id_col).alias("_hid"), F.col("tok_hashes").alias("_tb"))
    )
    verified = (
        cand.join(bt, "_bid")
        .join(ht, "_hid")
        .select(
            "_bid",
            F.round(jaccard(F.col("_ta"), F.col("_tb")), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.groupBy(F.col("_bid").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_hist_matches"),
        F.max("jaccard").alias("best_jaccard"),
    )


class PersistedNearDupStore:
    """Parquet-persisted LSH near-dup store — the PRODUCTION form of
    :func:`incremental_neardup`, wired into the live ingest paths
    (``SyncEngine.neardup`` for batch rounds, ``StreamingSync.neardup``
    for foreachBatch micro-batches).

    Layout under ``path`` (both tables insert-only — signatures never
    change once written, so an append round never rewrites history):

    - ``buckets/``: (band_id, band_key, id) — appended files are
      repartitioned BY band_key, so one band_key's rows co-locate in
      one file per append; at 100 TB this is what lets the per-append
      bucket join prune to the band_key hash ranges a batch actually
      touches instead of the whole store.
    - ``tokens/``: (id, tok_hashes) — repartitioned by id for the same
      reason on the verify join side.

    Each ingest round pays ONLY its own batch's minhash derivation plus
    the bucket join against the store files — history TEXT is never
    rescanned and history signatures are never re-derived
    (tests pin this at plan level: the screen's only file scans are the
    store paths). Near-dup batch rows are dropped from the sink and
    their signatures are NOT appended (they would only re-match what
    the store already holds); novel rows' signatures append after the
    screen result is materialized, so a round can never match itself.
    """

    def __init__(
        self,
        path: str,
        id_col: str,
        text_col: str,
        k: int = 4,
        bands: int = 2,
        threshold: float = 0.5,
        max_bucket: int | None = None,
        files_per_append: int = 8,
    ) -> None:
        self.path = str(path)
        self.id_col = id_col
        self.text_col = text_col
        self.k = k
        self.bands = bands
        self.threshold = threshold
        self.max_bucket = max_bucket
        self.files_per_append = files_per_append

    @property
    def buckets_dir(self) -> str:
        return f"{self.path}/buckets"

    @property
    def tokens_dir(self) -> str:
        return f"{self.path}/tokens"

    def _recover(self, spark) -> None:
        """Heal the half-completed compact swap: a crash
        between ``rename(live -> _old)`` and ``rename(tmp -> live)``
        leaves the live dir absent with the full history stranded in
        ``<dir>_old`` — without recovery ``_exists`` goes False, the
        screen silently disables (everything novel), and the next
        append recreates an EMPTY store. Rename ``_old`` back whenever
        it exists and the live dir does not; when BOTH exist the crash
        was after a successful swap and ``_old`` is the superseded
        pre-compaction data — delete it. Stale ``_compacting`` dirs are
        left for compact's own pre-delete (an in-flight compact in the
        same process may own one)."""
        from es_to_clickhouse_spark import fsio

        for d in (self.buckets_dir, self.tokens_dir):
            old = f"{d}_old"
            if fsio.is_dir(spark, old):
                if not fsio.is_dir(spark, d):
                    fsio.rename(spark, old, d)
                else:
                    fsio.delete(spark, old)

    def _exists(self, spark) -> bool:
        # os.path.isdir is a DRIVER-LOCAL check, permanently False for
        # hdfs:// / s3a:// store paths — the class's own production
        # target — which would silently disable the screen while
        # signatures keep appending. fsio routes through
        # the Hadoop FileSystem API, which resolves any configured
        # scheme (and bare local paths against file://).
        from es_to_clickhouse_spark import fsio

        self._recover(spark)
        return fsio.is_dir(spark, self.buckets_dir) and fsio.is_dir(
            spark, self.tokens_dir
        )

    def screen(self, batch: DataFrame) -> DataFrame:
        """(id, n_hist_matches, best_jaccard) for every batch doc with a
        verified historical near-dup — empty (same schema) on a virgin
        store, so the first round keeps everything."""
        spark = batch.sparkSession
        if not self._exists(spark):
            id_type = batch.schema[self.id_col].dataType.simpleString()
            return spark.createDataFrame(
                [],
                f"{self.id_col} {id_type}, n_hist_matches bigint,"
                " best_jaccard double",
            )
        return screen_against_store(
            spark.read.parquet(self.buckets_dir),
            spark.read.parquet(self.tokens_dir),
            batch,
            self.id_col,
            self.text_col,
            self.k,
            self.bands,
            self.threshold,
            self.max_bucket,
        )

    def append(self, docs: DataFrame) -> None:
        """Insert-only store update: derive (buckets, tokens) for these
        docs and append, files bucketed by band_key / id."""
        buckets, toks = neardup_store(
            docs, self.id_col, self.text_col, self.k, self.bands
        )
        buckets.repartition(self.files_per_append, "band_key").write.mode(
            "append"
        ).parquet(self.buckets_dir)
        toks.repartition(self.files_per_append, self.id_col).write.mode(
            "append"
        ).parquet(self.tokens_dir)

    def screen_split(self, batch: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Screen → split novel/matched, WITHOUT touching the store.
        Returns (novel, matched); ``matched`` is MATERIALIZED
        (localCheckpoint) so a later :meth:`append` of the novel rows
        can never make the batch match its own signatures, and
        ``novel`` reads only ``batch`` + the checkpointed match set —
        callers should pass a checkpointed/cached batch to keep the
        round at one source scan.

        This is the TRANSACTIONAL half of :meth:`ingest`: an ingest
        pipeline with a downstream sink must call this first, land the
        novel rows on the sink (and commit its state), and only THEN
        :meth:`append` the novel signatures. Appending before the sink
        commit inverts the failure mode: a crash between store append
        and sink append makes the replayed batch screen as a near-dup
        of its own failed attempt — dropped from the sink while the
        watermark advances, silent permanent loss.
        With append-last, the same crash merely re-appends signatures
        on replay, which :func:`screen_against_store`'s store-side
        dedup makes harmless.

        Concurrent-compaction safety: a :meth:`compact`
        swap that lands between this screen's plan capture (the parquet
        read lists store files eagerly) and its materialization deletes
        the listed files out from under the running job. ONE retry
        re-plans against the post-swap store — the swap is atomic per
        rename, and :meth:`_recover` (via ``_exists`` inside
        ``screen``) heals a half-completed one — so the retry reads a
        consistent store; a second failure is a genuinely broken store
        and propagates."""
        try:
            matched = self.screen(batch).localCheckpoint()
        except Exception:
            matched = self.screen(batch).localCheckpoint()
        novel = batch.join(
            matched.select(self.id_col), on=self.id_col, how="left_anti"
        )
        return novel, matched

    def compact(
        self,
        spark,
        target_bytes: int = 128 * 1024 * 1024,
        min_files: int = 24,
    ) -> tuple[int, int] | None:
        """Rewrite the store's append-per-round small files into
        ~``target_bytes`` files (at ``files_per_append=8`` per table, a
        year of hourly appends is ~140k files; open() and
        listing overhead then dominate every screen). Returns
        (bucket_files, token_files) after the rewrite, or ``None`` when
        the store is absent or already under ``min_files`` total.

        The rewrite is also the moment the store's logical dedup
        becomes PHYSICAL: crash-replayed appends leave duplicate
        signature rows that :func:`screen_against_store` re-collapses
        on every screen — compaction applies the same rules once
        (buckets: distinct on (band_id, band_key, id); tokens: max
        tok_hashes per id) so the store shrinks back to one row per
        identity. Screen results are unchanged by construction.

        File layout is preserved: buckets re-hash-partition by
        band_key (each band_key's rows co-locate in exactly one file —
        what lets the screen prune to a batch's touched key ranges),
        tokens by id.

        Swap protocol: write to ``<dir>_compacting``, then two renames
        (live → ``_old``, new → live) and a delete. Run it from the
        ingest process between rounds — it is not concurrent-safe
        against an in-flight append (the append's files would land in
        the ``_old`` dir and be deleted). A crash inside the rename
        window is healed by :meth:`_recover` on the next open; a screen
        whose captured file list the swap invalidates is re-planned
        once by :meth:`screen_split`'s retry."""
        from es_to_clickhouse_spark import fsio

        if not self._exists(spark):
            return None
        sizes = []
        counts = []
        for d in (self.buckets_dir, self.tokens_dir):
            files = [
                f
                for f in fsio.listdir(spark, d)
                if f.endswith(".parquet") or f.startswith("part-")
            ]
            counts.append(len(files))
            sizes.append(fsio.content_size(spark, d))
        if sum(counts) < min_files:
            return None

        import math

        out = []
        for d, size, key in (
            (self.buckets_dir, sizes[0], "band_key"),
            (self.tokens_dir, sizes[1], self.id_col),
        ):
            df = spark.read.parquet(d)
            if key == "band_key":
                df = df.dropDuplicates(["band_id", "band_key", self.id_col])
            else:
                df = df.groupBy(self.id_col).agg(
                    F.max("tok_hashes").alias("tok_hashes")
                )
            n = max(1, math.ceil(size / target_bytes))
            tmp, old = f"{d}_compacting", f"{d}_old"
            fsio.delete(spark, tmp)
            fsio.delete(spark, old)
            df.repartition(n, key).write.mode("overwrite").parquet(tmp)
            if not fsio.rename(spark, d, old):
                raise IOError(f"compact: could not stage {d} aside")
            if not fsio.rename(spark, tmp, d):
                # restore the live dir before failing
                fsio.rename(spark, old, d)
                raise IOError(f"compact: could not swap {tmp} into {d}")
            fsio.delete(spark, old)
            out.append(n)
        return tuple(out)

    def ingest(self, batch: DataFrame) -> tuple[DataFrame, DataFrame]:
        """One STANDALONE append round: screen → split → append the
        novel signatures. Returns (novel, matched). Only for callers
        with no downstream sink to keep consistent with the store —
        sinked ingest paths (SyncEngine/StreamingSync) use
        :meth:`screen_split` + post-commit :meth:`append` so a crash
        between the two can never silently drop the replayed batch
        (see screen_split's docstring)."""
        novel, matched = self.screen_split(batch)
        self.append(novel)
        return novel, matched


def substring_dedup_profile(
    df: DataFrame, id_col: str, text_col: str, w: int = 8
) -> DataFrame:
    """Exact repeated-SUBSTRING dedup signal (word w-gram granularity):
    per document, the maximal token spans whose every w-gram also
    appears in at least one OTHER document — the substring-level
    complement of doc-level Jaccard and of eval-contamination
    (txt10), i.e. the "dedup repeated spans, not whole docs" stage of a
    training-data pipeline (Lee et al. 2022-style, re-expressed as
    three uniform-key shuffles instead of a suffix array).

    Pipeline: position-tagged w-gram hashes per doc (one HOF pass,
    checkpointed before the explode) → grams appearing in >= 2 DISTINCT
    docs (groupBy on the 64-bit gram hash — uniform, no skew) →
    per-doc island merge of flagged positions (token ranges overlap
    while gram starts are <= w-1 apart) → per-doc span profile.

    Output: (id, n_dup_grams, n_spans, max_span_tokens,
    repeated_tokens). At 100 TB every shuffle is keyed by gram hash or
    doc id (both uniform); the dup-gram set is data-dependent small and
    AQE may broadcast it into the semi-join.
    """
    n_tasks = df.sparkSession.sparkContext.defaultParallelism
    tok = (
        df.repartition(n_tasks)
        .select(
            F.col(id_col),
            F.filter(F.split(text_col, " "), lambda x: x != "").alias("_ts"),
        )
        .where(F.size("_ts") >= w)
    )

    def gram(i: Column) -> Column:
        return F.struct(
            (i - 1).cast("long").alias("pos"),
            F.xxhash64(F.slice(F.col("_ts"), i, F.lit(w))).alias("g"),
        )

    grams = (
        tok.select(
            F.col(id_col),
            F.transform(
                F.sequence(F.lit(1), F.size("_ts") - (w - 1)), gram
            ).alias("_gs"),
        )
        # barrier before the explode (txt10's measured lesson), and the
        # two downstream consumers (dup-set build + position semi-join)
        # share one hashing pass
        .localCheckpoint(eager=False)
        .select(id_col, F.explode("_gs").alias("_pg"))
        .select(id_col, F.col("_pg.pos").alias("_pos"), F.col("_pg.g").alias("_g"))
    )
    dup = (
        grams.select("_g", id_col)
        .distinct()
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .where(F.col("_nd") >= 2)
        .select("_g")
    )
    flagged = grams.join(dup, "_g", "left_semi")
    win = Window.partitionBy(id_col).orderBy("_pos")
    isl = (
        flagged.withColumn("_prev", F.lag("_pos").over(win))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull()
                | (F.col("_pos") - F.col("_prev") > w - 1),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "_isl",
            F.sum("_new").over(
                win.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    spans = isl.groupBy(id_col, "_isl").agg(
        F.min("_pos").alias("_s"),
        F.max("_pos").alias("_e"),
        F.count(F.lit(1)).alias("_ng"),
    )
    span_len = F.col("_e") - F.col("_s") + w
    return spans.groupBy(id_col).agg(
        F.sum("_ng").alias("n_dup_grams"),
        F.count(F.lit(1)).alias("n_spans"),
        F.max(span_len).alias("max_span_tokens"),
        F.sum(span_len).alias("repeated_tokens"),
    )
