"""Scale runner: synthesize larger datasets from a corpus and time a query
list on each, through ``bench.time_query``.

Usage::

    python tools/scale.py [--queries q1,q2,...] DATASET [DATASET ...]

Each DATASET is a directory of ``<table>.parquet`` files. An existing
directory is used as it is. A missing one is synthesized from its name:

- ``<name>x<F>`` (e.g. ``.scale_data/sf0.1x10``): the FIRST dataset
  replicated F times (below). Up to 10x every table is replicated; past
  10x only ``documents`` and ``embeddings``, the near-dup family's
  inputs (100x of ``lineitem`` is past a single host).
- ``realdim<N>`` (e.g. ``.scale_data/realdim20000``): an
  ``embeddings`` table of N real-geometry vectors with planted near-dups
  (below), for the ``realdim_d18`` and ``realdim_d14`` pipelines.

The default query list is bench's HEAVY set plus ``fz1_fuzzy_name_match``
(the one quadratic-stage query HEAVY lacks); ``--queries`` also takes
``realdim_d18`` and ``realdim_d14``. Each query is timed on each dataset
by ``bench.time_query`` (1 cold and ``WARM_PASSES`` warm passes through
the noop sink), then counted once more for its output rows: a scale run
that returns the rows it returned at the base would be vacuous. Prints a
table of warm medians with each dataset's ratio to the one before it,
then one JSON line with every figure. Run solo: host noise is +-30%.
The 1000x and 2M-vector sets need ``SPARK_GRAFT_DRIVER_MEM=48g``.
Results measured this way are recorded in ``SCALE_BENCH.md``.

Replication (Spark-side, no driver loops, no randomness): every table
is exploded over a replica id r in [0, F) with its key columns offset by
``r * STRIDE``, so referential joins stay 1:1 per replica; ``region``
and ``nation`` are fixed-cardinality dimensions and are copied once.
``documents.text``: replica r > 0 suffixes every token with ``~r``, a
bijective token rename, so each replica keeps the base's near-dup pairs
exactly (word n-gram equality is invariant under an injective token map)
while cross-replica Jaccard drops to ~0: F times the documents at the
same dup rate. ``embeddings.embedding``: replica r applies a seeded
signed permutation of the dimensions (orthogonal, norm-preserving,
replica 0 the identity). Pairs within a replica transform alike, so the
planted near-dups survive; across replicas cosine drops to ~N(0, 1/dim)
instead of every vector gaining F-1 artificial twins.

Real geometry (numpy Philox streams keyed by vec_id, so any N
regenerates bit-identical): ``v = normalize(z @ M)``, ``M`` a fixed
seeded 128x768 matrix and ``z ~ N(0, I_128)``, so cross-doc cosines
concentrate like 128-dim random directions (std ~0.088) and the 0.9
threshold sits far above the cell mean. Every id with
``id % DUP_EVERY == DUP_EVERY - 1`` is a planted near-dup of id - 1:
``z + EPS * |z|/|w| * w`` for an independent seeded ``w``, cos ~0.95.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from bench import HEAVY, time_query  # noqa: E402

WARM_PASSES = 2
#: key offset per replica, far above any key value at source scale
STRIDE = 10_000_000
#: key columns offset per table (the same stride applies to a key
#: wherever it appears, so foreign keys move with their parents)
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
PASSTHROUGH = ["region", "nation"]
#: past this factor only the near-dup family's inputs are replicated
FULL_FACTOR_MAX = 10
DECADE_TABLES = ["documents", "embeddings"]
EXTRA = ["fz1_fuzzy_name_match"]

DIM = 768
RANK = 128
DUP_EVERY = 10
N_LABELS = 8
EPS = 0.33
M_SEED = 20260816
REALDIM_THRESHOLD = 0.9


def _replicate(df: DataFrame, keys: list[str], factor: int) -> DataFrame:
    rep = df.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))))
    for k in keys:
        dt = dict(df.dtypes)[k]
        # the stride product in LONG: int32 overflows at _r >= 215
        rep = rep.withColumn(
            k, (F.col(k) + F.col("_r").cast("long") * STRIDE).cast(dt)
        )
    return rep


def _salt_documents(rep: DataFrame) -> DataFrame:
    """Bijective per-replica token rename (module docstring)."""
    suffix = F.when(F.col("_r") == 0, F.lit("")).otherwise(
        F.concat(F.lit("~"), F.col("_r").cast("string"))
    )
    toks = F.split(F.col("text"), " ")
    salted = F.array_join(F.transform(toks, lambda w: F.concat(w, suffix)), " ")
    return rep.withColumn("text", salted).withColumn("n_chars", F.length("text"))


def _ortho_embeddings(rep: DataFrame, factor: int) -> DataFrame:
    """Per-replica seeded signed permutation of the embedding dims
    (module docstring). The factor x dim permutation and sign tables are
    built on the driver from md5 and broadcast-joined on the replica id;
    the apply is one zip_with per row."""
    spark = rep.sparkSession
    dim = rep.select(F.size("embedding")).first()[0]
    inner = dict(rep.dtypes)["embedding"].removeprefix("array<").removesuffix(">")

    def perm_sign(r: int) -> tuple[list[int], list[float]]:
        if r == 0:
            return list(range(1, dim + 1)), [1.0] * dim
        order = sorted(
            range(dim),
            key=lambda i: hashlib.md5(f"ortho:{r}:{i}".encode()).hexdigest(),
        )
        sgn = [
            1.0
            if int(hashlib.md5(f"sign:{r}:{i}".encode()).hexdigest()[:2], 16) % 2
            else -1.0
            for i in range(dim)
        ]
        return [i + 1 for i in order], sgn  # 1-based for element_at

    tbl = spark.createDataFrame(
        [(r, *perm_sign(r)) for r in range(factor)],
        "_r int, _perm array<int>, _sgn array<double>",
    )
    return (
        rep.withColumn("_r", F.col("_r").cast("int"))
        .join(F.broadcast(tbl), "_r")
        .withColumn(
            "embedding",
            F.zip_with(
                "_perm",
                "_sgn",
                lambda p, s: (s * F.element_at(F.col("embedding"), p)).cast(inner),
            ),
        )
        .drop("_perm", "_sgn")
    )


def replicate(spark, src: str, dst: str, factor: int) -> None:
    """Write ``src`` replicated ``factor`` times to ``dst``."""
    full = factor <= FULL_FACTOR_MAX
    for t in PASSTHROUGH if full else []:
        spark.read.parquet(f"{src}/{t}.parquet").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{dst}/{t}.parquet")
    for t in KEY_COLS if full else DECADE_TABLES:
        df = spark.read.parquet(f"{src}/{t}.parquet")
        rep = _replicate(df, KEY_COLS[t], factor)
        if t == "documents":
            rep = _salt_documents(rep)
        elif t == "embeddings":
            rep = _ortho_embeddings(rep, factor)
        rep.select(df.columns).write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        n0, n1 = df.count(), spark.read.parquet(f"{dst}/{t}.parquet").count()
        assert n1 == n0 * factor, f"{t}: {n1} != {n0}*{factor}"
        print(f"synth {t}: {n0:,} -> {n1:,}", flush=True)


def synth_realdim(spark, n: int, dst: str) -> None:
    """``dst/embeddings.parquet``: ``n`` real-geometry vectors (module
    docstring), schema as the testdata table (vec_id, embedding, label)."""
    import numpy as np

    mix = np.random.Generator(np.random.Philox(key=M_SEED)).standard_normal(
        (RANK, DIM)
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            z = np.empty((len(ids), RANK))
            for i, vid in enumerate(ids):
                head = vid - 1 if vid % DUP_EVERY == DUP_EVERY - 1 else vid
                zi = np.random.Generator(
                    np.random.Philox(key=int(head))
                ).standard_normal(RANK)
                if head != vid:  # planted near-dup of its head
                    w = np.random.Generator(
                        np.random.Philox(key=int(vid) + (1 << 40))
                    ).standard_normal(RANK)
                    zi = zi + EPS * (np.linalg.norm(zi) / np.linalg.norm(w)) * w
                z[i] = zi
            v = z @ mix
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "embedding": list(v.astype(np.float32)),
                    "label": ((ids // DUP_EVERY) % N_LABELS).astype(np.int32),
                }
            )

    path = f"{dst}/embeddings.parquet"
    n_parts = spark.sparkContext.defaultParallelism * 4
    spark.range(n, numPartitions=n_parts).mapInPandas(
        gen, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(path)
    got = spark.read.parquet(path).count()
    assert got == n, f"{path}: {got} != {n}"
    print(f"synth realdim n={n:,} -> {path}", flush=True)


def realdim_d18(spark, sf_dir: str) -> DataFrame:
    """``d18_embedding_neardup_cell``'s operator composition at the
    real-embedding threshold: quantizer-split multi-probe assign (each
    vector in its argmax cell of each rank-parity half of the centroids),
    then (label x cell)-blocked cosine pairs."""
    from es_to_clickhouse_spark.operators.dedup import embedding_neardup_pairs
    from es_to_clickhouse_spark.operators.similarity import (
        ivf_assign_probes,
        sampled_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cell = ivf_assign_probes(emb, sampled_centroids(emb), n_probes=2).select(
        "vec_id", "cent_id"
    )
    base = emb.join(cell.hint("SHUFFLE_HASH"), "vec_id").withColumn(
        "_blk", F.concat(F.col("label"), F.lit("|"), F.col("cent_id").cast("string"))
    )
    return embedding_neardup_pairs(
        base, "vec_id", "embedding", "_blk", threshold=REALDIM_THRESHOLD
    ).distinct()


def realdim_d14(spark, sf_dir: str) -> DataFrame:
    """``d14_semantic_dedup``'s operator composition at the real-embedding
    threshold: single-probe assign, in-cell pairs, connected components,
    per-cluster rollup."""
    from es_to_clickhouse_spark.operators.dedup import embedding_neardup_pairs
    from es_to_clickhouse_spark.operators.graph import connected_components
    from es_to_clickhouse_spark.operators.similarity import (
        ivf_assign_auto,
        sampled_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cell = ivf_assign_auto(emb, sampled_centroids(emb)).select("vec_id", "cent_id")
    base = emb.join(cell.hint("SHUFFLE_HASH"), "vec_id")
    pairs = embedding_neardup_pairs(
        base, "vec_id", "embedding", "cent_id", threshold=REALDIM_THRESHOLD
    ).select("id_a", "id_b")
    clusters = connected_components(
        pairs, "id_a", "id_b", out_node="vec_id", out_label="cluster_id"
    )
    return clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"), F.max("vec_id").alias("max_member")
    )


def ensure(spark, path: str, base: str) -> None:
    """Synthesize ``path`` from its name (module docstring) unless it
    exists."""
    if os.path.isdir(path):
        return
    name = os.path.basename(os.path.normpath(path))
    if m := re.fullmatch(r"realdim(\d+)", name):
        synth_realdim(spark, int(m.group(1)), path)
    elif (m := re.fullmatch(r".+x(\d+)", name)) and path != base:
        replicate(spark, base, path, int(m.group(1)))
    else:
        raise SystemExit(f"{path}: no such dataset, and its name names no synthesis")


def measure(spark, sf_dir: str, names: list[str], registry: dict) -> dict:
    """{query: {cold, median, min, rows}} on one dataset. ``realdim_d18``
    also reports its planted-pair recall."""
    out = {}
    for name in names:
        fn = registry[name]
        rec = time_query(lambda: fn(spark, sf_dir), WARM_PASSES)
        if name == "realdim_d18":
            pairs = fn(spark, sf_dir).localCheckpoint()
            rec["rows"] = pairs.count()
            planted = pairs.where(
                (F.col("id_b") == F.col("id_a") + 1)
                & (F.col("id_b") % DUP_EVERY == DUP_EVERY - 1)
            ).count()
            n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
            rec["recall"] = round(planted / max(n // DUP_EVERY, 1), 4)
        else:
            rec["rows"] = fn(spark, sf_dir).count()
        print(f"  {name}: {rec}", flush=True)
        out[name] = rec
    return out


def table(datasets: list[str], results: dict) -> str:
    """Warm medians per dataset, each with its ratio to the previous
    dataset, and the output rows."""
    labels = [os.path.basename(os.path.normpath(d)) for d in datasets]
    head = ["query"]
    for i, lab in enumerate(labels):
        head += [f"{lab} s"] + ([f"{lab}/{labels[i - 1]}"] if i else [])
    head += [f"rows {lab}" for lab in labels]
    lines = ["| " + " | ".join(head) + " |", "|" + "---|" * len(head)]
    for q in results[datasets[0]]:
        recs = [results[d][q] for d in datasets]
        row = [q]
        for i, r in enumerate(recs):
            row.append(str(r["median"]))
            if i:
                prev = recs[i - 1]["median"]
                row.append(f"{r['median'] / prev:.1f}x" if prev else "-")
        row += [f"{r['rows']:,}" for r in recs]
        lines.append("| " + " | ".join(row) + " |")
    return "\n".join(lines)


def main() -> None:
    ap = argparse.ArgumentParser(description="Synthesize datasets and time queries on each.")
    ap.add_argument("--queries", default=",".join([*HEAVY, *EXTRA]),
                    help="comma-separated query names (default: HEAVY + fz1)")
    ap.add_argument("datasets", nargs="+", help="dataset directories, base first")
    args = ap.parse_args()
    datasets, names = args.datasets, [n for n in args.queries.split(",") if n]
    if not names:
        ap.error("--queries names no query")
    from es_to_clickhouse_spark.corpus import all_queries
    from es_to_clickhouse_spark.session import get_spark

    registry = {**all_queries(), "realdim_d18": realdim_d18, "realdim_d14": realdim_d14}
    if unknown := [n for n in names if n not in registry]:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_spark("scale")
    spark.sparkContext.setLogLevel("ERROR")
    for d in datasets:
        ensure(spark, d, datasets[0])
    results = {}
    for d in datasets:
        print(f"=== {d} ===", flush=True)
        results[d] = measure(spark, d, names, registry)
    spark.stop()
    print(table(datasets, results))
    print(json.dumps({"warm_passes": WARM_PASSES, "datasets": datasets, "results": results}))


if __name__ == "__main__":
    main()
