"""Real-embedding-shaped fixture for the near-dup family (judge r12 #6).

The d6/d18 1000x verdicts hinge on an ARGUED adjudication: "the output
explosion is the dim-64 noise floor (threshold 0.4 ~ 3.2 sigma);
at real-embedding geometry (dim >= 768, threshold ~0.9) the
pass-rate term vanishes and output tracks true duplication." This tool
MEASURES that claim instead: it synthesizes a deterministic corpus with
real-model geometry — ambient dim 768, seeded low-rank latent structure
(rank 128: real text embeddings concentrate on a low-dimensional
manifold), planted near-dup pairs at cosine ~0.95 with fixed density
1/DUP_EVERY — and runs d18's exact operator pipeline
(sampled_centroids -> two-level IVF assign -> (label x cell)-blocked
pair stage) at threshold 0.9 across two decades.

What the numbers must show if the adjudication was right:
- output pairs track PLANTED density: ~n/DUP_EVERY found pairs at
  every scale (output ratio ~10x per decade, no explosion);
- planted-pair recall decays only slowly as the corpus-scaled cell
  count grows (the sole loss mechanism is a planted pair straddling a
  cell boundary, and boundaries multiply with k — the SemDeDup recall
  tradeoff, not a threshold artifact; measured 0.63 at k=78, 0.46 at
  k=781);
- runtime decade ratio is the candidate-linear one (cells scale as
  n/256, so per-cell population — and with it candidate pairs per
  vector — stays bounded).

Synthesis is fully deterministic (numpy Philox counter-based streams
keyed by vec_id; no wall-clock, no global RNG) and row-local (each
doc's latent derives from its own id; a planted dup re-derives its
HEAD's latent and perturbs it), so any scale regenerates bit-identical
without a join against the base corpus.

Geometry: v = normalize(M @ z), M a fixed seeded 768x128 matrix,
z ~ N(0, I_128). Cross-doc cosines concentrate like 128-dim random
directions (std ~ 1/sqrt(128) ~ 0.088, same-argmax-cell conditioning
elevates expected cosine by ~2 ln k / 128 ~ 0.14 at k ~ 8k), so the
0.9 threshold sits ~8.6 sigma above the elevated cell mean — the
pass-rate term the dim-64 fixture could not kill. Planted pairs:
z_dup = z + EPS * |z|/|w| * w with w an independent seeded direction,
giving cos ~ 1/sqrt(1 + EPS^2) ~ 0.95 at EPS = 0.33 (ambient cosine
matches latent cosine to ~1/sqrt(768) because M's columns are
near-orthogonal at this aspect ratio).

Usage::

    python tools/realdim_bench.py              # synthesize + run 1x/10x/100x
    python tools/realdim_bench.py --synth-only
    python tools/realdim_bench.py --run-only   # reuse datasets
    python tools/realdim_bench.py --scales 1,10

Appends a section to SCALE_BENCH.md and writes raw numbers to
.scale_data/realdim.json. Timing runs must be SOLO (host noise rules).
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from es_to_clickhouse_spark.session import get_spark  # noqa: E402

DIM = 768
RANK = 128
DUP_EVERY = 10  # ids with id % DUP_EVERY == DUP_EVERY-1 near-dup their id-1
N_LABELS = 8
EPS = 0.33  # planted perturbation: cos ~ 1/sqrt(1+EPS^2) ~ 0.95
M_SEED = 20260816
BASE_N = 20_000
SCALES = (1, 10, 100)
THRESHOLD = 0.9
WARM_PASSES = 2
DATA_DIR = os.path.join(ROOT, ".scale_data", "realdim")


def synth_realdim(spark, n: int, dst: str) -> None:
    """Deterministic low-rank real-geometry corpus of ``n`` vectors at
    ``dst`` (schema matches the testdata embeddings table: vec_id,
    embedding array<float>, label int)."""
    import numpy as np

    n_parts = spark.sparkContext.defaultParallelism * 4
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
                    zi = zi + EPS * (
                        np.linalg.norm(zi) / np.linalg.norm(w)
                    ) * w
                z[i] = zi
            v = z @ mix  # (batch, DIM)
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "embedding": list(v.astype(np.float32)),
                    "label": ((ids // DUP_EVERY) % N_LABELS).astype(np.int32),
                }
            )

    spark.range(n, numPartitions=n_parts).mapInPandas(
        gen, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(dst)
    got = spark.read.parquet(dst).count()
    assert got == n, f"{dst}: {got} != {n}"
    print(f"synth realdim n={n:,} -> {dst}", flush=True)


def d18_pipeline(spark, src: str):
    """d18's exact operator composition (corpus/llm.py
    d18_embedding_neardup_cell, r14: quantizer-split multi-probe —
    each rank-parity half of the centroid set is an independent
    quantizer, every vector blocked in its argmax cell of EACH half).
    Per-half assign is tier-routed by ivf_assign_auto's work rule
    k*dim <= 200k: dense at 20k (39*768 = 30k), two-level at 200k
    (390*768 = 300k) and 2M (3,906*768). Threshold at the
    real-embedding 0.9."""
    from es_to_clickhouse_spark.operators.dedup import embedding_neardup_pairs
    from es_to_clickhouse_spark.operators.similarity import (
        ivf_assign_probes,
        sampled_centroids,
    )

    emb = spark.read.parquet(src)
    cents = sampled_centroids(emb)
    cell = ivf_assign_probes(emb, cents, n_probes=2).select(
        "vec_id", "cent_id"
    )
    base = emb.join(cell.hint("SHUFFLE_HASH"), "vec_id").withColumn(
        "_blk",
        F.concat(F.col("label"), F.lit("|"), F.col("cent_id").cast("string")),
    )
    return embedding_neardup_pairs(
        base, "vec_id", "embedding", "_blk", threshold=THRESHOLD
    ).distinct()


def d14_pipeline(spark, src: str):
    """d14's exact operator composition (corpus/pipeline.py
    d14_semantic_dedup: single-probe tier-routed assign -> in-cell
    pairs -> connected components -> per-cluster rollup) at the
    real-embedding threshold. Judge r13 #4: d14's third-decade evidence
    (10.6x, r12) was measured on the dim-64 corpus; this re-validates
    the cell-pair population and the tier crossovers at dim-768/
    rank-128. SemDeDup keeps SINGLE-cell blocking by design (it dedups
    within a cell; cross-cell misses are its documented tradeoff), so
    no ivf_assign_probes here — the recall-lifted variant is d18."""
    from es_to_clickhouse_spark.operators.dedup import embedding_neardup_pairs
    from es_to_clickhouse_spark.operators.graph import connected_components
    from es_to_clickhouse_spark.operators.similarity import (
        ivf_assign_auto,
        sampled_centroids,
    )

    emb = spark.read.parquet(src)
    cents = sampled_centroids(emb)
    cell = ivf_assign_auto(emb, cents).select("vec_id", "cent_id")
    base = emb.join(cell.hint("SHUFFLE_HASH"), "vec_id")
    pairs = embedding_neardup_pairs(
        base, "vec_id", "embedding", "cent_id", threshold=THRESHOLD
    ).select("id_a", "id_b")
    clusters = connected_components(
        pairs, "id_a", "id_b", out_node="vec_id", out_label="cluster_id"
    )
    return clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("vec_id").alias("max_member"),
    )


def measure_d14(spark, n: int, src: str) -> dict:
    # same pass policy as measure(): cold + warm-min below 1M, one
    # timed parquet-write pass (timing + outputs from one execution) past
    if n < 1_000_000:
        t0 = time.monotonic()
        out = d14_pipeline(spark, src).localCheckpoint()
        n_clusters = out.count()
        cold = time.monotonic() - t0
        warms = []
        for _ in range(WARM_PASSES):
            t0 = time.monotonic()
            d14_pipeline(spark, src).write.format("noop").mode(
                "overwrite"
            ).save()
            warms.append(time.monotonic() - t0)
        sec = min(warms)
    else:
        out_dir = os.path.join(DATA_DIR, f"_d14_{n}")
        t0 = time.monotonic()
        d14_pipeline(spark, src).write.mode("overwrite").parquet(out_dir)
        sec = cold = time.monotonic() - t0
        out = spark.read.parquet(out_dir)
        n_clusters = out.count()
    members = out.agg(F.sum("n_members").alias("s")).first()["s"] or 0
    rec = {
        "n": n,
        "sec": round(sec, 3),
        "cold": round(cold, 3),
        "clusters": n_clusters,
        "members": int(members),
    }
    print(f"  d14 n={n:,}: {rec}", flush=True)
    return rec


def write_d14_report(results: dict[int, dict]) -> None:
    results = _merge_results(results, "realdim_d14.json")
    lines = [
        "",
        "## SemDeDup (d14) at real-embedding geometry "
        "(r14, tools/realdim_bench.py --d14)",
        "",
        "Judge r13 #4: d14's decade evidence (10.6x third decade, r12)",
        "was measured on the dim-64 corpus; this table re-runs d14's",
        "exact composition (single-probe tier-routed assign -> in-cell",
        f"pairs at threshold {THRESHOLD} -> CC -> cluster rollup) on the",
        "dim-768/rank-128 planted-near-dup corpus. Cluster membership",
        "tracks planted density when the cell-pair population is",
        "bounded (the linear regime). Warm min of "
        f"{WARM_PASSES} (single warm pass at 100x), solo JVM.",
        "",
        "| scale | n | sec | decade ratio | clusters | members |",
        "|---|---|---|---|---|---|",
    ]
    prev = None
    for s in sorted(results):
        r = results[s]
        ratio = f"{r['sec'] / prev['sec']:.1f}x" if prev else "—"
        lines.append(
            f"| {s}x | {r['n']:,} | {r['sec']} | {ratio} |"
            f" {r['clusters']:,} | {r['members']:,} |"
        )
        prev = r
    lines.append("")
    with open(os.path.join(ROOT, "SCALE_BENCH.md"), "a") as f:
        f.write("\n".join(lines))
    os.makedirs(os.path.join(ROOT, ".scale_data"), exist_ok=True)
    with open(
        os.path.join(ROOT, ".scale_data", "realdim_d14.json"), "w"
    ) as f:
        json.dump({str(k): v for k, v in results.items()}, f, indent=1)
    print("SCALE_BENCH.md d14 section + .scale_data/realdim_d14.json "
          "written", flush=True)


def measure(spark, n: int, src: str) -> dict:
    # dim 768 makes the interpreted dot folds ~12x the dim-64 decades.
    # Below 1M: classic cold (materialize for recall) + warm-min-of-2
    # noop passes. At >= 1M (an ~hour-scale pass since the r14
    # multi-probe upgrade): ONE timed pass that WRITES the pairs to
    # parquet — timing and recall come from the same execution (the
    # parquet write of ~n/10 output rows is noise next to the ~1e12
    # fold elements; r13's cold/warm at this scale differed 23%, i.e.
    # less than host day-to-day drift).
    if n < 1_000_000:
        t0 = time.monotonic()
        pairs = d18_pipeline(spark, src).localCheckpoint()
        out_rows = pairs.count()
        cold = time.monotonic() - t0
        warms = []
        for _ in range(WARM_PASSES):
            t0 = time.monotonic()
            d18_pipeline(spark, src).write.format("noop").mode(
                "overwrite"
            ).save()
            warms.append(time.monotonic() - t0)
        sec = min(warms)
    else:
        out_dir = os.path.join(DATA_DIR, f"_pairs_{n}")
        t0 = time.monotonic()
        d18_pipeline(spark, src).write.mode("overwrite").parquet(out_dir)
        sec = cold = time.monotonic() - t0
        pairs = spark.read.parquet(out_dir)
        out_rows = pairs.count()
    # planted-pair recall: the fixture plants (id-1, id) for every
    # id % DUP_EVERY == DUP_EVERY-1; every other output pair is noise
    planted_found = pairs.where(
        (F.col("id_b") == F.col("id_a") + 1)
        & (F.col("id_b") % DUP_EVERY == DUP_EVERY - 1)
    ).count()
    planted_total = n // DUP_EVERY
    rec = {
        "n": n,
        "sec": round(sec, 3),
        "cold": round(cold, 3),
        "rows": out_rows,
        "planted_total": planted_total,
        "planted_found": planted_found,
        "recall": round(planted_found / planted_total, 4),
        "noise_pairs": out_rows - planted_found,
    }
    print(f"  n={n:,}: {rec}", flush=True)
    return rec


def _merge_results(results: dict[int, dict], json_name: str) -> dict:
    """Merge this invocation's scales into the stored json so partial
    runs compose (e.g. iterate at 1x/10x, run the hour-scale 100x once):
    the report table always shows every scale measured with the current
    pipeline."""
    path = os.path.join(ROOT, ".scale_data", json_name)
    merged: dict[int, dict] = {}
    if os.path.exists(path):
        with open(path) as f:
            merged = {int(k): v for k, v in json.load(f).items()}
    merged.update(results)
    return merged


def write_report(results: dict[int, dict]) -> None:
    results = _merge_results(results, "realdim.json")
    lines = [
        "",
        "## Real-embedding geometry, MULTI-PROBE blocking "
        "(r14, tools/realdim_bench.py)",
        "",
        "r13 measured single-cell blocking losing planted cos~0.95",
        "near-dups to cell-boundary straddle: recall 0.63 -> 0.46 ->",
        "0.37 across two decades (judge r13 #1). r14 re-runs the SAME",
        "fixture through d18's new quantizer-split multi-probe pipeline",
        "(ivf_assign_probes: two independent rank-parity half-",
        "quantizers; a pair is blocked together when EITHER half agrees",
        "— boundaries of the halves are independent, so straddle in one",
        "is caught by the other). dim 768, rank-128 latent structure,",
        f"planted near-dups at cos ~0.95 every {DUP_EVERY} docs,",
        f"threshold {THRESHOLD} (~8.6 sigma above the elevated cell",
        f"mean). Warm min of {WARM_PASSES} below 1M; at 2M ONE timed",
        "parquet-write pass (timing + recall from the same execution —",
        "r13's cold/warm at this scale differed 23%, under host drift).",
        "Solo JVM. r13 single-probe baselines for comparison:",
        "14.3 / 145.4 / 1895.1 s, recall 0.6335 / 0.4615 / 0.3747,",
        "0 noise pairs at every scale.",
        "",
        "| scale | n | sec | decade ratio | output pairs | planted found"
        " / total | recall | noise pairs |",
        "|---|---|---|---|---|---|---|---|",
    ]
    prev = None
    for s in sorted(results):
        r = results[s]
        ratio = f"{r['sec'] / prev['sec']:.1f}x" if prev else "—"
        lines.append(
            f"| {s}x | {r['n']:,} | {r['sec']} | {ratio} | {r['rows']:,} |"
            f" {r['planted_found']:,} / {r['planted_total']:,} |"
            f" {r['recall']} | {r['noise_pairs']:,} |"
        )
        prev = r
    lines += [
        "",
        "Reading: output tracks PLANTED density (x10 per decade) when",
        "noise pairs stay ~0 — the candidate-linear regime. Recall",
        "below 1.0 is planted pairs straddling a cell boundary in BOTH",
        "halves simultaneously; the judge r13 #1 'done' bar is recall",
        ">= 0.6 at 2M with 0 noise pairs and decades <= ~13x. The",
        "multi-probe price is ~1.4x assign folds (two half-quantizers",
        "at k/2 via two-level) and ~4x candidate pairs (each vector in",
        "2 cells of 2x population) — still corpus-linear.",
        "",
    ]
    with open(os.path.join(ROOT, "SCALE_BENCH.md"), "a") as f:
        f.write("\n".join(lines))
    os.makedirs(os.path.join(ROOT, ".scale_data"), exist_ok=True)
    with open(os.path.join(ROOT, ".scale_data", "realdim.json"), "w") as f:
        json.dump({str(k): v for k, v in results.items()}, f, indent=1)
    print("SCALE_BENCH.md section + .scale_data/realdim.json written",
          flush=True)


def main() -> None:
    argv = sys.argv[1:]
    scales = (
        tuple(int(s) for s in argv[argv.index("--scales") + 1].split(","))
        if "--scales" in argv
        else SCALES
    )
    # the 100x corpus is 2M x 768 floats (~12 GB of raw vectors) in ONE
    # local JVM with 32 executor threads — the 8g default heap OOMs in
    # the parquet scan before any operator runs
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark("realdim_bench")
    spark.sparkContext.setLogLevel("ERROR")
    for s in scales:
        dst = os.path.join(DATA_DIR, f"x{s}", "embeddings.parquet")
        if "--run-only" not in argv and not os.path.exists(dst):
            synth_realdim(spark, BASE_N * s, dst)
    if "--synth-only" in argv:
        return
    if "--d14" in argv:
        results = {}
        for s in scales:
            dst = os.path.join(DATA_DIR, f"x{s}", "embeddings.parquet")
            print(f"=== d14 {s}x ===", flush=True)
            results[s] = measure_d14(spark, BASE_N * s, dst)
        write_d14_report(results)
        return
    results = {}
    for s in scales:
        dst = os.path.join(DATA_DIR, f"x{s}", "embeddings.parquet")
        print(f"=== {s}x ===", flush=True)
        results[s] = measure(spark, BASE_N * s, dst)
    write_report(results)


if __name__ == "__main__":
    main()
