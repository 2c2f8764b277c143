"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line last: {"metric": ..., "value": total_sec, "unit":
"sec", "queries": {name: sec}, "sf": ..., ...} (see ``compact_line``).

Each query runs once cold (plan compile, codegen, file listing) and then
``WARM_PASSES`` times warm, every pass executing to completion through
the noop sink (full distributed compute, no driver-side collect). A
query's headline figure is the median of its warm passes; min and cold
ride along in the full record. The HEAVY set (the corpus's top cost
centres) is timed the same way and reported separately, so ``value``
stays the 28-query headline.

The query lists are ``perfbench/queries.py``'s, so this script, the
repository benchmark, ``tools/plan_dump.py --bench`` and
``tools/scale.py`` time the same queries. Compare two commits with the
repository benchmark's paired runs (``perfbench/README.md``), not by
reading old recordings: nothing reads the ``BENCH_r*.json`` and
``bench_r*_local.json`` files any more.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "perfbench"))

from queries import HEADLINE, HEAVY  # noqa: E402  (perfbench/queries.py)

WARM_PASSES = 5
#: heavy queries cost 2-14 s each at sf0.1; 3 warm passes bound the added
#: wall-clock while still giving a median and a min
HEAVY_WARM_PASSES = 3

#: the keys of the printed line, in order
COMPACT_KEYS = (
    "metric", "value", "unit", "queries", "sf", "cpus", "warm_passes",
    "min_total", "heavy_total", "heavy_min_total", "heavy_warm_passes",
)


def time_query(build, warm_passes: int) -> dict[str, float]:
    """Run ``build()`` (a zero-argument callable returning a DataFrame)
    to the noop sink once cold and ``warm_passes`` times warm; returns
    the cold, median-warm and min-warm wall seconds."""

    def once() -> float:
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    cold = once()
    warms = [once() for _ in range(warm_passes)]
    return {
        "cold": round(cold, 3),
        "median": round(statistics.median(warms), 3),
        "min": round(min(warms), 3),
    }


def run_set(spark, sf_dir: str, names: list[str], warm_passes: int) -> dict:
    """``time_query`` over ``names``: {name: {cold, median, min}}."""
    from es_to_clickhouse_spark.corpus import all_queries

    qs = all_queries()
    return {
        name: time_query(lambda fn=qs[name]: fn(spark, sf_dir), warm_passes)
        for name in names
    }


def compact_line(full: dict) -> str:
    """The one stdout line: the ``COMPACT_KEYS`` of the full record. It
    stays well under 2000 characters (28 per-query medians plus scalars),
    the stdout tail a round artifact keeps."""
    return json.dumps({k: full[k] for k in COMPACT_KEYS})


def main() -> None:
    from es_to_clickhouse_spark.session import DEFAULT_CPUS, get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = None

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    # JVM/codegen warm-up on a tiny unrelated job
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    head = run_set(spark, sf_dir, HEADLINE, WARM_PASSES)
    heavy = run_set(spark, sf_dir, HEAVY, HEAVY_WARM_PASSES)
    spark.stop()

    def col(rs: dict, key: str) -> dict[str, float]:
        return {name: r[key] for name, r in rs.items()}

    def total(rs: dict, key: str) -> float:
        return round(sum(r[key] for r in rs.values()), 3)

    full = {
        "metric": "headline_query_total",
        "value": total(head, "median"),
        "unit": "sec",
        "queries": col(head, "median"),
        "queries_min": col(head, "min"),
        "queries_cold": col(head, "cold"),
        "min_total": total(head, "min"),
        "cold_total": total(head, "cold"),
        "warm_passes": WARM_PASSES,
        "heavy_total": total(heavy, "median"),
        "heavy_queries": col(heavy, "median"),
        "heavy_queries_min": col(heavy, "min"),
        "heavy_queries_cold": col(heavy, "cold"),
        "heavy_min_total": total(heavy, "min"),
        "heavy_cold_total": total(heavy, "cold"),
        "heavy_warm_passes": HEAVY_WARM_PASSES,
        "cpus": DEFAULT_CPUS,
        "sf": sf,
    }
    # the full record goes to a side file; stdout carries only the
    # compact line, so a tail-truncated stdout still holds all of it
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_FULL", os.path.join(HERE, "bench_full_last.json")
    )
    try:
        with open(full_path, "w") as f:
            json.dump(full, f, indent=1)
        print(f"full record -> {full_path}", file=sys.stderr)
    except OSError as e:  # read-only checkout: the stdout line still stands
        print(f"full record write failed: {e!r}", file=sys.stderr)
    print(compact_line(full))


if __name__ == "__main__":
    main()
