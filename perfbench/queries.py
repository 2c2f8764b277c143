"""The query workloads: one closed-loop client running the frozen query
lists through ``queries()`` from ``__spark_entry__.py``.

The lists are copied here from ``bench.py`` (headline: one query per
operator family; heavy: the corpus's top cost centres) so that edits to
``bench.py`` cannot change what this benchmark measures.
"""

from __future__ import annotations

import importlib.util
import math
import os
import time

from spans import span_of

HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue",
    "j5_star_join", "j7_asof_join", "j1_inner_join_agg", "a4_sum_accumulators",
    "a5_distinct_count", "w1_latest_per_key", "w2_rank_topn_per_group",
    "t7_tumbling_window", "t8_session_window", "s1_full_scan",
    "s2_incremental_scan", "p1_flatten_json", "d2_fingerprint_dedup",
    "d4_lsh_band_buckets", "sim1_cosine_topk", "txt2_quality_score",
    "st1_union_all", "o4_topk_recent", "j9_asof_global", "rj1_range_join",
    "sk1_kmv_distinct", "sk2_hash_sample", "q5_local_supplier_volume",
    "q18_large_volume_customers", "ts1_hourly_gap_fill",
]

HEAVY = [
    "d5_ngram_jaccard_pairs", "d12_minhash_estimate_error",
    "txt10_contamination_check", "b5_session_duration_stats",
    "dq6_json_key_profile", "sim6_knn_graph", "rj2_interval_coverage",
    "g1_pagerank_trade", "pk1_context_pack", "w8_moving_sum_rows",
    "d9_dup_clusters", "d10_retention_policy", "txt5_bigram_topk",
    "d6_embedding_neardup", "d14_semantic_dedup", "g3_contamination_bfs",
    "g4_cheapest_route", "d17_signal_agreement", "d19_incremental_neardup",
    "d18_embedding_neardup_cell", "emb3_matryoshka_fidelity",
    "txt21_ngram_novelty",
]

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


def load_entry(root: str):
    """The repository's entry module (``__spark_entry__.py``)."""
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(root, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _cell(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def canon(pdf) -> tuple[list[str], list[tuple]]:
    """Column names and sorted, stringified rows of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows)


class QueryWorkload:
    """``headline`` / ``heavy``: passes over a fixed query list at sf0.1."""

    def __init__(self, names: list[str], corpus_dir: str, root: str):
        self.names = names
        self.sf_dir = corpus_dir
        self.root = root

    def build(self, spark) -> None:
        entry = load_entry(self.root)
        self.spark = spark
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    def run_query(self, name: str, tracer=None) -> float:
        """Build one query and run it to the ``noop`` sink; wall seconds."""
        t0 = time.perf_counter()
        with span_of(tracer, f"query.{name}"):
            with span_of(tracer, "corpus.build"):
                df = self.queries[name](self.spark, self.sf_dir)
            with span_of(tracer, "spark.exec"):
                df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def check_pass(self) -> tuple[float, list[str]]:
        """First pass in the fresh session: collect every result and
        compare it with its DuckDB oracle. Returns the Spark-side wall
        seconds and the names of queries whose results differ."""
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.sf_dir, t)}.parquet'"
            )
        spark_s, bad = 0.0, []
        for name in self.names:
            try:
                t0 = time.perf_counter()
                got = self.queries[name](self.spark, self.sf_dir).toPandas()
                spark_s += time.perf_counter() - t0
                want = con.execute(self.oracles[name]).fetchdf()
                if canon(got) != canon(want):
                    bad.append(name)
            except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
                print(f"perfbench: {name} failed: {e!r}"[:500], flush=True)
                bad.append(name)
        con.close()
        return spark_s, bad

    def close(self) -> None:
        pass
