"""Cross-SF vacuous-green gate.

A query that returns ZERO rows at a given SF passes the oracle
vacuously — both engines agreed on nothing. That's fine when the data
genuinely lacks the phenomenon at that scale, but a query that is empty
at EVERY scale factor exercises nothing at all (round 5's d6
0.9-threshold / txt16 sentence-split trap). check_correctness.py prints
the per-SF EMPTY-PASS list; this tool computes the INTERSECTION across
all SFs and fails if it is non-empty.

DuckDB-only: it runs each query's ORACLE at each SF (seconds, no JVM).
The Spark side is already pinned to the oracle by the correctness gate,
so oracle-empty == spark-empty for any green query. Queries without an
oracle (rows-only checks) are skipped and listed.

Usage: python tools/empty_audit.py [sf_dir ...]   (default: all three)
Exit 1 if any oracle-checked query is empty at EVERY audited SF.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.check_correctness import TABLES  # noqa: E402

DEFAULT_SFS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def empty_sets(sf_dirs: list[str]) -> tuple[dict[str, set[str]], list[str]]:
    """{sf_dir: {query names whose oracle returns 0 rows}}, plus the
    list of oracle-less (rows-only) query names."""
    import duckdb

    from es_to_clickhouse_spark.corpus import all_oracles, all_queries

    oracles = all_oracles()
    rows_only = sorted(set(all_queries()) - set(oracles))
    per_sf: dict[str, set[str]] = {}
    for sf_dir in sf_dirs:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        empties: set[str] = set()
        for name, sql in oracles.items():
            n = con.execute(
                f"SELECT count(*) FROM ({sql})"
            ).fetchone()[0]
            if n == 0:
                empties.add(name)
        per_sf[sf_dir] = empties
        con.close()
    return per_sf, rows_only


def main() -> int:
    sf_dirs = sys.argv[1:] or DEFAULT_SFS
    per_sf, rows_only = empty_sets(sf_dirs)
    for sf_dir, empties in per_sf.items():
        print(f"{sf_dir}: {len(empties)} empty — {sorted(empties)}")
    if rows_only:
        print(f"rows-only (not audited): {rows_only}")
    always_empty = set.intersection(*per_sf.values()) if per_sf else set()
    print(f"empty at ALL {len(sf_dirs)} SFs: {sorted(always_empty)}")
    if always_empty:
        print(
            "FAIL: the above queries are vacuous at every scale factor — "
            "recalibrate their thresholds/predicates to the synthetic corpus"
        )
        return 1
    print("OK: every oracle-checked query is non-empty at some SF")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
