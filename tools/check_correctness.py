"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables, then compares row count, column names, and
an order-insensitive exact value comparison (stricter than the driver's
hash — if this passes, any sane hash passes).

Usage: python tools/check_correctness.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def canon_cell(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact float repr — both sides must agree bit-for-bit after rounding
        return repr(v)
    return str(v)


def canon_frame(df) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [tuple(canon_cell(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows)


def main() -> int:
    import duckdb

    from es_to_clickhouse_spark.corpus import all_oracles, all_queries
    from es_to_clickhouse_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for name in TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

    qs, oracles = all_queries(), all_oracles()
    failures, no_oracle, empty_pass = [], [], []
    n_run = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error {e}")
            continue
        if name not in oracles:
            no_oracle.append(name)
            print(f"SKIP {name}: no oracle (rows={len(sdf)})")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL {name}: oracle error {e}")
            continue
        scols, srows = canon_frame(sdf)
        ocols, orows = canon_frame(odf)
        status = []
        if scols != ocols:
            status.append(f"cols spark={scols} oracle={ocols}")
        if len(srows) != len(orows):
            status.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        elif srows != orows and not status:
            for i, (a, b) in enumerate(zip(srows, orows)):
                if a != b:
                    status.append(f"first diff row {i}: spark={a} oracle={b}")
                    break
        if status:
            failures.append((name, "; ".join(status)))
            print(f"FAIL {name}: {'; '.join(status)}")
        else:
            if not srows:
                empty_pass.append(name)
            print(f"PASS {name} ({len(srows)} rows, {time.time() - t0:.1f}s)")

    print(f"\n{n_run - len(failures) - len(no_oracle)} pass, "
          f"{len(failures)} fail, {len(no_oracle)} rows-only")
    if empty_pass:
        # a pass with ZERO rows is vacuous — both engines agreed on
        # nothing. Legitimate when the data genuinely lacks the
        # phenomenon at this SF (j4's orphans, st3's except), but a
        # query that is empty at EVERY SF exercises nothing (the d6
        # 0.9-threshold / txt16 sentence-split trap, round 5) — check
        # the other scale factors before trusting these:
        print(f"EMPTY-PASS (vacuous at this SF): {sorted(empty_pass)}")
    for name, msg in failures:
        print(f"  FAIL {name}: {msg[:300]}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
