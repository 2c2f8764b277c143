"""Measure the jar-free ES drain's Python CPU: the row view
(`drain_http_status` + per-row json.dumps, the NDJSON transport) vs the
raw-page view (`drain_http_pages_status`, one control parse per page,
the typed transport) over the same loopback corpus. Run SOLO (host
noise rules).

Usage: python tools/es_drain_bench.py [n_docs] [page_size]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    from es_to_clickhouse_spark.sources.es import ScrollSession
    from es_to_clickhouse_spark.sources.es_fixture import serve_index

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    page = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    docs = [
        {
            "_id": str(i),
            "id": i,
            "name": f"user-{i % 997}",
            "status": ("ok", "warn", "err")[i % 3],
            "created_at": f"2024-05-{i % 28 + 1:02d} 10:{i % 60:02d}:00",
            "score": i / 7.0,
            "count_a": i % 1000,
            "count_b": (i * 7) % 1000,
            "region": f"r{i % 16}",
            "tags": f"t{i % 50},t{(i + 3) % 50}",
            "active": i % 2 == 0,
            "note": "x" * 40,
        }
        for i in range(n_docs)
    ]
    srv, host = serve_index(docs, index="bench")
    try:
        sess = ScrollSession(host=host, size=page)

        # path A: row view — dict rows + per-row re-dump
        t0 = time.perf_counter()
        rows = sess.drain_http_status("bench")[0]
        lines = [json.dumps(r, ensure_ascii=False, default=str) for r in rows]
        t_rows = time.perf_counter() - t0

        # path B: raw-page view (control parse per page)
        t0 = time.perf_counter()
        pages = sess.drain_http_pages_status("bench")[0]
        t_pages = time.perf_counter() - t0

        n_from_pages = sum(
            len(json.loads(p)["hits"]["hits"]) for p in pages
        )
        assert len(lines) == n_docs and n_from_pages == n_docs
        print(
            json.dumps(
                {
                    "n_docs": n_docs,
                    "page_size": page,
                    "row_path_sec": round(t_rows, 3),
                    "page_path_sec": round(t_pages, 3),
                    "speedup": round(t_rows / t_pages, 2),
                    "rdd_elements_row_path": len(lines),
                    "rdd_elements_page_path": len(pages),
                }
            )
        )
    finally:
        srv.shutdown()
    return 0


if __name__ == "__main__":
    sys.exit(main())
