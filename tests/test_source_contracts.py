"""Wire-level source contract tests: recorded ES scroll/mapping JSON,
the ClickHouse typed DDL golden, and loopback ES servers. Live servers
are environmental, so the contracts are pinned against recorded wire
formats."""

from __future__ import annotations

import json

from pyspark.sql import types as T

from es_to_clickhouse_spark.ddl import create_typed_table_sql
from es_to_clickhouse_spark.sources.es import (
    flatten_mapping,
    mapping_properties,
    mapping_to_spark_fields,
    range_query,
    ScrollSession,
    scroll_docs,
)

# -- recorded wire payloads (shapes per the public ES REST API,
#    field behaviors per the reference's handling of them) --------------

MAPPING_RESPONSE = {
    "logs-2024": {
        "mappings": {
            "properties": {
                "@timestamp": {"type": "date"},
                "message": {"type": "text", "fields": {"raw": {"type": "keyword"}}},
                "agent": {
                    "properties": {
                        "id": {"type": "keyword"},
                        "version-tag": {"type": "keyword"},
                    }
                },
                "bytes.sent": {"type": "long"},
                "score": {"type": "scaled_float", "scaling_factor": 100},
                "enabled_flag": {"type": "boolean"},
                "alias_only": {},  # no type, no properties → skipped
            }
        }
    }
}

SCROLL_PAGE = {
    "_scroll_id": "c2Nhbjsx",
    "hits": {
        "total": {"value": 2, "relation": "eq"},
        "hits": [
            {
                "_index": "logs-2024",
                "_id": "doc-1",
                "_source": {
                    "message": "hello",
                    "agent": {"id": "a1", "version-tag": "8.1"},
                    "n": 7,
                },
            },
            {
                "_index": "logs-2024",
                "_id": "doc-2",
                "_source": {"message": "world", "n": 9},
            },
        ],
    },
}


def test_mapping_walk_matches_reference_flatten():
    """flatten_mapping parity with es/es_to_bytehouse.py:275-294: nested
    properties → parent_child, `.`/`-` → `_`, `@` dropped, untyped
    alias entries skipped."""
    props = mapping_properties(MAPPING_RESPONSE)
    flat = flatten_mapping(props)
    assert flat == {
        "timestamp": "date",  # @timestamp rebind (P13)
        "message": "text",
        "agent_id": "keyword",
        "agent_version_tag": "keyword",
        "bytes_sent": "long",
        "score": "scaled_float",
        "enabled_flag": "boolean",
    }
    assert mapping_properties({}) == {}


def test_mapping_to_spark_fields_types():
    fields = mapping_to_spark_fields(mapping_properties(MAPPING_RESPONSE))
    assert fields["timestamp"] == T.TimestampType()
    assert fields["bytes_sent"] == T.LongType()
    assert fields["score"] == T.DoubleType()
    assert fields["enabled_flag"] == T.BooleanType()
    assert fields["message"] == T.StringType()


def test_scroll_docs_row_shape_and_flatten(spark):
    """A recorded scroll page flows through scroll_docs → flatten_es and
    yields the reference's row shape (es/es_to_bytehouse.py:608-622:
    _id merged in, nested doc flattened to agent_id etc.)."""
    from es_to_clickhouse_spark.flatten import flatten_es

    rows = scroll_docs(SCROLL_PAGE)
    assert [r["_id"] for r in rows] == ["doc-1", "doc-2"]
    df = spark.read.json(
        spark.sparkContext.parallelize([json.dumps(r) for r in rows])
    )
    flat = flatten_es(df)
    got = {r._id: r.asDict() for r in flat.collect()}
    assert got["doc-1"]["agent_id"] == "a1"
    assert got["doc-1"]["agent_version_tag"] == "8.1"
    assert got["doc-2"]["agent_id"] is None
    assert got["doc-2"]["n"] == "9"  # wide-String stringify

    with_src = scroll_docs(SCROLL_PAGE, store_source=True)
    assert json.loads(with_src[1]["_source"]) == {"message": "world", "n": 9}


def test_es_incremental_dsl_wire_golden():
    """range_query emits byte-equivalent DSL to the reference's query
    bodies (es/es_to_bytehouse.py:841-861)."""
    # OR-of-ranges re-fetch (new + updated docs)
    assert json.loads(range_query("timestamp", "2024-01-01", "updated_at", "2024-01-02")) == {
        "query": {
            "bool": {
                "should": [
                    {"range": {"timestamp": {"gt": "2024-01-01"}}},
                    {"range": {"updated_at": {"gt": "2024-01-02"}}},
                ],
                "minimum_should_match": 1,
            }
        }
    }
    # plain strict-greater watermark
    assert json.loads(range_query("@timestamp", "2024-01-01")) == {
        "query": {"bool": {"filter": [{"range": {"@timestamp": {"gt": "2024-01-01"}}}]}}
    }
    assert json.loads(range_query("ts")) == {"query": {"match_all": {}}}


def test_clickhouse_typed_passthrough_ddl_golden():
    """Typed DDL golden (clickhouse/clickhouse_to_bytehouse.py:240-262
    column-list shape; types from the Spark schema)."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), nullable=False),
            T.StructField("price", T.DecimalType(18, 2)),
            T.StructField("ts", T.TimestampType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ]
    )
    sql = create_typed_table_sql("default", "items", schema)
    assert sql == (
        "CREATE TABLE IF NOT EXISTS `default`.`items` (\n"
        "  `id` Int64,\n"
        "  `price` Nullable(Decimal(18, 2)),\n"
        "  `ts` Nullable(DateTime64(3)),\n"
        "  `tags` Nullable(String)\n"
        ") ENGINE = MergeTree() ORDER BY tuple()"
    )


def _page(scroll_id, ids):
    return {
        "_scroll_id": scroll_id,
        "hits": {"hits": [{"_id": i, "_source": {"v": i}} for i in ids]},
    }


def test_scroll_session_transcript_golden():
    """Full scroll protocol transcript (es/es_to_bytehouse.py:577-673):
    init with scroll param + sized match_all body, one page fetch per
    non-empty page re-reading the rotated scroll_id, and the cleanup
    DELETE with the LAST id after the empty terminator page."""
    from es_to_clickhouse_spark.sources.es import ScrollSession

    s = ScrollSession(host="http://es:9200", size=2, timeout="5m")
    pages = [
        _page("sid-1", ["a", "b"]),
        _page("sid-2", ["c"]),  # ES rotated the scroll id
        _page("sid-2", []),  # terminator
    ]
    rows, transcript = s.drain("logs-2024", pages)
    assert [r["_id"] for r in rows] == ["a", "b", "c"]
    assert transcript == [
        {
            "method": "POST",
            "url": "http://es:9200/logs-2024/_search",
            "params": {"scroll": "5m"},
            "body": {"size": 2, "query": {"match_all": {}}},
        },
        {
            "method": "POST",
            "url": "http://es:9200/_search/scroll",
            "body": {"scroll": "5m", "scroll_id": "sid-1"},
        },
        {
            "method": "POST",
            "url": "http://es:9200/_search/scroll",
            "body": {"scroll": "5m", "scroll_id": "sid-2"},
        },
        {
            "method": "DELETE",
            "url": "http://es:9200/_search/scroll",
            "body": {"scroll_id": "sid-2"},
        },
    ]


def test_scroll_session_failure_keeps_partial_and_cleans_up():
    """A failed page fetch keeps already-drained rows (the reference
    returns total_migrated on error — at-least-once partial progress)
    and STILL issues the cleanup DELETE (deliberate improvement: the
    reference leaks the scroll context on error)."""
    from es_to_clickhouse_spark.sources.es import ScrollSession

    s = ScrollSession()
    pages = [
        _page("sid-1", ["a", "b"]),
        ConnectionError("socket reset"),
        _page("sid-9", ["never-reached"]),
    ]
    rows, transcript = s.drain("idx", pages)
    assert [r["_id"] for r in rows] == ["a", "b"]
    assert transcript[-1]["method"] == "DELETE"
    assert transcript[-1]["body"] == {"scroll_id": "sid-1"}
    assert len(transcript) == 3  # init + 1 page + cleanup


def test_scroll_session_empty_index_no_cleanup():
    """Zero hits on the first page: no scroll to page through; cleanup
    only when a scroll_id was ever returned (no id → no DELETE, matching
    the reference's `if scroll_id` guard)."""
    from es_to_clickhouse_spark.sources.es import ScrollSession

    s = ScrollSession()
    rows, transcript = s.drain("empty-idx", [{"hits": {"hits": []}}])
    assert rows == []
    assert len(transcript) == 1  # just the init request


def test_scroll_session_query_passthrough_matches_range_dsl():
    """Incremental scroll: the init body embeds the same DSL range_query
    builds (es/es_to_bytehouse.py:841-861) — wiring the watermark into
    the protocol start."""
    from es_to_clickhouse_spark.sources.es import ScrollSession, range_query

    dsl = json.loads(range_query("created_at", "2024-01-01T00:00:00"))
    s = ScrollSession(size=500)
    req = s.initial_request("logs", query=dsl["query"])
    assert req["body"]["query"] == {
        "bool": {"filter": [{"range": {"created_at": {"gt": "2024-01-01T00:00:00"}}}]}
    }
    assert req["body"]["size"] == 500


def _src_page(scroll_id, docs):
    return {
        "_scroll_id": scroll_id,
        "hits": {"hits": [{"_id": d.pop("_id"), "_source": d} for d in docs]},
    }


def test_scroll_http_incremental_plain_range():
    """The INCREMENTAL scroll over a real loopback socket, end-to-end
    (es/es_to_bytehouse.py:825-961): the init body carries the
    strict-greater range in a filter LIST plus the ascending sort on the
    time field, pages drain through the same rotated-id loop, the
    watermark advances as a running max over hit times, and the context
    is DELETEd."""
    from es_to_clickhouse_spark.sources.es import ScrollSession

    pages = [
        _src_page("sid-1", [
            {"_id": "a", "created_at": "2024-01-02", "v": 1},
            {"_id": "b", "created_at": "2024-01-03", "v": 2},
        ]),
        _src_page("sid-1", [{"_id": "c", "created_at": "2024-01-05", "v": 3}]),
        _src_page("sid-1", []),
    ]
    srv, log, host = _serve_scroll(pages)
    try:
        rows, max_t, max_u = ScrollSession(host=host, size=2).drain_http_incremental(
            "logs", time_field="created_at", since="2024-01-01"
        )
    finally:
        srv.shutdown()
    assert [r["_id"] for r in rows] == ["a", "b", "c"]
    assert max_t == "2024-01-05" and max_u is None
    init = log[0]
    assert init["params"] == {"scroll": "5m"}
    assert init["body"]["query"] == {
        "bool": {"filter": [{"range": {"created_at": {"gt": "2024-01-01"}}}]}
    }
    assert init["body"]["sort"] == [{"created_at": "asc"}]
    assert [(r["method"], r["path"]) for r in log] == [
        ("POST", "/logs/_search"),
        ("POST", "/_search/scroll"),
        ("POST", "/_search/scroll"),
        ("DELETE", "/_search/scroll"),
    ]


def test_scroll_http_incremental_or_ranges_and_update_watermark():
    """OR-of-ranges incremental (new + updated docs): the init body is
    the bool.should + minimum_should_match=1 shape, and BOTH watermarks
    advance independently — docs without the update field don't touch
    the update watermark (es/es_to_bytehouse.py:843-853,909-919)."""
    from es_to_clickhouse_spark.sources.es import ScrollSession

    pages = [
        _src_page("sid-9", [
            {"_id": "a", "ts": "2024-03-02", "updated_at": "2024-03-09"},
            {"_id": "b", "ts": "2024-03-04"},  # no update field
        ]),
        _src_page("sid-9", []),
    ]
    srv, log, host = _serve_scroll(pages)
    try:
        rows, max_t, max_u = ScrollSession(host=host).drain_http_incremental(
            "logs",
            time_field="ts",
            since="2024-03-01",
            update_field="updated_at",
            since_update="2024-03-05",
        )
    finally:
        srv.shutdown()
    assert len(rows) == 2
    assert max_t == "2024-03-04"
    assert max_u == "2024-03-09"
    q = log[0]["body"]["query"]["bool"]
    assert q["minimum_should_match"] == 1
    assert q["should"] == [
        {"range": {"ts": {"gt": "2024-03-01"}}},
        {"range": {"updated_at": {"gt": "2024-03-05"}}},
    ]
    assert log[0]["body"]["sort"] == [{"ts": "asc"}]


def test_scroll_http_incremental_timestamp_rebind():
    """P13 end-to-end: the detected field is the sanitized `timestamp`,
    but the mapping carries `@timestamp` — the range and sort DSL must
    use the ORIGINAL `@timestamp` name, while the running-max watermark
    reads the sanitized key off each hit
    (es/es_to_bytehouse.py:837-840)."""
    from es_to_clickhouse_spark.sources.es import ScrollSession

    pages = [
        _src_page("sid-2", [
            {"_id": "a", "@timestamp": "2024-06-02T10:00:00"},
            {"_id": "b", "@timestamp": "2024-06-02T12:00:00"},
        ]),
        _src_page("sid-2", []),
    ]
    srv, log, host = _serve_scroll(pages)
    try:
        rows, max_t, _ = ScrollSession(host=host).drain_http_incremental(
            "logs",
            time_field="timestamp",
            since="2024-06-01T00:00:00",
            mapping_response=MAPPING_RESPONSE,
        )
    finally:
        srv.shutdown()
    assert len(rows) == 2
    assert max_t == "2024-06-02T12:00:00"
    assert log[0]["body"]["query"] == {
        "bool": {"filter": [{"range": {"@timestamp": {"gt": "2024-06-01T00:00:00"}}}]}
    }
    assert log[0]["body"]["sort"] == [{"@timestamp": "asc"}]


def test_scroll_http_incremental_failure_keeps_rows_and_watermark():
    """HTTP 500 mid-scroll: the rows already drained are kept AND the
    watermark reflects them (the resume point re-fetches only what the
    failed page would have delivered — at-least-once, no overshoot);
    the scroll context is still DELETEd."""
    from es_to_clickhouse_spark.sources.es import ScrollSession

    pages = [
        _src_page("sid-3", [{"_id": "a", "ts": "2024-02-02"}]),
        "fail",
    ]
    srv, log, host = _serve_scroll(pages)
    try:
        rows, max_t, _ = ScrollSession(host=host).drain_http_incremental(
            "logs", time_field="ts", since="2024-02-01"
        )
    finally:
        srv.shutdown()
    assert [r["_id"] for r in rows] == ["a"]
    assert max_t == "2024-02-02"
    assert (log[-1]["method"], log[-1]["path"]) == ("DELETE", "/_search/scroll")
    assert log[-1]["body"] == {"scroll_id": "sid-3"}


def test_original_time_field_rebind_rules():
    """Query-side rebind only fires for the sanitized `timestamp` name
    AND a mapping that actually carries `@timestamp` (top-level or
    nested); everything else passes through."""
    from es_to_clickhouse_spark.sources.es import original_time_field

    assert original_time_field("timestamp", MAPPING_RESPONSE) == "@timestamp"
    assert original_time_field("created_at", MAPPING_RESPONSE) == "created_at"
    assert original_time_field("timestamp", None) == "timestamp"
    no_at = {"idx": {"mappings": {"properties": {"timestamp": {"type": "date"}}}}}
    assert original_time_field("timestamp", no_at) == "timestamp"
    nested = {
        "idx": {
            "mappings": {
                "properties": {
                    "meta": {"properties": {"@timestamp": {"type": "date"}}}
                }
            }
        }
    }
    assert original_time_field("timestamp", nested) == "@timestamp"


# ------------------------------------------- loopback-socket scroll


class _ScrollHandler:
    """Minimal scripted ES-scroll server for http.server: serves the
    init page then scripted scroll pages, records every request
    (method, path, query string, parsed body), and can inject an HTTP
    500 mid-scroll to exercise the failure-resume contract."""

    @staticmethod
    def make(pages, log):
        import urllib.parse
        from http.server import BaseHTTPRequestHandler

        state = {"i": 0}

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence stderr spam
                pass

            def _record(self):
                n = int(self.headers.get("Content-Length", 0))
                body = json.loads(self.rfile.read(n)) if n else None
                parsed = urllib.parse.urlsplit(self.path)
                log.append(
                    {
                        "method": self.command,
                        "path": parsed.path,
                        "params": dict(
                            urllib.parse.parse_qsl(parsed.query)
                        ),
                        "body": body,
                    }
                )
                return body

            def _reply(self, obj, code=200):
                data = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_POST(self):
                self._record()
                page = pages[state["i"]]
                state["i"] += 1
                if page == "fail":
                    self._reply({"error": "scroll ctx gone"}, code=500)
                elif page == "garbage":
                    # 200 whose body is NOT valid JSON (truncated proxy
                    # response) — exercises the ValueError failure class
                    data = b'{"hits": {"hi'
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(data)))
                    self.end_headers()
                    self.wfile.write(data)
                else:
                    self._reply(page)

            def do_DELETE(self):
                self._record()
                self._reply({"succeeded": True})

        return Handler


def _serve_scroll(pages):
    import threading
    from http.server import ThreadingHTTPServer

    log: list[dict] = []
    srv = ThreadingHTTPServer(
        ("127.0.0.1", 0), _ScrollHandler.make(pages, log)
    )
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    return srv, log, f"http://127.0.0.1:{srv.server_address[1]}"


def _drain_view(sess, index, view):
    """``(rows, completed)`` through the row view or the raw-page view
    of the live drain — the two must agree."""
    if view == "rows":
        return sess.drain_http_status(index)
    texts, completed = sess.drain_http_pages_status(index)
    return [r for t in texts for r in scroll_docs(json.loads(t))], completed


def test_scroll_http_loopback_full_session():
    """The scroll fold over a REAL socket (http.server on 127.0.0.1):
    HTTP framing, pagination with a rotated scroll id, the empty page
    that ends the loop, and the final DELETE cleanup — the protocol
    goldens above, now exercised through urllib instead of a replay."""
    pages = [
        _page("sid-1", ["a", "b"]),
        _page("sid-2", ["c"]),  # rotated id
        _page("sid-2", []),  # end of scroll
    ]
    srv, log, host = _serve_scroll(pages)
    try:
        rows = ScrollSession(
            host=host, size=2, timeout="5m"
        ).drain_http_status("idx-a")[0]
    finally:
        srv.shutdown()
    assert [r["_id"] for r in rows] == ["a", "b", "c"]
    assert [(r["method"], r["path"]) for r in log] == [
        ("POST", "/idx-a/_search"),
        ("POST", "/_search/scroll"),
        ("POST", "/_search/scroll"),
        ("DELETE", "/_search/scroll"),
    ]
    assert log[0]["params"] == {"scroll": "5m"}
    assert log[0]["body"] == {"size": 2, "query": {"match_all": {}}}
    assert log[1]["body"] == {"scroll": "5m", "scroll_id": "sid-1"}
    assert log[2]["body"] == {"scroll": "5m", "scroll_id": "sid-2"}
    # cleanup DELETEs the LAST id the server returned
    assert log[3]["body"] == {"scroll_id": "sid-2"}


def test_scroll_http_loopback_failure_keeps_partial_and_cleans_up():
    """HTTP 500 on the second page fetch: the rows already drained are
    kept (at-least-once partial progress) and the scroll context is
    still DELETEd — over a real socket, not a simulated exception."""
    pages = [_page("sid-1", ["a", "b"]), "fail"]
    srv, log, host = _serve_scroll(pages)
    try:
        rows = ScrollSession(host=host, size=2).drain_http_status("idx-a")[0]
    finally:
        srv.shutdown()
    assert [r["_id"] for r in rows] == ["a", "b"]
    assert [(r["method"], r["path"]) for r in log] == [
        ("POST", "/idx-a/_search"),
        ("POST", "/_search/scroll"),
        ("DELETE", "/_search/scroll"),
    ]
    assert log[-1]["body"] == {"scroll_id": "sid-1"}


def test_scroll_http_loopback_bad_json_keeps_partial_and_cleans_up():
    """A 200 response whose body is not valid JSON (truncated proxy
    reply) raises ValueError from json.loads — on a scroll PAGE the
    fold must treat it like a transport error: keep the partial rows
    and still DELETE the scroll context (ADVICE r6: previously only
    OSError was caught and the partial rows were lost). The same
    garbled reply on the INIT search is retried — no scroll context
    exists yet, so the request is idempotent. Both hold through the
    row view and the raw-page view alike."""
    init = ("POST", "/idx-a/_search")
    for pages, inits in (
        ([_page("sid-1", ["a", "b"]), "garbage"], [init]),
        (["garbage", _page("sid-1", ["a", "b"]), "garbage"], [init, init]),
    ):
        for view in ("rows", "pages"):
            srv, log, host = _serve_scroll(pages)
            try:
                sess = ScrollSession(host=host, size=2, backoff_s=0.01)
                rows, completed = _drain_view(sess, "idx-a", view)
            finally:
                srv.shutdown()
            assert not completed
            assert [r["_id"] for r in rows] == ["a", "b"]
            assert [(r["method"], r["path"]) for r in log] == inits + [
                ("POST", "/_search/scroll"),
                ("DELETE", "/_search/scroll"),
            ]
            assert log[-1]["body"] == {"scroll_id": "sid-1"}


def test_scroll_http_loopback_empty_index_no_cleanup():
    """Zero hits and no _scroll_id on the first response: no pagination,
    and no DELETE (no context was ever opened)."""
    srv, log, host = _serve_scroll([{"hits": {"hits": []}}])
    try:
        rows = ScrollSession(host=host).drain_http_status("idx-empty")[0]
    finally:
        srv.shutdown()
    assert rows == []
    assert [(r["method"], r["path"]) for r in log] == [
        ("POST", "/idx-empty/_search")
    ]


# ------------------------------------- PIT + search_after pagination


def _sa_page(ids, pit_id=None):
    """A search_after page: each hit carries its sort tuple (the
    cursor), optionally rotating the pit id."""
    page = {
        "hits": {
            "hits": [
                {"_id": i, "_source": {"v": i}, "sort": [i]} for i in ids
            ]
        }
    }
    if pit_id is not None:
        page["pit_id"] = pit_id
    return page


def test_search_after_protocol_golden():
    """PIT + search_after transcript: open PIT with keep_alive, first
    search WITHOUT search_after, every later search carrying the LAST
    hit's sort tuple, the _shard_doc tiebreak + track_total_hits off
    on every page, and the close DELETE with the latest (rotated)
    pit id."""
    from es_to_clickhouse_spark.sources.es import SearchAfterSession

    responses = [
        {"id": "pit-1"},
        _sa_page(["a", "b"]),
        _sa_page(["c"], pit_id="pit-2"),  # rotated
        _sa_page([]),
    ]
    rows, transcript = SearchAfterSession(size=2, timeout="5m").drain(
        "idx-a", responses
    )
    assert [r["_id"] for r in rows] == ["a", "b", "c"]
    assert [(t["method"], t["url"].split("/", 3)[-1]) for t in transcript] == [
        ("POST", "idx-a/_pit"),
        ("POST", "_search"),
        ("POST", "_search"),
        ("POST", "_search"),
        ("DELETE", "_pit"),
    ]
    assert transcript[0]["params"] == {"keep_alive": "5m"}
    first, second, third = (t["body"] for t in transcript[1:4])
    assert "search_after" not in first
    assert first["sort"] == [{"_shard_doc": "asc"}]
    assert first["track_total_hits"] is False
    assert first["pit"] == {"id": "pit-1", "keep_alive": "5m"}
    assert second["search_after"] == ["b"]
    assert third["search_after"] == ["c"]
    assert third["pit"]["id"] == "pit-2"  # rotation honored
    assert transcript[-1]["body"] == {"id": "pit-2"}


class _PitHandler:
    """Functional loopback PIT server: serves the doc set through the
    real search_after contract — opens pits, applies the search_after
    cursor against per-slice doc lists, and can inject transient 503s
    or garbled 200 bodies by request ordinal to exercise the
    retry-completes contract."""

    @staticmethod
    def make(docs, log, fail_ordinals=frozenset(), garbled_ordinals=frozenset()):
        import urllib.parse
        from http.server import BaseHTTPRequestHandler

        state = {"n": 0}

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def _record(self):
                n = int(self.headers.get("Content-Length", 0))
                body = json.loads(self.rfile.read(n)) if n else None
                parsed = urllib.parse.urlsplit(self.path)
                log.append(
                    {
                        "method": self.command,
                        "path": parsed.path,
                        "params": dict(
                            urllib.parse.parse_qsl(parsed.query)
                        ),
                        "body": body,
                    }
                )
                return body

            def _reply(self, obj, code=200):
                data = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_POST(self):
                body = self._record()
                state["n"] += 1
                if state["n"] in fail_ordinals:
                    self._reply({"error": "transient"}, code=503)
                    return
                if state["n"] in garbled_ordinals:
                    data = b'{"hits": {"hi'  # truncated proxy reply
                    self.send_response(200)
                    self.send_header("Content-Length", str(len(data)))
                    self.end_headers()
                    self.wfile.write(data)
                    return
                if self.path.startswith("/") and "/_pit" in self.path:
                    self._reply({"id": "pit-1"})
                    return
                # functional search: slice, cursor, page size
                sl = body.get("slice")
                mine = [
                    (pos, d)
                    for pos, d in enumerate(docs)
                    if sl is None or pos % sl["max"] == sl["id"]
                ]
                after = body.get("search_after")
                if after is not None:
                    mine = [(p, d) for p, d in mine if p > after[0]]
                page = mine[: body["size"]]
                self._reply(
                    {
                        "hits": {
                            "hits": [
                                {
                                    "_id": d["_id"],
                                    "_source": {
                                        k: v
                                        for k, v in d.items()
                                        if k != "_id"
                                    },
                                    "sort": [p],
                                }
                                for p, d in page
                            ]
                        }
                    }
                )

            def do_DELETE(self):
                self._record()
                self._reply({"succeeded": True})

        return Handler


def _serve_pit(docs, fail_ordinals=frozenset(), garbled_ordinals=frozenset()):
    import threading
    from http.server import ThreadingHTTPServer

    log: list[dict] = []
    srv = ThreadingHTTPServer(
        ("127.0.0.1", 0),
        _PitHandler.make(docs, log, fail_ordinals, garbled_ordinals),
    )
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, log, f"http://127.0.0.1:{srv.server_address[1]}"


_PIT_DOCS = [{"_id": f"d{i}", "k": i} for i in range(7)]


def test_search_after_http_loopback_full_session():
    """Live search_after drain over a real socket: the cursor walks the
    whole doc set in sort order, every page request carries the
    previous page's last sort tuple, and the PIT is closed."""
    from es_to_clickhouse_spark.sources.es import SearchAfterSession

    srv, log, host = _serve_pit(_PIT_DOCS)
    try:
        rows, completed = SearchAfterSession(
            host=host, size=3
        ).drain_http_status("idx-a")
    finally:
        srv.shutdown()
    assert completed
    assert [r["_id"] for r in rows] == [f"d{i}" for i in range(7)]
    paths = [(r["method"], r["path"]) for r in log]
    assert paths == [
        ("POST", "/idx-a/_pit"),
        ("POST", "/_search"),  # d0 d1 d2
        ("POST", "/_search"),  # d3 d4 d5
        ("POST", "/_search"),  # d6
        ("POST", "/_search"),  # empty -> stop
        ("DELETE", "/_pit"),
    ]
    assert log[2]["body"]["search_after"] == [2]
    assert log[4]["body"]["search_after"] == [6]


def test_search_after_retry_completes_where_scroll_cannot():
    """THE reason the session exists: a transient 503 — or a garbled
    200 body — on a PAGE fetch. The stateless cursor retries the
    identical request and the drain COMPLETES with every row, through
    the row view and the raw-page view alike — a scroll page can never
    be retried (the server-side cursor may have advanced), so the same
    fault degrades a scroll drain to partial rows."""
    from es_to_clickhouse_spark.sources.es import SearchAfterSession

    # ordinal 3 = the second _search (after _pit=1, first _search=2)
    for fault in ({"fail_ordinals": {3}}, {"garbled_ordinals": {3}}):
        for view in ("rows", "pages"):
            srv, log, host = _serve_pit(_PIT_DOCS, **fault)
            try:
                sess = SearchAfterSession(host=host, size=3, backoff_s=0.01)
                rows, completed = _drain_view(sess, "idx-a", view)
            finally:
                srv.shutdown()
            assert completed, (fault, view)
            assert [r["_id"] for r in rows] == [f"d{i}" for i in range(7)]
            # the failed ordinal was re-issued with an IDENTICAL body
            searches = [r["body"] for r in log if r["path"] == "/_search"]
            assert searches[1] == searches[2]


def test_search_after_failure_keeps_partial_and_closes_pit():
    """Past the retry budget (a 404-class definite error is not
    retried): partial rows kept, completed=False, PIT still closed —
    the scroll drain's failure contract, reached less often."""
    from es_to_clickhouse_spark.sources.es import SearchAfterSession

    # a 503 on EVERY remaining ordinal exhausts the retry budget
    srv, log, host = _serve_pit(_PIT_DOCS, fail_ordinals={3, 4, 5, 6, 7})
    try:
        rows, completed = SearchAfterSession(
            host=host, size=3, max_retries=2, backoff_s=0.01
        ).drain_http_status("idx-a")
    finally:
        srv.shutdown()
    assert not completed
    assert [r["_id"] for r in rows] == ["d0", "d1", "d2"]
    assert log[-1] == {
        "method": "DELETE",
        "path": "/_pit",
        "params": {},
        "body": {"id": "pit-1"},
    }


def test_pit_open_sends_no_body():
    """POST /{index}/_pit must go out with NO payload: Elasticsearch
    8.0-8.11 rejects any request body on PIT open (body support arrived
    in 8.12), so even an empty {} breaks the advertised 8.x span
    (ADVICE r11). Pinned at both layers: the pure builder emits body
    None, and the real-socket send transmits zero content bytes."""
    from es_to_clickhouse_spark.sources.es import SearchAfterSession

    sess = SearchAfterSession(size=3)
    assert sess.open_pit_request("idx-a")["body"] is None

    srv, log, host = _serve_pit(_PIT_DOCS)
    try:
        SearchAfterSession(host=host, size=3).drain_http_status("idx-a")
    finally:
        srv.shutdown()
    opens = [r for r in log if r["path"] == "/idx-a/_pit"]
    assert opens and all(r["body"] is None for r in opens)


def test_search_after_drain_tolerates_failed_open():
    """A PIT open that failed past the retry budget (an Exception in
    position 0) or returned no 'id' folds to the zero-progress
    contract — ([], [the one attempted open]) — instead of raising or
    building search bodies with pit.id=None (ADVICE r11; matches
    ScrollSession.drain's tolerance for an Exception anywhere)."""
    from es_to_clickhouse_spark.sources.es import SearchAfterSession

    sess = SearchAfterSession(size=2)
    for first in (OSError("pit open failed"), {}, {"id": None}):
        rows, transcript = sess.drain("idx-a", [first, _sa_page(["a"])])
        assert rows == []
        assert transcript == [sess.open_pit_request("idx-a")]


def test_read_index_http_runs_unchanged_over_search_after_session():
    """The polymorphic seam: read_index_http fans the SAME sliced
    executor drain out over a SearchAfterSession — typed raw-page path,
    slice bodies riding alongside the pit, per-slice completion status
    rows — with zero changes to the reader."""
    import pyspark.sql.types as T2

    from es_to_clickhouse_spark.session import get_spark
    from es_to_clickhouse_spark.sources.es import (
        SLICE_DONE,
        read_index_http,
        SearchAfterSession,
    )

    spark = get_spark("tests", cpus=8)
    schema = T2.StructType(
        [
            T2.StructField("_id", T2.StringType()),
            T2.StructField("k", T2.LongType()),
        ]
    )
    srv, log, host = _serve_pit(_PIT_DOCS)
    try:
        rows = read_index_http(
            spark,
            SearchAfterSession(host=host, size=3),
            "idx-a",
            slices=2,
            schema=schema,
            with_status=True,
        ).collect()
    finally:
        srv.shutdown()
    done = sorted(r[SLICE_DONE] for r in rows if r[SLICE_DONE] is not None)
    got = sorted((r["_id"], r["k"]) for r in rows if r[SLICE_DONE] is None)
    assert done == [0, 1]  # both slices drained to exhaustion
    assert got == [(f"d{i}", i) for i in range(7)]
    # both slices opened their own PIT and closed it
    assert sum(1 for r in log if r["path"] == "/idx-a/_pit") == 2
    assert sum(1 for r in log if r["method"] == "DELETE") == 2
    slices_seen = {
        json.dumps(r["body"].get("slice"), sort_keys=True)
        for r in log
        if r["path"] == "/_search"
    }
    assert slices_seen == {
        '{"id": 0, "max": 2}',
        '{"id": 1, "max": 2}',
    }
