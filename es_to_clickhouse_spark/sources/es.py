"""Jar-free Elasticsearch source: the wire protocol the reference daemon
speaks (es/es_to_bytehouse.py), driven over stdlib HTTP.

- :class:`ScrollSession` / :class:`SearchAfterSession`: the scroll and
  PIT + ``search_after`` cursors as pure request builders, golden folds
  over recorded responses (``drain``), and ONE live paging loop with one
  retry loop, shared by both cursors (``drain_http*``);
- :func:`read_index_http`: the executor-parallel sliced read behind the
  corpus queries and the sync round;
- :func:`sync_incremental_es_http`: one live incremental sync round
  (mapping fetch → range-query drain → flatten → append → watermark);
- mapping helpers (typed schemas from ``_mapping``) and
  :func:`range_query` (the reference's incremental DSL).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: ES field type → Spark type. The reference maps EVERY ES type to
#: String (wide-String target, es/es_to_bytehouse.py:166-188); the typed
#: mapping is an engine extension for when the target keeps native types
#: (flatten_es(stringify=False)). Unknown types fall back to string.
ES_TYPE_TO_SPARK: dict[str, T.DataType] = {
    "keyword": T.StringType(),
    "text": T.StringType(),
    "match_only_text": T.StringType(),
    "constant_keyword": T.StringType(),
    "long": T.LongType(),
    "integer": T.IntegerType(),
    "short": T.ShortType(),
    "byte": T.ByteType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "half_float": T.FloatType(),
    "scaled_float": T.DoubleType(),
    "boolean": T.BooleanType(),
    "date": T.TimestampType(),
    "ip": T.StringType(),
    "geo_point": T.StringType(),
    "geo_shape": T.StringType(),
    "binary": T.BinaryType(),
    "flattened": T.StringType(),
}


def mapping_properties(mapping_response: dict) -> dict:
    """Extract the first index's ``mappings.properties`` from a recorded
    ``GET /{index}/_mapping`` response body
    (es/es_to_bytehouse.py:260-273: take the first matching index)."""
    for _idx_name, idx_mapping in mapping_response.items():
        return idx_mapping.get("mappings", {}).get("properties", {})
    return {}


def flatten_mapping(properties: dict, prefix: str = "") -> dict[str, str]:
    """Flatten nested mapping properties to ``{flat_name: es_type}``
    (es/es_to_bytehouse.py:275-294): nested objects recurse into
    ``parent_child`` names; ``.``/``-`` sanitize to ``_``; ``@`` drops
    (the ``@timestamp`` → ``timestamp`` rebind, P13). Fields with neither
    ``properties`` nor ``type`` are skipped, as in the reference."""
    out: dict[str, str] = {}
    for field_name, field_config in properties.items():
        full = f"{prefix}_{field_name}" if prefix else field_name
        full = full.replace(".", "_").replace("-", "_").replace("@", "")
        if "properties" in field_config:
            out.update(flatten_mapping(field_config["properties"], full))
        elif "type" in field_config:
            out[full] = field_config["type"]
    return out


def mapping_to_spark_fields(properties: dict) -> dict[str, T.DataType]:
    """Flat ``{column: Spark type}`` view of a recorded mapping — the
    schema the typed target would declare for this index (S5)."""
    return {
        name: ES_TYPE_TO_SPARK.get(es_type, T.StringType())
        for name, es_type in flatten_mapping(properties).items()
    }


def mapping_to_struct(
    properties: dict, date_as_string: bool = False
) -> T.StructType:
    """Mapping → nested Spark schema with ORIGINAL field names (the
    shape ``_source`` documents actually arrive in on the wire, before
    the flatten sanitizes names) plus the ``_id`` scroll_docs merges in.
    Feeding this to :func:`read_index_http` gives a typed JVM-side parse
    AND a stable schema on an empty result (schemaless inference cannot
    infer from zero rows).

    ``date_as_string`` keeps ES ``date`` fields as strings — the
    reference's watermark arithmetic is string comparison over the wire
    format (es/es_to_bytehouse.py:909-919), and parsing them would tie
    correctness to the cluster's date-format setting."""
    def _walk(props: dict) -> T.StructType:
        fields = []
        for name, cfg in props.items():
            if "properties" in cfg:
                fields.append(
                    T.StructField(name, _walk(cfg["properties"]), True)
                )
            elif "type" in cfg:
                dt = ES_TYPE_TO_SPARK.get(cfg["type"], T.StringType())
                if date_as_string and cfg["type"] == "date":
                    dt = T.StringType()
                fields.append(T.StructField(name, dt, True))
        return T.StructType(fields)

    inner = _walk(properties)
    return T.StructType(
        [T.StructField("_id", T.StringType(), True)] + inner.fields
    )


def scroll_docs(scroll_response: dict, store_source: bool = False) -> list[dict]:
    """Rows from a recorded ``_search?scroll`` response page: one dict per
    hit with ``_id`` merged in (and the raw document as a ``_source`` JSON
    string when ``store_source``), exactly the row shape the reference
    builds per hit (es/es_to_bytehouse.py:608-622)."""
    rows = []
    for hit in scroll_response.get("hits", {}).get("hits", []):
        source = hit.get("_source", {})
        row = {"_id": hit.get("_id", "")}
        if store_source:
            row["_source"] = json.dumps(source, ensure_ascii=False)
        row.update(source)
        rows.append(row)
    return rows


@dataclass
class ScrollSession:
    """The full HTTP scroll protocol as a PURE fold over recorded
    responses — every request the reference daemon would issue, in
    order, including context cleanup and failure behavior
    (es/es_to_bytehouse.py:577-673):

    - init:    ``POST {host}/{index}/_search?scroll={timeout}`` with
               ``{"size": N, "query": {...}}``
    - page:    ``POST {host}/_search/scroll`` with
               ``{"scroll": timeout, "scroll_id": id}`` while hits remain
               (the id is re-read from EVERY response — ES may rotate it)
    - cleanup: ``DELETE {host}/_search/scroll`` with the LAST scroll_id,
               issued whenever one exists (es/es_to_bytehouse.py:656-661)
    - failure: a page error stops the loop and keeps the partial rows —
               at-least-once with partial progress, never all-or-nothing
               (es/es_to_bytehouse.py:671-673 returns total_migrated).
               DELIBERATE divergence: the reference's cleanup sits inside
               its try block, so an error leaks the scroll context until
               server-side timeout; here cleanup is issued whenever a
               scroll_id exists, failure or not (finally semantics)

    ``drain(pages)`` replays recorded response bodies and returns
    ``(rows, transcript)`` so tests can golden-check the wire exchange
    with zero network. The live drain (:meth:`drain_http_status`,
    :meth:`drain_http_pages_status`, :meth:`drain_http_incremental`)
    issues the same requests over a real socket through ONE paging
    loop; a cursor subclass (:class:`SearchAfterSession`) overrides only
    the cursor hooks that loop calls."""

    host: str = "http://localhost:9200"
    size: int = 1000
    timeout: str = "5m"
    #: transient-retry budget for the live paths — applied ONLY to
    #: idempotent requests (see _exchange): the init search (no scroll
    #: context exists yet; a duplicate context from a lost response
    #: expires server-side at `timeout`) and the DELETE cleanup.
    #: A PAGE request is NEVER retried: each `/_search/scroll` call
    #: advances the server-side cursor, so a request whose response
    #: was lost in transit may have already consumed a page — retrying
    #: would silently skip it while the running-max watermark advances
    #: past its rows, which breaks at-least-once. A failed page keeps
    #: partial rows and the watermark stops at what was actually seen,
    #: so the next sync round re-fetches from there (the safe outcome).
    max_retries: int = 3
    backoff_s: float = 0.2
    #: ascending sort field for watermark-ordered incremental reads
    #: (es/es_to_bytehouse.py:869-871); None = no sort clause.
    sort_field: str | None = None

    #: whether a page request after the first may be retried (see
    #: max_retries): never for scroll, whose pages advance the cursor
    retry_pages = False

    def initial_request(
        self,
        index: str,
        query: dict | None = None,
        slice_id: int | None = None,
        slice_max: int | None = None,
    ) -> dict:
        body = {"size": self.size, "query": query or {"match_all": {}}}
        if slice_id is not None and slice_max is not None:
            # public sliced-scroll API: N independent scroll contexts
            # that partition the index — the executor-parallel form of
            # the reference's serial scroll (es/es_to_bytehouse.py:577)
            if not 0 <= slice_id < slice_max or slice_max < 2:
                raise ValueError(
                    f"slice id {slice_id} must be in [0, max) with max >= 2,"
                    f" got max={slice_max}"
                )
            body["slice"] = {"id": slice_id, "max": slice_max}
        if self.sort_field:
            body["sort"] = [{self.sort_field: "asc"}]
        return {
            "method": "POST",
            "url": f"{self.host}/{index}/_search",
            "params": {"scroll": self.timeout},
            "body": body,
        }

    def page_request(self, scroll_id: str) -> dict:
        return {
            "method": "POST",
            "url": f"{self.host}/_search/scroll",
            "body": {"scroll": self.timeout, "scroll_id": scroll_id},
        }

    def cleanup_request(self, scroll_id: str) -> dict:
        return {
            "method": "DELETE",
            "url": f"{self.host}/_search/scroll",
            "body": {"scroll_id": scroll_id},
        }

    def drain(
        self,
        index: str,
        pages: list[dict | Exception],
        query: dict | None = None,
        store_source: bool = False,
    ) -> tuple[list[dict], list[dict]]:
        """Fold recorded ``pages`` (response bodies, or an Exception to
        simulate a failed page fetch) through the protocol. Returns the
        flattened rows and the request transcript."""
        transcript: list[dict] = []
        rows: list[dict] = []
        scroll_id: str | None = None
        transcript.append(self.initial_request(index, query))
        for page in pages:
            if isinstance(page, Exception):
                break  # partial progress kept; cleanup still runs below
            scroll_id = page.get("_scroll_id", scroll_id)
            hits = page.get("hits", {}).get("hits", [])
            if not hits:
                break
            rows.extend(scroll_docs(page, store_source=store_source))
            transcript.append(self.page_request(scroll_id))
        if scroll_id:
            transcript.append(self.cleanup_request(scroll_id))
        return rows, transcript

    # -- cursor hooks: the only places the live loop differs by cursor

    def _open(self, index: str) -> str | None:
        """Cursor held before the first search: none for scroll (the
        init search opens the context)."""
        return None

    def _first_request(
        self, index: str, cursor: str | None, query, slice_id, slice_max
    ) -> dict:
        return self.initial_request(index, query, slice_id, slice_max)

    def _next_request(
        self, cursor: str | None, hits: list, query, slice_id, slice_max
    ) -> dict | None:
        """The request for the page after ``hits``; None = no cursor to
        go on (the drain stops, not completed)."""
        return self.page_request(cursor)

    def _cursor(self, page: dict, cursor: str | None) -> str | None:
        return page.get("_scroll_id", cursor)

    def _close_request(self, cursor: str) -> dict:
        return self.cleanup_request(cursor)

    # -- the live wire: one retry loop, one paging loop

    def _exchange(
        self, request: dict, idempotent: bool = False
    ) -> tuple[str, dict]:
        """Issue one protocol request dict (the exact shape the pure
        builders above produce) over a REAL socket with stdlib urllib —
        JSON body, query params, method override for DELETE — returning
        the raw response text AND its parse (the raw-page path hands
        the text to the JVM unopened). No third-party HTTP client: the
        reference's requests.post/delete calls
        (es/es_to_bytehouse.py:589,600,658) map 1:1.

        ``idempotent=True`` enables the bounded transient-retry loop
        (transport OSError, garbled 200 body, HTTP 429/502/503/504 — a
        definite status like 400/404/500 re-raises immediately). The
        body is parsed INSIDE the retry window, so a garbled 200 reply
        retries like a transport failure. Callers assert idempotency;
        scroll PAGE requests must pass False because the server-side
        cursor advance makes a lost-response retry skip data (see
        max_retries on the class)."""
        import time as _time
        import urllib.error
        import urllib.parse
        import urllib.request

        from es_to_clickhouse_spark.sources.ch_http import TRANSIENT_HTTP

        url = request["url"]
        if request.get("params"):
            url += "?" + urllib.parse.urlencode(request["params"])
        # body None = send NO payload (GETs; PIT open on ES < 8.12
        # rejects any body); the Content-Type header goes with the payload
        body = request.get("body")
        data = None if body is None else json.dumps(body).encode("utf-8")
        headers = {} if body is None else {"Content-Type": "application/json"}
        budget = self.max_retries if idempotent else 0
        attempt = 0
        while True:
            try:
                req = urllib.request.Request(
                    url, data=data, headers=headers, method=request["method"]
                )
                with urllib.request.urlopen(req, timeout=30) as resp:
                    text = resp.read().decode("utf-8")
                return text, json.loads(text)
            except urllib.error.HTTPError as e:
                # HTTPError subclasses OSError, so it must be caught FIRST:
                # only transient statuses (429/5xx gateway) are retried —
                # a 400 (bad query DSL) or 404 (missing index) fails the
                # same way every time (mirrors ch_http.execute's
                # TRANSIENT_HTTP filter).
                if e.code not in TRANSIENT_HTTP or attempt >= budget:
                    raise
            except (OSError, ValueError):
                if attempt >= budget:
                    raise
            _time.sleep(self.backoff_s * (2 ** attempt))
            attempt += 1

    def _send(self, request: dict, idempotent: bool = False) -> dict:
        """:meth:`_exchange`'s parsed response."""
        return self._exchange(request, idempotent=idempotent)[1]

    def _drain_wire(
        self,
        index: str,
        keep,
        query: dict | None = None,
        max_pages: int = 10_000,
        slice_id: int | None = None,
        slice_max: int | None = None,
    ) -> bool:
        """THE live paging loop: open the cursor, request pages until an
        empty one, call ``keep(text, page)`` for every non-empty page,
        and close the cursor whenever one exists — failure or not
        (finally semantics; the reference leaks the context on error, a
        deliberate divergence documented on the class). A page error
        keeps what ``keep`` already received. ``max_pages`` bounds a
        server that never returns an empty page.

        Returns ``completed``: True only when the scan drained to
        exhaustion (empty page). A parallel-sliced caller needs it —
        committing a watermark computed over OTHER slices' rows past an
        incomplete slice's undrained tail loses that tail forever."""
        cursor: str | None = None
        completed = False
        try:
            cursor = self._open(index)
            request = self._first_request(
                index, cursor, query, slice_id, slice_max
            )
            idempotent = True  # the first search opens no page cursor
            for _ in range(max_pages):
                text, page = self._exchange(request, idempotent=idempotent)
                cursor = self._cursor(page, cursor)
                hits = page.get("hits", {}).get("hits", [])
                if not hits:
                    completed = True
                    break
                keep(text, page)
                request = self._next_request(
                    cursor, hits, query, slice_id, slice_max
                )
                if request is None:
                    break  # completed stays False: tail state unknown
                idempotent = self.retry_pages
        except (OSError, ValueError):
            # OSError = transport failure (HTTPError included);
            # ValueError = a 200 body that is not valid JSON
            pass  # partial progress kept; cleanup still runs below
        finally:
            if cursor:
                try:
                    self._send(self._close_request(cursor), idempotent=True)
                except (OSError, ValueError):
                    pass  # cleanup is best-effort, like the reference
        return completed

    def drain_http_status(
        self,
        index: str,
        query: dict | None = None,
        store_source: bool = False,
        max_pages: int = 10_000,
        slice_id: int | None = None,
        slice_max: int | None = None,
    ) -> tuple[list[dict], bool]:
        """The LIVE counterpart of :meth:`drain`: ``(rows, completed)``
        over a real socket (loopback ``http.server`` in tests; a real ES
        otherwise). ``slice_id``/``slice_max`` drain ONE slice of a
        sliced scan — the unit :func:`read_index_http` fans out per
        executor."""
        rows: list[dict] = []
        completed = self._drain_wire(
            index,
            lambda _text, page: rows.extend(
                scroll_docs(page, store_source=store_source)
            ),
            query,
            max_pages,
            slice_id,
            slice_max,
        )
        return rows, completed

    def drain_http_pages_status(
        self,
        index: str,
        query: dict | None = None,
        max_pages: int = 10_000,
        slice_id: int | None = None,
        slice_max: int | None = None,
    ) -> tuple[list[str], bool]:
        """:meth:`drain_http_status` returning the RAW page texts instead
        of row dicts — the executor-side transport of the typed
        production read (:func:`read_index_http`): Python parses each
        page once for control (cursor and empty-page stop); the per-hit
        work moves to the JVM as an explode over the page schema."""
        pages: list[str] = []
        completed = self._drain_wire(
            index,
            lambda text, _page: pages.append(text),
            query,
            max_pages,
            slice_id,
            slice_max,
        )
        return pages, completed

    def drain_http_incremental(
        self,
        index: str,
        time_field: str,
        since: str,
        update_field: str | None = None,
        since_update: str | None = None,
        mapping_response: dict | None = None,
        store_source: bool = False,
        max_pages: int = 10_000,
        slice_id: int | None = None,
        slice_max: int | None = None,
    ) -> tuple[list[dict], str, str | None]:
        """The INCREMENTAL drain over a real socket — the live
        counterpart of the reference's ``scroll_es_incremental``
        (es/es_to_bytehouse.py:825-961), end-to-end:

        - the range predicate is built by :func:`range_query` against the
          ORIGINAL field name — ``timestamp`` rebinds back to
          ``@timestamp`` when the index mapping carries it (P13,
          es/es_to_bytehouse.py:837-840) — including the OR-of-ranges +
          ``minimum_should_match=1`` shape when an update field rides
          along;
        - the drain sorts ascending on the original time field;
        - watermarks are the max over each drained hit's SANITIZED
          document (so ``@timestamp`` values land on ``timestamp``),
          string-compared exactly like the reference's in-flight max
          (es/es_to_bytehouse.py:909-919); a failed page keeps both the
          partial rows AND the watermark progress already made —
          at-least-once, the resume point never overshoots the data.

        Returns ``(rows, max_time, max_update_time)``. The Spark
        production path computes the same watermarks as an Observation
        on the snapshot it appends; this driver-side fold pins the
        wire-protocol contract on bounded test transcripts.

        With ``slice_id``/``slice_max`` the fold drains ONE slice: each
        slice's max is a partial watermark, and the global max is the
        fold of the per-slice maxes (string max is associative)."""
        from dataclasses import replace

        from es_to_clickhouse_spark.functions import sanitize_field_name

        original = original_time_field(time_field, mapping_response)
        query = json.loads(
            range_query(original, since, update_field, since_update)
        )["query"]
        rows, _completed = replace(self, sort_field=original).drain_http_status(
            index,
            query=query,
            store_source=store_source,
            max_pages=max_pages,
            slice_id=slice_id,
            slice_max=slice_max,
        )
        max_time, max_update = since, since_update
        for row in rows:
            flat = {
                sanitize_field_name(k): v
                for k, v in row.items()
                if k not in ("_id", "_source")
            }
            t = flat.get(time_field, "")
            if t and t > max_time:
                max_time = t
            if update_field:
                u = flat.get(update_field, "")
                if u and (max_update is None or u > max_update):
                    max_update = u
        return rows, max_time, max_update


@dataclass
class SearchAfterSession(ScrollSession):
    """Point-in-time + ``search_after`` pagination — the public ES 8.x
    cursor that replaces scroll (scroll is deprecated for deep
    pagination upstream; the reference daemon predates that,
    es/es_to_bytehouse.py:577-673). It overrides only the request
    builders and the cursor hooks of :class:`ScrollSession`'s live
    paging loop, so every drain view and :func:`read_index_http` run
    unchanged over either session:

    - open:  ``POST {host}/{index}/_pit?keep_alive={timeout}`` → pit id
      (a frozen snapshot of the index: pages are consistent even while
      writes land, like a scroll context but shareable and cheaper)
    - page:  ``POST {host}/_search`` with the pit id, a total sort
      (``sort_field`` asc if set, then the PIT-only ``_shard_doc``
      tiebreak) and, from the second page on, ``search_after`` = the
      LAST hit's ``sort`` tuple from the previous page
    - close: ``DELETE {host}/_pit`` with the latest pit id (responses
      may rotate it via ``pit_id``)

    THE contract difference vs scroll, and the reason this session
    exists: the cursor is STATELESS — the sort tuple IS the position,
    held by the client. A scroll page consumes the server-side cursor
    on arrival, so a lost response is a lost page and pages must never
    be retried (see ScrollSession.max_retries); here EVERY request is
    idempotent and transient-retried up to ``max_retries``, so a
    flaky-network drain completes instead of degrading to partial.
    Failure past the retry budget keeps partial rows and reports
    ``completed=False``, and the PIT is closed best-effort — identical
    partial-progress semantics to the scroll drain, reached less often.

    ``slice_id``/``slice_max`` slice the PIT search exactly like sliced
    scroll (``slice`` in the body alongside ``pit``), so the
    executor-parallel fan-out is unchanged."""

    #: stateless cursor: every page request is retry-safe
    retry_pages = True

    def open_pit_request(self, index: str) -> dict:
        # body None (not {}): Elasticsearch 8.0-8.11 rejects ANY request
        # body on POST /{index}/_pit (body support arrived in 8.12), so
        # the open must go out with no payload at all to span the full
        # 8.x line the cursor advertises.
        return {
            "method": "POST",
            "url": f"{self.host}/{index}/_pit",
            "params": {"keep_alive": self.timeout},
            "body": None,
        }

    def search_request(
        self,
        pit_id: str,
        query: dict | None = None,
        search_after: list | None = None,
        slice_id: int | None = None,
        slice_max: int | None = None,
    ) -> dict:
        sort: list = []
        if self.sort_field:
            sort.append({self.sort_field: "asc"})
        sort.append({"_shard_doc": "asc"})
        body = {
            "size": self.size,
            "query": query or {"match_all": {}},
            "pit": {"id": pit_id, "keep_alive": self.timeout},
            "sort": sort,
            # total-hit counting walks the whole match set per page —
            # pure waste for a drain that sees every page anyway
            "track_total_hits": False,
        }
        if slice_id is not None and slice_max is not None:
            if not 0 <= slice_id < slice_max or slice_max < 2:
                raise ValueError(
                    f"slice id {slice_id} must be in [0, max) with"
                    f" max >= 2, got max={slice_max}"
                )
            body["slice"] = {"id": slice_id, "max": slice_max}
        if search_after is not None:
            body["search_after"] = search_after
        return {
            "method": "POST",
            "url": f"{self.host}/_search",
            "body": body,
        }

    def close_pit_request(self, pit_id: str) -> dict:
        return {
            "method": "DELETE",
            "url": f"{self.host}/_pit",
            "body": {"id": pit_id},
        }

    def drain(
        self,
        index: str,
        responses: list[dict | Exception],
        query: dict | None = None,
        store_source: bool = False,
    ) -> tuple[list[dict], list[dict]]:
        """Pure fold over recorded responses (protocol golden twin of
        ScrollSession.drain). ``responses[0]`` is the PIT-open body;
        the rest are search pages (or an Exception for a failed fetch
        past the retry budget)."""
        transcript: list[dict] = [self.open_pit_request(index)]
        rows: list[dict] = []
        if not responses:
            return rows, transcript
        # A failed PIT open (Exception past the retry budget, or a
        # response with no 'id') folds to the zero-progress contract —
        # same tolerance ScrollSession.drain has for an Exception in
        # any position: nothing was read, nothing to
        # close, the transcript shows the one attempted open.
        opened = responses[0]
        if isinstance(opened, Exception) or not isinstance(opened, dict):
            return rows, transcript
        pit_id = opened.get("id")
        if not pit_id:
            return rows, transcript
        after: list | None = None
        for page in responses[1:]:
            transcript.append(
                self.search_request(pit_id, query, search_after=after)
            )
            if isinstance(page, Exception):
                break  # partial progress kept; close still runs below
            pit_id = page.get("pit_id", pit_id)
            hits = page.get("hits", {}).get("hits", [])
            if not hits:
                break
            rows.extend(scroll_docs(page, store_source=store_source))
            after = hits[-1].get("sort")
            if after is None:
                break  # no sort tuple: cannot form the next cursor
        if pit_id:
            transcript.append(self.close_pit_request(pit_id))
        return rows, transcript

    def _open(self, index: str) -> str | None:
        return self._send(self.open_pit_request(index), idempotent=True).get(
            "id"
        )

    def _first_request(self, index, cursor, query, slice_id, slice_max):
        return self.search_request(cursor, query, None, slice_id, slice_max)

    def _next_request(self, cursor, hits, query, slice_id, slice_max):
        after = hits[-1].get("sort")
        if after is None:
            return None  # no sort tuple: cannot form the next cursor
        return self.search_request(cursor, query, after, slice_id, slice_max)

    def _cursor(self, page, cursor):
        return page.get("pit_id", cursor)

    def _close_request(self, cursor):
        return self.close_pit_request(cursor)


#: Column carrying the per-slice completion status through a read: each
#: slice that drained to exhaustion adds one JSON line ``{SLICE_DONE: id}``
#: to its output, parsed with the pages into a row whose other columns
#: are NULL; data rows carry NULL here.
SLICE_DONE = "_slice_done"


def read_index_http(
    spark: SparkSession,
    session: ScrollSession,
    index: str,
    query: dict | None = None,
    slices: int = 8,
    schema: T.StructType | None = None,
    store_source: bool = False,
    max_pages: int = 10_000,
    with_status: bool = False,
) -> DataFrame:
    """Distributed jar-free ES read via SLICED drains — the executor-
    parallel form of the reference's serial scroll loop
    (es/es_to_bytehouse.py:577-673) and the ES twin of
    :meth:`sources.ch_http.ClickHouseHttpSource.read_table`:

    - N slice ids fan out over ``sparkContext.parallelize`` — each
      EXECUTOR opens its own cursor (a scroll context, or a PIT for
      :class:`SearchAfterSession`) with ``slice: {id, max}`` (public ES
      API) and drains its disjoint share of the index in pages of
      ``session.size``;
    - each slice keeps the drain failure contract (partial rows kept,
      cursor closed best-effort), so a failed slice degrades to partial
      data for THAT slice only — at-least-once per slice.

    ``slices=1`` degrades to a single unsliced drain on one executor
    (ES requires ``slice.max >= 2``). At 100 TB the slice count should
    track the index's shard count — each slice is one cursor
    server-side, and ES caps open contexts.

    What a slice emits depends on the read:

    - typed (``schema`` given, no ``store_source``): the RAW page texts
      (:meth:`ScrollSession.drain_http_pages_status`, zero per-row
      Python); the JVM explodes ``hits.hits`` under a wrapper schema.
      Measured on a loopback server (COVERAGE.md S2, 100k docs
      × 12 fields, page 1000): 1.5× faster than the per-row path (2.39 s
      → 1.60 s), and the RDD carries pages (1000× fewer elements);
    - ``store_source`` or schemaless: NDJSON rows
      (:meth:`ScrollSession.drain_http_status`) parsed by
      ``spark.read.json`` — ``store_source``'s contract is the RAW
      per-hit ``_source`` text, which ``to_json`` of a struct would
      reorder and prune. Schemaless reads cache the RDD, because JSON
      inference would otherwise drain the index twice.

    ``with_status=True`` adds the integer column :data:`SLICE_DONE`:
    every slice that drained to exhaustion contributes one row holding
    its id (all other columns NULL), and data rows hold NULL. The status
    travels in the same lines as the pages, so one job both drains and
    reports. An incremental-sync caller MUST know it: a slice that died
    mid-drain keeps its partial rows (at-least-once), but a watermark
    computed over the other slices' rows would overshoot its undrained
    tail and lose those rows forever. A slice that reports nothing
    (failed, or its task lost) counts as not drained."""
    n = max(1, slices)
    sess = session  # dataclass — pickles to executors
    typed = schema is not None and not store_source

    def _drain(i: int) -> list[str]:
        kw = dict(
            query=query,
            max_pages=max_pages,
            slice_id=i if n > 1 else None,
            slice_max=n if n > 1 else None,
        )
        if typed:
            out, completed = sess.drain_http_pages_status(index, **kw)
        else:
            rows, completed = sess.drain_http_status(
                index, store_source=store_source, **kw
            )
            out = [json.dumps(r, ensure_ascii=False, default=str) for r in rows]
        if with_status and completed:
            out.append(json.dumps({SLICE_DONE: i}))
        return out

    lines = spark.sparkContext.parallelize(range(n), n).flatMap(_drain)
    done = [T.StructField(SLICE_DONE, T.IntegerType(), True)] if with_status else []
    status = [F.col(SLICE_DONE)] if with_status else []
    if typed:
        want_id = any(f.name == "_id" for f in schema.fields)
        inner = T.StructType([f for f in schema.fields if f.name != "_id"])
        wrapper = T.StructType([
            T.StructField("hits", T.StructType([
                T.StructField("hits", T.ArrayType(T.StructType([
                    T.StructField("_id", T.StringType(), True),
                    T.StructField("_source", inner, True),
                ])), True),
            ]), True),
            *done,
        ])
        # output columns == the caller's schema exactly: _id (the hit
        # envelope field, NOT a _source key) only when asked for; a
        # status line has no hits, and explode_outer keeps it as one row
        cols = ([F.col("h._id").alias("_id")] if want_id else []) + [
            F.col("h._source.*")
        ]
        explode = F.explode_outer if with_status else F.explode
        return (
            spark.read.schema(wrapper)
            .json(lines)
            .select(explode("hits.hits").alias("h"), *status)
            .select(*cols, *status)
        )
    if schema is not None:
        return spark.read.schema(T.StructType(schema.fields + done)).json(lines)
    return spark.read.json(lines.cache())


def get_json(session: ScrollSession, path: str):
    """One idempotent GET against the live cluster (catalog + mapping
    fetches: the reference's requests.get calls,
    es/es_to_bytehouse.py:239-273) with the session's transient-retry
    contract — GETs have no server-side cursor, so retry is always
    safe."""
    return session._send(
        {"method": "GET", "url": f"{session.host}{path}", "body": None},
        idempotent=True,
    )


def list_indices(session: ScrollSession) -> list[str]:
    """Live index catalog: ``GET /_cat/indices?format=json`` → names
    (the reference's index listing, es/es_to_bytehouse.py:239-258; the
    system-index filter is applied by the caller like every other
    catalog, functions.is_system_name)."""
    return sorted(r["index"] for r in get_json(session, "/_cat/indices?format=json"))


def fetch_mapping(session: ScrollSession, index: str) -> dict:
    """Live ``GET /{index}/_mapping`` (S5 over the wire — the recorded-
    response form feeds mapping_properties/mapping_to_spark_fields)."""
    return get_json(session, f"/{index}/_mapping")


def probe_time_values(session: ScrollSession, index: str, field: str) -> bool:
    """1-document existence probe: does the index hold ANY non-null
    value for ``field``? Public ``exists`` query DSL, ``size: 1``, no
    scroll param (so no server-side cursor), idempotent-retried. Used
    by the ``skipped_no_time_field`` hold to notice
    when real timestamps MATERIALIZE after a bootstrap that found none
    — without it the hold is permanent and only a manual state reset
    recovers the index. Any failure answers False: the hold continues,
    never crashes the poll loop."""
    req = {
        "method": "POST",
        "url": f"{session.host}/{index}/_search",
        "body": {"query": {"exists": {"field": field}}, "size": 1},
    }
    try:
        resp = session._send(req, idempotent=True)
        return bool(resp.get("hits", {}).get("hits"))
    except Exception:
        return False


def sync_incremental_es_http(
    spark: SparkSession,
    session: ScrollSession,
    target,
    state,
    index: str,
    start_date: str | None = None,
    slices: int = 8,
    store_source: bool = False,
):
    """One live-ES sync round over the jar-free sliced-scroll path — the
    reference daemon's loop body (es/es_to_bytehouse.py:963-1006) on the
    engine's warehouse/state machinery, the ES twin of
    :func:`sources.ch_http.sync_incremental_http`:

    1. mode: state exists → incremental with the P5 predicate
       (:func:`range_query` on the watermark, OR-of-ranges when an
       update field rides along, ``@timestamp`` rebound to the original
       name via the live mapping — P13); no state + ``start_date`` →
       incremental bootstrap from that date (the Mongo daemon's
       ``--start-date``); neither → FULL match_all scan seeding state
       (auto semantics — the reference ES daemon instead refuses,
       es/es_to_bytehouse.py:968-971; the full-bootstrap divergence
       matches our CLI's auto mode);
    2. the index drains DISTRIBUTED (:func:`read_index_http`: N sliced
       cursors drained ON THE EXECUTORS, pages parsed JVM-side), the
       rows flatten (``flatten_es``: ``@timestamp`` → ``timestamp``
       value-side, P13), and :func:`engine.land_snapshot` lands them:
       one job checkpoints the drain and observes the row count, the
       slices that drained to exhaustion (``SLICE_DONE`` rows) and the
       watermark maxima — the per-slice maxes of the serial fold
       (drain_http_incremental) collapse into the same associative max,
       computed where the rows already live; zero rows fire no further
       job, otherwise the append is a second job over the checkpoint;
    3. the state advances over the observed maxima — or, when any slice
       did not drain to exhaustion, over the count alone: the maxima
       then belong to the healthy slices and may overshoot the failed
       slice's undrained tail, so the marks hold and the next round
       re-fetches that tail (duplicates possible, loss impossible).

    Returns ``(mode, rows, new_watermark)``."""
    from es_to_clickhouse_spark.engine import land_snapshot
    from es_to_clickhouse_spark.flatten import flatten_es
    from es_to_clickhouse_spark.incremental import (
        detect_time_field,
        detect_update_time_field,
    )
    from es_to_clickhouse_spark.state import SyncState

    st = state.get(index)
    mapping = fetch_mapping(session, index)
    props = mapping_properties(mapping)
    sanitized_fields = list(mapping_to_spark_fields(props))
    time_field = st.time_field if st else detect_time_field(sanitized_fields)
    since = st.last_sync_time if st else start_date
    mode = "incremental" if since and time_field else "full"
    if st is not None and mode == "full":
        # Bootstrap already ran but there is no watermark to advance on
        # (no detectable time field, or one whose values were all null):
        # re-running the full match_all scan would re-append every row
        # EVERY poll round — unbounded duplication in --mode continuous.
        # The reference daemon refuses such indices outright
        # (es/es_to_bytehouse.py:968-971); having accepted ONE full
        # bootstrap under auto semantics, we hold instead of re-scan —
        # but the hold must not be PERMANENT: each round cheaply
        # re-probes the live mapping for a candidate field and, if one
        # exists, asks the index (1-doc exists query) whether usable
        # values have MATERIALIZED since the bootstrap.
        # When they have, fall through to ONE more full scan that this
        # time commits a real max(time_field) watermark, unlocking
        # incremental rounds — a single at-least-once re-drain beats
        # staying silently stale forever.
        candidate = st.time_field or detect_time_field(sanitized_fields)
        if not candidate or not probe_time_values(
            session, index, original_time_field(candidate, mapping)
        ):
            return "skipped_no_time_field", 0, since
        time_field = candidate
    if mode == "incremental":
        original = original_time_field(time_field, mapping)
        update_field = st.update_time_field if st else None
        since_update = st.last_update_time if st else None
        query = json.loads(
            range_query(original, since, update_field, since_update)
        )["query"]
    else:
        query = None
    # mapping-derived schema, ORIGINAL names, dates-as-strings: typed
    # one-pass parse, stable on an idle (zero-row) round, watermark
    # strings compared like the reference's in-flight max
    schema = mapping_to_struct(props, date_as_string=True)
    if store_source:
        schema = T.StructType(
            [T.StructField("_source", T.StringType(), True)] + schema.fields
        )
    df = read_index_http(
        spark,
        session,
        index,
        query=query,
        slices=slices,
        schema=schema,
        store_source=store_source,
        with_status=True,
    )
    out = flatten_es(df, stringify=False)
    cols = [c for c in out.columns if c != SLICE_DONE]
    prior = SyncState(
        table_name=index,
        source_name=f"es_http:{index}",
        time_field=time_field if time_field in cols else detect_time_field(cols),
        update_time_field=detect_update_time_field(cols),
        last_sync_time=st.last_sync_time if st else since,
        last_update_time=st.last_update_time if st else None,
    )
    committed = land_snapshot(
        out,
        prior,
        state,
        lambda snap: target.append(index, snap),
        status=SLICE_DONE,
        marks=lambda maxima, done: maxima if len(done) == max(1, slices) else {},
    )
    return mode, committed.last_sync_count, committed.last_sync_time


def original_time_field(
    time_field: str, mapping_response: dict | None
) -> str:
    """The P13 rebind, query-side: the engine's detected field is the
    sanitized ``timestamp``, but the index may actually store
    ``@timestamp`` — the range/sort DSL must use the ORIGINAL name
    (es/es_to_bytehouse.py:837-840 checks the raw mapping). The check
    walks the mapping's property names (recursively, matching
    flatten_mapping's traversal) instead of the reference's
    str-contains over the whole response, which also fires on values."""
    if time_field != "timestamp" or not mapping_response:
        return time_field

    def _has(props: dict) -> bool:
        for name, cfg in props.items():
            if name == "@timestamp":
                return True
            if isinstance(cfg, dict) and _has(cfg.get("properties", {})):
                return True
        return False

    return "@timestamp" if _has(mapping_properties(mapping_response)) else time_field


def range_query(
    time_field: str,
    since: str | None = None,
    update_field: str | None = None,
    since_update: str | None = None,
) -> str:
    """The reference's incremental query DSL (es/es_to_bytehouse.py:841-861):
    strict-greater range, or OR-of-ranges with minimum_should_match=1."""
    if since is None:
        return json.dumps({"query": {"match_all": {}}})
    ranges = [{"range": {time_field: {"gt": since}}}]
    if update_field and since_update is not None:
        ranges.append({"range": {update_field: {"gt": since_update}}})
        return json.dumps(
            {"query": {"bool": {"should": ranges, "minimum_should_match": 1}}}
        )
    # the reference wraps the single range in a LIST
    # (es/es_to_bytehouse.py:856-860: "filter": [ {range...} ])
    return json.dumps({"query": {"bool": {"filter": [ranges[0]]}}})
