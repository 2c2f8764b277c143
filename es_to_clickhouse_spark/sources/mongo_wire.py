"""MongoDB wire protocol (OP_MSG) over a plain TCP socket — the
jar-free, driver-free keyset scan of the reference's Mongo daemon.
Public wire format throughout: the BSON spec (bsonspec.org) and the
OP_MSG framing (opcode 2013, MongoDB 3.6+ standard message), both stable
public documentation.

The reference's scan (mongodb/mongodb_to_bytehouse.py:524-565) drives
pymongo's ``collection.find(query).sort("_id", 1).limit(BATCH_SIZE)``;
on the wire that is exactly one ``find`` command document per keyset
page — fresh cursor each page (``limit`` <= batch means the server
returns cursor id 0), so there is no getMore/server-cursor state and
the scan stays restartable from the ``_id`` watermark.

The BSON codec below is deliberately BOUNDED to the types the
reference's rows can carry after its ``default=str`` serialization
posture: string, int32/int64, double, bool, null, embedded document,
array, UTC datetime, and ObjectId. ObjectId decodes to a typed
:class:`ObjectId` wrapper (NOT a hex string): MongoDB query
comparisons are type-bracketed, so a keyset resume filter
``{"_id": {"$gt": <24-hex str>}}`` would never match real ObjectId
``_id`` values and the scan would silently stop after one page. The
wrapper re-encodes as BSON type 0x07 on the way back out, exactly
like the reference passing pymongo's raw ObjectId into the ``$gt``
filter (mongodb/mongodb_to_bytehouse.py:524-531); row-facing values
stringify to the 24-hex the reference's ``str(doc["_id"])`` produces.
Unknown element types raise — failing closed beats silently
mis-framing the stream.

Scale note: the session object is picklable and :func:`split_ranges`
pre-splits the ``_id`` keyspace into N half-open ranges (two 1-doc
min/max probes + typed interpolation), so ``read_collection_wire``
fans N disjoint keyset sub-cursors out across the executors — the
Mongo twin of ES sliced scroll, with the reference's serial walk
(mongodb_to_bytehouse.py:524-532) as the ``splits=1`` degenerate case.
The driver-side fold in :meth:`MongoWireSession.drain_socket` pins the
PROTOCOL contract over a loopback socket (tests/test_mongo_wire.py)."""

from __future__ import annotations

import datetime as _dt
import json
import socket
import struct
from dataclasses import dataclass

OP_MSG = 2013


@dataclass(frozen=True, order=True)
class ObjectId:
    """A BSON ObjectId (type 0x07): 12 raw bytes. Ordering is bytewise,
    which is exactly MongoDB's ObjectId sort order, so keyset pagination
    (`sort {_id: 1}` + `$gt` watermark) composes with the same semantics
    the server applies. ``str()`` yields the 24-hex form the reference's
    ``str(doc["_id"])`` writes into rows."""

    raw: bytes

    def __post_init__(self):
        if not isinstance(self.raw, bytes) or len(self.raw) != 12:
            raise ValueError("ObjectId requires exactly 12 raw bytes")

    def __str__(self) -> str:
        return self.raw.hex()


def _plainify(v):
    """Row-facing view of a decoded BSON value: ObjectId → 24-hex string
    (recursively), everything else unchanged. The wire watermark keeps
    the TYPED ObjectId; only row columns get the string form."""
    if isinstance(v, ObjectId):
        return str(v)
    if isinstance(v, dict):
        return {k: _plainify(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_plainify(x) for x in v]
    return v


# ------------------------------------------------------------- BSON


def _cstring(b: bytes, off: int) -> tuple[str, int]:
    end = b.index(b"\x00", off)
    return b[off:end].decode("utf-8"), end + 1


def bson_encode(doc: dict) -> bytes:
    out = bytearray()
    for k, v in doc.items():
        key = k.encode("utf-8") + b"\x00"
        if isinstance(v, bool):  # before int (bool is an int subclass)
            out += b"\x08" + key + (b"\x01" if v else b"\x00")
        elif isinstance(v, int):
            if -(2**31) <= v < 2**31:
                out += b"\x10" + key + struct.pack("<i", v)
            else:
                out += b"\x12" + key + struct.pack("<q", v)
        elif isinstance(v, float):
            out += b"\x01" + key + struct.pack("<d", v)
        elif isinstance(v, str):
            s = v.encode("utf-8") + b"\x00"
            out += b"\x02" + key + struct.pack("<i", len(s)) + s
        elif v is None:
            out += b"\x0a" + key
        elif isinstance(v, ObjectId):
            out += b"\x07" + key + v.raw
        elif isinstance(v, _dt.datetime):
            # BSON datetime is UTC milliseconds; a NAIVE datetime is
            # treated as UTC explicitly (never the process-local zone —
            # that would shift the round-trip by the host's UTC offset)
            if v.tzinfo is None:
                v = v.replace(tzinfo=_dt.timezone.utc)
            ms = int(v.timestamp() * 1000)
            out += b"\x09" + key + struct.pack("<q", ms)
        elif isinstance(v, dict):
            out += b"\x03" + key + bson_encode(v)
        elif isinstance(v, (list, tuple)):
            out += b"\x04" + key + bson_encode(
                {str(i): x for i, x in enumerate(v)}
            )
        else:
            raise TypeError(f"unsupported BSON type: {type(v)} for {k!r}")
    return struct.pack("<i", len(out) + 5) + bytes(out) + b"\x00"


def _decode_elements(b: bytes, off: int, end: int) -> dict:
    doc: dict = {}
    while off < end:
        t = b[off]
        if t == 0:
            break
        name, off = _cstring(b, off + 1)
        if t == 0x01:
            doc[name] = struct.unpack_from("<d", b, off)[0]
            off += 8
        elif t == 0x02:
            n = struct.unpack_from("<i", b, off)[0]
            doc[name] = b[off + 4 : off + 4 + n - 1].decode("utf-8")
            off += 4 + n
        elif t in (0x03, 0x04):
            n = struct.unpack_from("<i", b, off)[0]
            inner = _decode_elements(b, off + 4, off + n - 1)
            doc[name] = list(inner.values()) if t == 0x04 else inner
            off += n
        elif t == 0x07:  # ObjectId -> typed wrapper (re-encodable as 0x07)
            doc[name] = ObjectId(b[off : off + 12])
            off += 12
        elif t == 0x08:
            doc[name] = b[off] == 1
            off += 1
        elif t == 0x09:
            ms = struct.unpack_from("<q", b, off)[0]
            doc[name] = _dt.datetime.fromtimestamp(
                ms / 1000.0, tz=_dt.timezone.utc
            )
            off += 8
        elif t == 0x0A:
            doc[name] = None
        elif t == 0x10:
            doc[name] = struct.unpack_from("<i", b, off)[0]
            off += 4
        elif t == 0x12:
            doc[name] = struct.unpack_from("<q", b, off)[0]
            off += 8
        else:
            raise ValueError(f"unsupported BSON element type 0x{t:02x}")
    return doc


def bson_decode(b: bytes) -> dict:
    n = struct.unpack_from("<i", b, 0)[0]
    if n != len(b):
        raise ValueError(f"BSON length {n} != buffer {len(b)}")
    return _decode_elements(b, 4, n - 1)


# ----------------------------------------------------------- OP_MSG


def op_msg(request_id: int, body: dict, response_to: int = 0) -> bytes:
    """One OP_MSG frame: standard header + flagBits 0 + one kind-0
    (body) section."""
    payload = struct.pack("<I", 0) + b"\x00" + bson_encode(body)
    return (
        struct.pack("<iiii", 16 + len(payload), request_id, response_to, OP_MSG)
        + payload
    )


def parse_op_msg(frame: bytes) -> tuple[int, int, dict]:
    """(request_id, response_to, body) from one OP_MSG frame. Raises
    ValueError on a non-OP_MSG opcode or a non-body leading section."""
    length, request_id, response_to, opcode = struct.unpack_from("<iiii", frame, 0)
    if opcode != OP_MSG:
        raise ValueError(f"expected OP_MSG (2013), got opcode {opcode}")
    if length != len(frame):
        raise ValueError(f"frame length {length} != buffer {len(frame)}")
    # skip flagBits; require a kind-0 section (checksum flag unused here)
    if frame[20] != 0:
        raise ValueError(f"expected kind-0 section, got {frame[20]}")
    return request_id, response_to, bson_decode(frame[21:])


def read_frame(sock: socket.socket) -> bytes:
    """Read one length-prefixed message off the socket."""
    head = b""
    while len(head) < 4:
        chunk = sock.recv(4 - len(head))
        if not chunk:
            raise OSError("connection closed mid-header")
        head += chunk
    (length,) = struct.unpack("<i", head)
    if length < 16 or length > 48_000_000:  # maxMessageSizeBytes
        raise ValueError(f"implausible message length {length}")
    buf = bytearray(head)
    while len(buf) < length:
        chunk = sock.recv(length - len(buf))
        if not chunk:
            raise OSError("connection closed mid-frame")
        buf += chunk
    return bytes(buf)


# ---------------------------------------------------------- session


@dataclass
class MongoWireSession:
    """Keyset scan over a live OP_MSG socket: ``find`` pages sorted on
    ``_id`` with a ``$gt`` resume filter; a failed fetch keeps the rows
    already drained."""

    host: str = "127.0.0.1"
    port: int = 27017
    database: str = "test"
    batch_size: int = 1000

    def find_command(
        self, collection: str, last_id=None, lte=None
    ) -> dict:
        """The find command document one keyset page puts on the wire
        (pymongo's find(query).sort('_id', 1).limit(n) compiles to
        exactly this, mongodb/mongodb_to_bytehouse.py:524-531).
        ``last_id`` keeps whatever type the server returned — an
        :class:`ObjectId` watermark re-encodes as BSON type 0x07, so the
        ``$gt`` filter type-matches real ObjectId ``_id`` values (a hex
        STRING here would never match: Mongo comparisons are
        type-bracketed and the scan would silently stop at page 1).
        ``lte`` bounds the range from above — the device that makes N
        executor tasks drain DISJOINT ``_id`` ranges in parallel."""
        bounds = {}
        if last_id is not None:
            bounds["$gt"] = last_id
        if lte is not None:
            bounds["$lte"] = lte
        return {
            "find": collection,
            "filter": {"_id": bounds} if bounds else {},
            "sort": {"_id": 1},
            "limit": self.batch_size,
            "$db": self.database,
        }

    def _find(self, sock: socket.socket, rid: int, cmd: dict) -> list[dict]:
        sock.sendall(op_msg(rid, cmd))
        _, _, reply = parse_op_msg(read_frame(sock))
        if reply.get("ok") != 1:
            raise ValueError(f"server returned ok={reply.get('ok')!r}")
        return reply.get("cursor", {}).get("firstBatch", [])

    def drain_socket(
        self,
        collection: str,
        store_source: bool = False,
        max_pages: int = 100_000,
        start_after=None,
        lte=None,
    ) -> tuple[list[dict], object, bool]:
        """The full keyset scan over the wire. Returns ``(rows,
        last_id, completed)`` — the watermark a restart would resume
        from, plus whether the range DRAINED TO EXHAUSTION (the server
        returned an empty page). A transport error or malformed reply
        keeps the partial rows AND the watermark progress
        (at-least-once, like the ES drain_http_status) but reports
        ``completed=False`` — a parallel-split caller must not advance
        a committed watermark past an incomplete range (a completed
        HIGHER range would otherwise mask this range's undrained tail
        and those rows would never be re-fetched).

        ``start_after``: resume the keyset from a committed watermark
        (typed — an :class:`ObjectId` stays an ObjectId so the ``$gt``
        type-matches; see :func:`typed_watermark`). ``lte``: drain only
        up to this ``_id`` inclusive — one range of a parallel
        N-way-split scan (:func:`split_ranges`)."""
        rows: list[dict] = []
        last_id = start_after
        completed = False
        rid = 0
        try:
            with socket.create_connection((self.host, self.port), timeout=30) as sock:
                for _ in range(max_pages):
                    rid += 1
                    batch = self._find(
                        sock, rid,
                        self.find_command(collection, last_id, lte=lte),
                    )
                    if not batch:
                        completed = True
                        break
                    for doc in batch:
                        row = {"_id": str(doc.get("_id", ""))}
                        if store_source:
                            row["_source"] = json.dumps(
                                doc, ensure_ascii=False, default=str
                            )
                        row.update(
                            {
                                k: _plainify(v)
                                for k, v in doc.items()
                                if k != "_id"
                            }
                        )
                        rows.append(row)
                        # watermark keeps the TYPED _id (ObjectId stays
                        # ObjectId) so the next page's $gt type-matches
                        last_id = doc.get("_id")
        except (OSError, ValueError):
            pass  # partial rows + watermark kept; completed stays False
        return rows, last_id, completed


# ------------------------------------------------------ live sync mode


def list_collections(session: MongoWireSession) -> list[str]:
    """Live collection catalog: the ``listCollections`` command over
    OP_MSG — the wire form of the reference's
    ``list_collection_names()`` (mongodb/mongodb_to_bytehouse.py:
    297-304; the system-collection filter is applied by the caller like
    every other catalog)."""
    cmd = {
        "listCollections": 1,
        "nameOnly": True,
        "$db": session.database,
    }
    with socket.create_connection(
        (session.host, session.port), timeout=30
    ) as sock:
        sock.sendall(op_msg(1, cmd))
        _, _, reply = parse_op_msg(read_frame(sock))
    if reply.get("ok") != 1:
        raise ValueError(f"listCollections returned ok={reply.get('ok')!r}")
    return sorted(
        d["name"] for d in reply.get("cursor", {}).get("firstBatch", [])
    )


def tag_watermark(v) -> str | None:
    """Serialize a TYPED keyset watermark into the tagged string form
    SyncState stores (STATE_SCHEMA.last_id is StringType): the BSON
    type travels WITH the value (``oid:``/``int:``/``str:`` prefix), so
    the resume filter rebuilds the exact server-side type instead of
    guessing from the string shape. A zero-padded digit-string ``_id``
    like ``000000000003`` round-trips as a STRING — Mongo's ``$gt`` is
    type-bracketed, so the old shape-heuristic's int coercion made
    every post-bootstrap round silently match nothing."""
    if v is None:
        return None
    if isinstance(v, ObjectId):
        return "oid:" + str(v)
    if isinstance(v, bool) or not isinstance(v, (int, str)):
        raise TypeError(f"unsupported watermark type: {type(v)}")
    if isinstance(v, int):
        return "int:" + str(v)
    return "str:" + v


def typed_watermark(s: str | None):
    """Rebuild the TYPED keyset watermark from its committed string
    form. Tagged values (written by :func:`tag_watermark`) decode by
    their recorded BSON type — authoritative, no guessing. Legacy
    untagged values (state rows committed before the tag existed) fall
    back to: 24-hex → :class:`ObjectId` (a hex STRING would never match
    under Mongo's type-bracketed comparison), else the string ITSELF —
    never int coercion, because a digit-string ``_id`` coerced to int
    makes ``$gt`` match nothing forever (the silent-stall failure the
    tag exists to kill)."""
    if s is None:
        return None
    if s.startswith("oid:"):
        return ObjectId(bytes.fromhex(s[4:]))
    if s.startswith("int:"):
        return int(s[4:])
    if s.startswith("str:"):
        return s[4:]
    if len(s) == 24 and all(c in "0123456789abcdef" for c in s.lower()):
        return ObjectId(bytes.fromhex(s))
    return s


def commit_watermark_prefix(
    ranges: list[tuple], fallback: str | None
) -> str | None:
    """Fold the per-range ``(idx, done, mark)`` reports
    (:func:`read_collection_wire`) into the watermark that is SAFE to
    commit: walk ranges in index order, take each mark as the running
    watermark, and STOP at the first range that did not drain to
    exhaustion or whose report is missing (its task's report was lost —
    treat as incomplete). The ranges are ``_id``-chained, so the walk's
    final mark proves every ``_id`` at or below it was drained; anything
    above an incomplete range's progress re-drains next round. Returns
    ``fallback`` (the previously committed watermark) when no range
    proved any progress."""
    wm = fallback
    for expect, (idx, done, mark) in enumerate(sorted(ranges)):
        if idx != expect:
            break  # missing range report → nothing beyond it is proven
        if mark:
            wm = mark
        if not done:
            break  # partial range: its own progress counts, nothing above
    return wm


def _wm_to_int(v) -> int:
    """Map a typed ``_id`` into an integer position for boundary
    interpolation: ObjectId → its 12 big-endian bytes (bytewise order
    == integer order at fixed width), int → itself, str → first 12
    UTF-8 bytes zero-padded (prefix order preserved: a proper prefix
    pads with zeros below any longer extension)."""
    if isinstance(v, ObjectId):
        return int.from_bytes(v.raw, "big")
    if isinstance(v, int):
        return v
    return int.from_bytes(v.encode("utf-8")[:12].ljust(12, b"\x00"), "big")


def _int_to_wm(n: int, like):
    """Inverse-ish of :func:`_wm_to_int`: build a boundary VALUE of the
    same BSON type as ``like``. The map must be MONOTONE in ``n`` or
    chained ``(gt, lte]`` ranges can OVERLAP and double-drain string-id
    documents: the old ``decode(errors="ignore")`` dropped invalid
    UTF-8 bytes, which is order-inverting (bytes for ``'a\\x80!'``
    decode to ``'a!'`` > the decode of larger byte strings). Strings
    now decode latin-1: lossless, one char per byte, and code-point
    order == byte order == the big-endian integer order — and since
    UTF-8 encodes code points order-preservingly, MongoDB's simple
    binary (UTF-8 bytewise) string comparison agrees with Python's
    code-point comparison on these boundaries. Trailing NULs strip
    (``_wm_to_int`` zero-pads, so ``'a'`` and ``'a\\x00'`` occupy the
    same position — stripping cannot reorder)."""
    if isinstance(like, ObjectId):
        return ObjectId(max(0, min(n, 2**96 - 1)).to_bytes(12, "big"))
    if isinstance(like, int):
        return n
    raw = max(0, min(n, 2**96 - 1)).to_bytes(12, "big").rstrip(b"\x00")
    return raw.decode("latin-1")


def split_ranges(
    session: MongoWireSession, collection: str, splits: int, start_after=None
) -> list[tuple]:
    """Pre-split the ``_id`` keyspace into ``splits`` half-open ranges
    ``(gt, lte]`` (last range open-ended: ``lte=None``) so N executor
    tasks drain disjoint sub-cursors in parallel — what sliced scroll
    did for the jar-free ES path (the reference's Mongo loop is one
    serial cursor, mongodb_to_bytehouse.py:524-532; this is
    parity-plus). Two 1-document probes (min/max ``_id``, sort asc/desc
    limit 1) bound the space; boundaries interpolate in the typed value
    space. Coverage is UNCONDITIONAL: every ``_id > start_after`` falls
    in exactly one range whatever the boundary quality, and ids written
    past the probed max during the scan land in the final open range —
    the same at-least-once posture as the serial walk."""
    if splits <= 1:
        return [(start_after, None)]
    edges = {}
    try:
        with socket.create_connection(
            (session.host, session.port), timeout=30
        ) as sock:
            for rid, direction in ((1, 1), (2, -1)):
                cmd = session.find_command(collection, last_id=start_after)
                cmd["sort"] = {"_id": direction}
                cmd["limit"] = 1
                batch = session._find(sock, rid, cmd)
                edges[direction] = batch[0]["_id"] if batch else None
    except (OSError, ValueError):
        # a failed min/max probe must not kill the round — degrade to
        # the serial walk (same coverage, one task)
        return [(start_after, None)]
    lo, hi = edges[1], edges[-1]
    if lo is None or hi is None or type(lo) is not type(hi):
        return [(start_after, None)]  # empty or untypable → serial
    lo_i, hi_i = _wm_to_int(lo), _wm_to_int(hi)
    if hi_i - lo_i < splits:
        return [(start_after, None)]  # keyspace too narrow to split
    # Defense in depth on top of _int_to_wm's monotone encoding: keep
    # only a strictly-increasing boundary chain that also sits ABOVE the
    # committed watermark. A bound <= start_after would make its
    # successor range re-drain already-synced ids (duplicates); a
    # non-increasing bound would make adjacent ranges overlap (double
    # drain). Dropping a bad bound merely coarsens the split.
    floor = (
        start_after
        if start_after is not None and type(start_after) is type(lo)
        else None
    )
    bounds = []
    for k in range(1, splits):
        b = _int_to_wm(lo_i + (hi_i - lo_i) * k // splits, lo)
        if floor is not None and not (b > floor):
            continue
        bounds.append(b)
        floor = b
    ranges: list[tuple] = []
    prev = start_after
    for b in bounds:
        ranges.append((prev, b))
        prev = b
    ranges.append((prev, None))
    return ranges


#: the per-range status column of :func:`read_collection_wire`
RANGE_STATUS = "_range"


def read_collection_wire(
    spark,
    session: MongoWireSession,
    collection: str,
    start_after=None,
    store_source: bool = False,
    splits: int = 1,
):
    """Executor-side keyset drain → a DataFrame of NDJSON documents in
    ``value`` (the Mongo twin of ``read_index_http``'s transport).
    ``splits=1`` is the reference's serial ordered walk
    (mongodb_to_bytehouse.py:524-531) as ONE executor task; ``splits>1``
    pre-splits the ``_id`` keyspace (:func:`split_ranges`) and drains
    each range as its own executor task with its own socket — the Mongo
    twin of ES sliced scroll.

    EVERY range also reports one row whose :data:`RANGE_STATUS` column
    (NULL on document rows) is ``(idx, done, mark)``: ``done`` is True
    when the range drained to exhaustion (False: transport error
    mid-range, partial rows kept), and ``mark`` is the furthest TYPED
    ``_id`` position the range PROVES synced, in :func:`tag_watermark`
    form — its ``lte`` boundary when it completed a bounded range (idle
    ranges included: an empty completed range still proves everything
    up to its boundary is drained), else the last drained id (the cursor
    is ``_id``-sorted, so that IS the server-order max seen). The caller
    commits the watermark over the longest contiguous prefix of
    completed ranges only (:func:`commit_watermark_prefix`). The executor
    is the only place the BSON type is still known; a re-derivation
    from the stringified rows would have to guess the type back."""
    sess = session  # dataclass — pickles to the executor
    ranges = split_ranges(sess, collection, splits, start_after=start_after)

    def _drain(task: tuple[int, tuple]) -> list[tuple]:
        idx, (gt, lte) = task
        rows, last, completed = sess.drain_socket(
            collection, store_source=store_source, start_after=gt, lte=lte
        )
        out = [(json.dumps(r, ensure_ascii=False, default=str), None) for r in rows]
        if completed and lte is not None:
            mark = lte  # whole bounded range proven drained (even if idle)
        elif rows:
            mark = last  # ordered cursor → furthest id actually seen
        else:
            mark = None  # nothing proven beyond the committed watermark
        out.append((None, (idx, completed, tag_watermark(mark))))
        return out

    rdd = spark.sparkContext.parallelize(list(enumerate(ranges)), len(ranges))
    return spark.createDataFrame(
        rdd.flatMap(_drain),
        f"value string, {RANGE_STATUS} struct<idx:int, done:boolean, mark:string>",
    )


def sync_incremental_mongo_wire(
    spark,
    session: MongoWireSession,
    target,
    state,
    collection: str,
    splits: int = 1,
):
    """One live-Mongo sync round over the jar-free OP_MSG path — the
    reference daemon's loop body (mongodb/mongodb_to_bytehouse.py:
    524-531,611-631) on the engine's warehouse/state machinery, the
    Mongo twin of ``sync_incremental_es_http``:

    1. the keyset resumes from the committed ``last_id`` watermark
       (typed via :func:`typed_watermark`); no state → full scan
       seeding it (the reference's auto bootstrap);
    2. the collection drains executor-side (:func:`read_collection_wire`)
       and lands through :func:`engine.land_snapshot`: one job
       checkpoints the document lines and the range reports and
       observes their count; zero documents fire no further job;
    3. the documents parse from the checkpoint (``spark.read.json``,
       one schema pass), stringify-project (``flatten_mongo`` — the
       Mongo dialect) and append to the target;
    4. the watermark advances along the LONGEST CONTIGUOUS PREFIX of
       fully-completed ranges (:func:`commit_watermark_prefix`): the
       first incomplete range contributes its partial progress and then
       STOPS the walk, so a completed higher range can never mask a
       failed range's undrained tail — that tail re-drains next round
       (at-least-once, the serial walk's posture; the already-appended
       higher-range rows may duplicate on that retry, which the CH
       sink's dedup tokens absorb within a round). The mark is
       committed in :func:`tag_watermark`'s tagged string form, so the
       BSON type survives the StringType state column.

    Returns ``(mode, rows, new_last_id)`` — ``new_last_id`` tagged."""
    from es_to_clickhouse_spark.engine import land_snapshot
    from es_to_clickhouse_spark.flatten import flatten_mongo
    from es_to_clickhouse_spark.state import SyncState

    st = state.get(collection)
    last = st.last_id if st else None
    mode = "incremental" if last is not None else "full"
    drain = read_collection_wire(
        spark, session, collection,
        start_after=typed_watermark(last), splits=splits,
    )
    prior = st or SyncState(
        table_name=collection,
        source_name=f"mongo_wire:{session.database}.{collection}",
    )
    committed = land_snapshot(
        drain,
        prior,
        state,
        lambda snap: target.append(
            collection,
            flatten_mongo(spark.read.json(snap.rdd.map(lambda r: r.value))),
        ),
        status=RANGE_STATUS,
        marks=lambda _, ranges: {"max_id": commit_watermark_prefix(ranges, last)},
    )
    return mode, committed.last_sync_count, committed.last_id
