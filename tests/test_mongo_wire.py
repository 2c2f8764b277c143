"""Mongo OP_MSG wire protocol against a loopback fake mongod (raw TCP
socket speaking real BSON + OP_MSG framing). Moves S11 from
done-modulo-environment to done-modulo-server: the keyset fold that was
previously a replayed-batch golden now drives actual find commands over
a socket and parses actual BSON replies."""

from __future__ import annotations

import socket
import struct
import threading

import pytest

from es_to_clickhouse_spark.sources.mongo_wire import (
    MongoWireSession,
    ObjectId,
    bson_decode,
    bson_encode,
    op_msg,
    parse_op_msg,
    read_frame,
)

DOCS = [
    {"_id": f"id-{i:02d}", "n": i, "big": 2**40 + i, "score": i / 4.0,
     "ok": i % 2 == 0, "tags": ["a", f"t{i}"], "meta": {"d": i}, "gap": None}
    for i in range(5)
]


# ---------------------------------------------------------- BSON unit


def test_bson_roundtrip_battery():
    doc = {
        "s": "héllo",
        "i32": 7,
        "neg": -(2**31),
        "i64": 2**40,
        "f": 3.25,
        "t": True,
        "fls": False,
        "nul": None,
        "sub": {"x": 1, "y": "z"},
        "arr": [1, "two", {"three": 3}, None],
    }
    assert bson_decode(bson_encode(doc)) == doc


def test_bson_unknown_types_fail_closed():
    with pytest.raises(TypeError):
        bson_encode({"x": object()})
    good = bson_encode({"a": 1})
    with pytest.raises(ValueError):
        bson_decode(good[:-2] + b"\x00")  # length mismatch
    # unknown element type byte
    bad = bytearray(bson_encode({"a": 1}))
    bad[4] = 0x7F
    with pytest.raises(ValueError):
        bson_decode(bytes(bad))


def test_bson_objectid_typed_roundtrip():
    # hand-built doc: {_id: ObjectId(0x0102...0c)} — type 0x07
    oid = bytes(range(1, 13))
    body = b"\x07_id\x00" + oid
    frame = struct.pack("<i", len(body) + 5) + body + b"\x00"
    decoded = bson_decode(frame)
    assert decoded == {"_id": ObjectId(oid)}
    # re-encodes as type 0x07 (NOT a string) — the keyset $gt type-match
    assert bson_encode(decoded) == frame
    # row-facing form is the reference's str(doc['_id']) 24-hex
    assert str(decoded["_id"]) == oid.hex() and len(oid.hex()) == 24
    # bytewise ordering = MongoDB ObjectId sort order
    assert ObjectId(b"\x00" * 12) < ObjectId(oid) < ObjectId(b"\xff" * 12)
    with pytest.raises(ValueError):
        ObjectId(b"short")


def test_bson_naive_datetime_is_utc():
    """BSON datetime is UTC ms: a naive datetime must encode as if UTC,
    never the process-local zone (round-trip would shift otherwise)."""
    import datetime as dt

    naive = dt.datetime(2024, 5, 1, 10, 30, 0)
    aware = naive.replace(tzinfo=dt.timezone.utc)
    assert bson_encode({"t": naive}) == bson_encode({"t": aware})
    back = bson_decode(bson_encode({"t": naive}))["t"]
    assert back == aware


def test_op_msg_frame_roundtrip_and_validation():
    frame = op_msg(42, {"find": "c", "$db": "d"}, response_to=7)
    rid, rto, body = parse_op_msg(frame)
    assert (rid, rto) == (42, 7)
    assert body == {"find": "c", "$db": "d"}
    bad = bytearray(frame)
    struct.pack_into("<i", bad, 12, 2004)  # OP_QUERY opcode
    with pytest.raises(ValueError):
        parse_op_msg(bytes(bad))


# ------------------------------------------------------ loopback fake


from es_to_clickhouse_spark.sources.mongo_fixture import (  # noqa: E402
    FakeMongod as _FakeMongod,  # one copy: package fixture, shared with s24
)


@pytest.fixture()
def fake_mongod():
    def _start(fail_after=None, docs=None):
        log: list[dict] = []
        srv = _FakeMongod(DOCS if docs is None else docs, log, fail_after)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv, log

    servers = []

    def start(**kw):
        srv, log = _start(**kw)
        servers.append(srv)
        return srv.server_address[1], log

    yield start
    for s in servers:
        s.shutdown()


def test_drain_socket_full_keyset_scan(fake_mongod):
    """The reference's keyset loop over a REAL socket: fresh find per
    page with `_id $gt last`, ascending sort, batch limit; ends at the
    first empty batch; every BSON type survives the wire into the row."""
    port, log = fake_mongod()
    s = MongoWireSession(port=port, database="app", batch_size=2)
    rows, last_id, completed = s.drain_socket("users")
    assert [r["_id"] for r in rows] == [f"id-{i:02d}" for i in range(5)]
    assert last_id == "id-04" and completed is True
    assert rows[3]["big"] == 2**40 + 3 and rows[3]["score"] == 0.75
    assert rows[2]["tags"] == ["a", "t2"] and rows[2]["meta"] == {"d": 2}
    assert rows[1]["gap"] is None and rows[0]["ok"] is True
    # wire transcript: {} then $gt watermarks, constant sort/limit/$db
    assert [c["filter"] for c in log] == [
        {},
        {"_id": {"$gt": "id-01"}},
        {"_id": {"$gt": "id-03"}},
        {"_id": {"$gt": "id-04"}},
    ]
    assert all(
        c["sort"] == {"_id": 1} and c["limit"] == 2 and c["$db"] == "app"
        and c["find"] == "users"
        for c in log
    )


def test_drain_socket_objectid_keyset_resume(fake_mongod):
    """The real-MongoDB shape ADVICE r7 flagged: ObjectId _ids. The
    page-2 $gt watermark must go out as BSON type 0x07 (typed), not a
    hex string — Mongo comparisons are type-bracketed, so a string $gt
    against ObjectId values returns empty and the scan silently stops
    after one page. Rows still expose the 24-hex str(_id) shape."""
    oids = [ObjectId(bytes([i] * 12)) for i in range(1, 6)]
    docs = [{"_id": o, "n": i, "ref": o} for i, o in enumerate(oids)]
    port, log = fake_mongod(docs=docs)
    s = MongoWireSession(port=port, database="app", batch_size=2)
    rows, last_id, completed = s.drain_socket("users")
    assert completed is True
    # all 3 pages drained — a string $gt would have stopped at 2 rows
    assert [r["_id"] for r in rows] == [str(o) for o in oids]
    assert [r["ref"] for r in rows] == [str(o) for o in oids]  # plainified
    assert last_id == oids[-1]  # typed watermark, restart-safe
    # wire transcript: the resume filters carried TYPED ObjectIds
    gts = [c["filter"]["_id"]["$gt"] for c in log if c.get("filter")]
    assert gts == [oids[1], oids[3], oids[4]]
    assert all(isinstance(g, ObjectId) for g in gts)


def test_drain_socket_store_source(fake_mongod):
    import json

    port, _ = fake_mongod()
    rows, _, _ = MongoWireSession(port=port, batch_size=10).drain_socket(
        "users", store_source=True
    )
    src = json.loads(rows[0]["_source"])
    assert src["_id"] == "id-00" and src["meta"] == {"d": 0}


def test_drain_socket_failure_keeps_partial_and_watermark(fake_mongod):
    """Connection drop mid-scan: rows already drained are kept and the
    returned watermark points at the last drained doc — a restart
    resumes exactly there (at-least-once, no overshoot)."""
    port, log = fake_mongod(fail_after=1)
    s = MongoWireSession(port=port, batch_size=2)
    rows, last_id, completed = s.drain_socket("users")
    assert [r["_id"] for r in rows] == ["id-00", "id-01"]
    assert last_id == "id-01" and completed is False  # partial, reported
    # the failed page's command made it to the wire before the drop
    assert log[-1]["filter"] == {"_id": {"$gt": "id-01"}}


def test_drain_socket_connection_refused_is_empty_not_raise():
    rows, last_id, completed = MongoWireSession(port=9, batch_size=2).drain_socket("c")
    assert rows == [] and last_id is None and completed is False


def test_find_command_matches_keyset_golden():
    """One keyset page on the wire (mongodb_to_bytehouse.py:524-531):
    unfiltered first page, ``_id $gt last-seen`` after, sorted ascending
    with the batch limit, plus the $db/find addressing OP_MSG needs."""
    w = MongoWireSession(database="db1", batch_size=500)
    for last, flt in ((None, {}), ("abc", {"_id": {"$gt": "abc"}})):
        assert w.find_command("coll", last) == {
            "find": "coll",
            "filter": flt,
            "sort": {"_id": 1},
            "limit": 500,
            "$db": "db1",
        }


# ------------------------------------------------------ live sync mode


def test_list_collections_over_wire(fake_mongod):
    from es_to_clickhouse_spark.sources.mongo_wire import (
        MongoWireSession,
        list_collections,
    )

    port, log = fake_mongod()
    names = list_collections(MongoWireSession(port=port, database="db"))
    assert names == ["events", "orders", "system.views"]
    assert log[0]["listCollections"] == 1 and log[0]["$db"] == "db"


def test_typed_watermark_tags_round_trip():
    """tag_watermark ∘ typed_watermark is the identity on every BSON
    watermark type — the type travels WITH the value, so a zero-padded
    digit-string _id is NEVER coerced to int (type-bracketed $gt would
    match nothing forever) and a numeric _id commits as a string the
    StringType state column accepts."""
    from es_to_clickhouse_spark.sources.mongo_wire import (
        ObjectId,
        tag_watermark,
        typed_watermark,
    )

    oid = ObjectId(bytes.fromhex("0123456789abcdef01234567"))
    for v, tagged in [
        (oid, "oid:0123456789abcdef01234567"),
        (12345, "int:12345"),
        ("id-04", "str:id-04"),
        ("000000000003", "str:000000000003"),  # ADVICE r9 high: stays str
        ("0123456789abcdef01234567", "str:0123456789abcdef01234567"),
        (None, None),
    ]:
        assert tag_watermark(v) == tagged
        assert typed_watermark(tagged) == v


def test_typed_watermark_legacy_untagged():
    """Pre-tag state rows: 24-hex decodes as ObjectId (overwhelmingly
    the real type), everything else stays the string ITSELF — legacy
    digit strings are no longer int-coerced."""
    from es_to_clickhouse_spark.sources.mongo_wire import (
        ObjectId,
        typed_watermark,
    )

    oid = typed_watermark("0123456789abcdef01234567")
    assert isinstance(oid, ObjectId) and str(oid) == "0123456789abcdef01234567"
    assert typed_watermark("12345") == "12345"
    assert typed_watermark("id-04") == "id-04"
    assert typed_watermark(None) is None


def test_sync_incremental_mongo_wire_rounds(fake_mongod, spark, tmp_path):
    """The Mongo daemon's loop body live over OP_MSG: full bootstrap,
    keyset-resumed incremental (typed $gt watermark on the wire), idle
    no-op — rows land in the warehouse stringify-projected, state
    commits the max _id (mongodb_to_bytehouse.py:524-531,611-631)."""
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.sources.mongo_wire import (
        MongoWireSession,
        sync_incremental_mongo_wire,
    )
    from es_to_clickhouse_spark.state import StateStore

    docs = [
        {"_id": f"id-{i:02d}", "n": i, "tags": ["a", f"t{i}"]}
        for i in range(4)
    ]
    port, log = fake_mongod(docs=docs)
    sess = MongoWireSession(port=port, database="db", batch_size=2)
    target = WarehouseTarget(spark, str(tmp_path / "wh"))
    state = StateStore(spark, str(tmp_path / "wh"))
    mode, n, wm = sync_incremental_mongo_wire(spark, sess, target, state, "ev")
    assert (mode, n, wm) == ("full", 4, "str:id-03")
    st = state.get("ev")
    assert st.last_id == "str:id-03" and st.last_sync_count == 4
    # round 2: two new docs arrive past the watermark
    docs.extend(
        {"_id": f"id-{i:02d}", "n": i, "tags": ["b"]} for i in (4, 5)
    )
    del log[:]
    mode, n, wm = sync_incremental_mongo_wire(spark, sess, target, state, "ev")
    assert (mode, n, wm) == ("incremental", 2, "str:id-05")
    # the resume filter reached the wire as a typed $gt (tag stripped)
    finds = [c for c in log if "find" in c]
    assert finds[0]["filter"] == {"_id": {"$gt": "id-03"}}
    # round 3: idle — no rows parsed, state untouched
    mode, n, wm = sync_incremental_mongo_wire(spark, sess, target, state, "ev")
    assert (mode, n, wm) == ("incremental", 0, "str:id-05")
    wh = spark.read.parquet(str(tmp_path / "wh" / "ev"))
    assert sorted(r["_id"] for r in wh.select("_id").collect()) == [
        f"id-{i:02d}" for i in range(6)
    ]


def test_sync_incremental_numeric_id_rounds(fake_mongod, spark, tmp_path):
    """Numeric-_id collections: the int watermark commits as a TAGGED
    string (a raw Python int against STATE_SCHEMA's StringType raised
    TypeError AFTER the append landed, so a retry duplicated rows —
    ADVICE r9) and the resume filter rebuilds the int so the
    type-bracketed $gt matches."""
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.sources.mongo_wire import (
        MongoWireSession,
        sync_incremental_mongo_wire,
    )
    from es_to_clickhouse_spark.state import StateStore

    docs = [{"_id": i * 10, "n": i} for i in range(4)]
    port, log = fake_mongod(docs=docs)
    sess = MongoWireSession(port=port, database="db", batch_size=2)
    target = WarehouseTarget(spark, str(tmp_path / "wh"))
    state = StateStore(spark, str(tmp_path / "wh"))
    mode, n, wm = sync_incremental_mongo_wire(spark, sess, target, state, "ev")
    assert (mode, n, wm) == ("full", 4, "int:30")
    assert state.get("ev").last_id == "int:30"
    docs.append({"_id": 40, "n": 4})
    del log[:]
    mode, n, wm = sync_incremental_mongo_wire(spark, sess, target, state, "ev")
    assert (mode, n, wm) == ("incremental", 1, "int:40")
    finds = [c for c in log if "find" in c]
    assert finds[0]["filter"] == {"_id": {"$gt": 30}}  # typed int on wire


def test_sync_incremental_zero_padded_string_ids(fake_mongod, spark, tmp_path):
    """ADVICE r9 high regression pin: zero-padded digit-string _ids
    (the s24 shape) must resume as STRINGS — the old shape heuristic
    int-coerced them, and against a type-bracketed server every
    post-bootstrap round silently returned 0 rows forever."""
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.sources.mongo_wire import (
        MongoWireSession,
        sync_incremental_mongo_wire,
    )
    from es_to_clickhouse_spark.state import StateStore

    docs = [{"_id": f"{i:012d}", "n": i} for i in range(3)]
    port, log = fake_mongod(docs=docs)
    sess = MongoWireSession(port=port, database="db", batch_size=10)
    target = WarehouseTarget(spark, str(tmp_path / "wh"))
    state = StateStore(spark, str(tmp_path / "wh"))
    mode, n, wm = sync_incremental_mongo_wire(spark, sess, target, state, "ev")
    assert (mode, n, wm) == ("full", 3, "str:000000000002")
    docs.append({"_id": "000000000003", "n": 3})
    del log[:]
    mode, n, wm = sync_incremental_mongo_wire(spark, sess, target, state, "ev")
    # the fixture is type-bracketed: an int comparand here would match
    # nothing and this round would be (incremental, 0, old-watermark)
    assert (mode, n, wm) == ("incremental", 1, "str:000000000003")
    finds = [c for c in log if "find" in c]
    assert finds[0]["filter"] == {"_id": {"$gt": "000000000002"}}


def test_split_ranges_partition_keyspace(fake_mongod):
    """split_ranges: N half-open (gt, lte] ranges that PARTITION the
    keyspace — disjoint, ordered, last one open-ended — for int,
    zero-padded string, and ObjectId _id spaces; degenerate cases
    (narrow keyspace, empty collection) fall back to one serial
    range."""
    from es_to_clickhouse_spark.sources.mongo_wire import (
        MongoWireSession,
        ObjectId,
        split_ranges,
    )

    # int ids 0..999
    docs = [{"_id": i} for i in range(1000)]
    port, _ = fake_mongod(docs=docs)
    sess = MongoWireSession(port=port, database="db")
    ranges = split_ranges(sess, "ev", 4)
    assert len(ranges) == 4
    assert ranges[0][0] is None and ranges[-1][1] is None
    # adjacent ranges share their boundary; every id lands in exactly one
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 == lo2
    owners = [
        sum(
            1 for (gt, lte) in ranges
            if (gt is None or i > gt) and (lte is None or i <= lte)
        )
        for i in range(1000)
    ]
    assert set(owners) == {1}
    # each range is a meaningful share (interpolation on uniform ids)
    sizes = [
        sum(
            1 for i in range(1000)
            if (gt is None or i > gt) and (lte is None or i <= lte)
        )
        for (gt, lte) in ranges
    ]
    assert min(sizes) >= 100

    # zero-padded string ids split too (the s24 shape)
    sdocs = [{"_id": f"{i:012d}"} for i in range(0, 1000, 7)]
    sport, _ = fake_mongod(docs=sdocs)
    ssess = MongoWireSession(port=sport, database="db")
    sranges = split_ranges(ssess, "ev", 4)
    assert len(sranges) == 4 and all(
        isinstance(b, str) for b in (r[1] for r in sranges[:-1])
    )

    # ObjectId ids
    odocs = [{"_id": ObjectId(i.to_bytes(12, "big"))} for i in range(200)]
    oport, _ = fake_mongod(docs=odocs)
    osess = MongoWireSession(port=oport, database="db")
    oranges = split_ranges(osess, "ev", 3)
    assert len(oranges) == 3 and all(
        isinstance(b, ObjectId) for b in (r[1] for r in oranges[:-1])
    )

    # narrow keyspace / resumed-near-tip → serial fallback
    assert split_ranges(sess, "ev", 4, start_after=997) in (
        [(997, None)],
    )

    # empty collection → serial fallback
    eport, _ = fake_mongod(docs=[])
    esess = MongoWireSession(port=eport, database="db")
    assert split_ranges(esess, "ev", 4) == [(None, None)]


def test_parallel_split_scan_reassembles_exactly(fake_mongod, spark, tmp_path):
    """VERDICT r9 item 4: splits=N drains N disjoint _id ranges as N
    executor tasks (each its own socket + keyset sub-cursor), the union
    reassembles the collection EXACTLY (no dup, no gap), the wire log
    shows every find bounded by its range, and the committed watermark
    is the global max."""
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.sources.mongo_wire import (
        MongoWireSession,
        sync_incremental_mongo_wire,
    )
    from es_to_clickhouse_spark.state import StateStore

    docs = [{"_id": i, "n": i * 2} for i in range(500)]
    port, log = fake_mongod(docs=docs)
    sess = MongoWireSession(port=port, database="db", batch_size=40)
    target = WarehouseTarget(spark, str(tmp_path / "wh"))
    state = StateStore(spark, str(tmp_path / "wh"))
    mode, n, wm = sync_incremental_mongo_wire(
        spark, sess, target, state, "ev", splits=4
    )
    assert (mode, n, wm) == ("full", 500, "int:499")
    wh = spark.read.parquet(str(tmp_path / "wh" / "ev"))
    got = sorted(int(r["_id"]) for r in wh.select("_id").collect())
    assert got == list(range(500))  # exact reassembly: no dup, no gap
    # every data find on the wire carried a range bound (after the two
    # 1-doc min/max probes), and at least 4 distinct $lte bounds ran
    finds = [c for c in log if "find" in c and c.get("limit") != 1]
    bounded = [c["filter"].get("_id", {}) for c in finds]
    assert all(("$lte" in b) or ("$gt" in b) or b == {} for b in bounded)
    ltes = {b.get("$lte") for b in bounded if "$lte" in b}
    assert len(ltes) >= 3  # the non-final ranges each pinned their cap
    # incremental round on top of the split bootstrap still resumes
    docs.append({"_id": 500, "n": 1000})
    mode, n, wm = sync_incremental_mongo_wire(
        spark, sess, target, state, "ev", splits=4
    )
    assert (mode, n, wm) == ("incremental", 1, "int:500")


def test_commit_watermark_prefix_stops_at_incomplete_range():
    """ADVICE r10 high: a completed HIGHER range must never advance the
    committed watermark past an incomplete lower range's undrained tail
    (those rows would be lost forever). The fold walks ranges in index
    order, takes each candidate, and stops at the first partial or
    missing report — the partial range's own progress still counts."""
    from es_to_clickhouse_spark.sources.mongo_wire import commit_watermark_prefix

    def line(idx, status, tag):
        return (idx, status == "C", tag or None)

    # all complete → last candidate wins
    assert commit_watermark_prefix(
        [line(0, "C", "int:124"), line(1, "C", "int:249"),
         line(2, "C", "int:499")], fallback=None,
    ) == "int:499"
    # range 1 partial at int:200; range 2 complete at int:499 — the
    # watermark stops at range 1's progress, NOT range 2's boundary
    assert commit_watermark_prefix(
        [line(0, "C", "int:124"), line(1, "P", "int:200"),
         line(2, "C", "int:499")], fallback=None,
    ) == "int:200"
    # range 0 partial with NO rows (connection refused) → nothing proven
    assert commit_watermark_prefix(
        [line(0, "P", ""), line(1, "C", "int:249")], fallback="int:99",
    ) == "int:99"
    # a MISSING range report (lost task) is treated as incomplete
    assert commit_watermark_prefix(
        [line(0, "C", "int:124"), line(2, "C", "int:499")], fallback=None,
    ) == "int:124"
    # idle completed bounded range still proves its boundary
    assert commit_watermark_prefix(
        [line(0, "C", "int:124"), line(1, "C", "int:249")], fallback=None,
    ) == "int:249"
    # fully idle round keeps the old watermark
    assert commit_watermark_prefix([], fallback="str:id-05") == "str:id-05"


def test_split_scan_failed_range_never_loses_rows(fake_mongod, spark, tmp_path):
    """End-to-end pin for ADVICE r10 high: with splits>1, one range dies
    mid-drain while higher ranges complete. The committed watermark must
    stop at the failed range's progress so the next (healthy) round
    re-drains its tail — the warehouse ends with EVERY row, none lost."""
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.sources import mongo_wire as mw
    from es_to_clickhouse_spark.state import StateStore

    docs = [{"_id": i, "n": i * 2} for i in range(400)]
    port, _ = fake_mongod(docs=docs)

    # Defined in-function so cloudpickle ships the CLASS by value to the
    # executor python workers (a driver-side mock.patch never reaches
    # them — they are separate processes).
    class FlakySession(mw.MongoWireSession):
        def drain_socket(self, collection, store_source=False,
                         max_pages=100_000, start_after=None, lte=None):
            rows, last, completed = mw.MongoWireSession.drain_socket(
                self, collection, store_source=store_source,
                max_pages=max_pages, start_after=start_after, lte=lte,
            )
            # kill the SECOND range (bounded, gt under 150 for 4 splits
            # of 0..399): keep only its first page, report partial
            if (start_after is not None and lte is not None
                    and start_after < 150 and rows):
                kept = rows[:20]
                # rows carry the stringified _id; the watermark must be
                # the TYPED value, exactly like the real partial path
                return kept, int(kept[-1]["_id"]), False
            return rows, last, completed

    sess = FlakySession(port=port, database="db", batch_size=50)
    target = WarehouseTarget(spark, str(tmp_path / "wh"))
    state = StateStore(spark, str(tmp_path / "wh"))
    mode, n, wm = mw.sync_incremental_mongo_wire(
        spark, sess, target, state, "ev", splits=4
    )
    assert mode == "full" and n < 400  # the killed range lost its tail
    sess = mw.MongoWireSession(port=port, database="db", batch_size=50)
    # watermark stopped at the failed range's last drained id — NOT at
    # the completed higher ranges' boundaries
    assert int(wm.removeprefix("int:")) < 150
    # healthy round 2 re-drains the tail; union has every row, no gap
    mode, n2, wm = mw.sync_incremental_mongo_wire(
        spark, sess, target, state, "ev", splits=4
    )
    assert wm == "int:399"
    wh = spark.read.parquet(str(tmp_path / "wh" / "ev"))
    got = sorted({int(r["_id"]) for r in wh.select("_id").collect()})
    assert got == list(range(400))  # at-least-once: no row lost


def test_int_to_wm_string_branch_is_monotone():
    """ADVICE r10 medium: the old decode(errors='ignore') dropped
    invalid UTF-8 bytes, which inverts order (bytes for 'a\\x80!'
    decoded to 'a!' — BELOW the decode of smaller byte strings), so
    chained (gt, lte] ranges could overlap and double-drain string-id
    docs. latin-1 decode is lossless and code-point order == byte
    order, so the int→string boundary map is strictly monotone."""
    import random

    from es_to_clickhouse_spark.sources.mongo_wire import (
        _int_to_wm,
        _wm_to_int,
    )

    rng = random.Random(42)
    # adversarial region: high bytes mixed with ASCII (the old inverter)
    samples = sorted(
        rng.randrange(0, 2**96) for _ in range(500)
    ) + sorted(
        int.from_bytes(
            bytes(rng.choice([0x21, 0x61, 0x7F, 0x80, 0xC3, 0xFF])
                  for _ in range(12)), "big",
        )
        for _ in range(500)
    )
    prev_n = prev_s = None
    for n in sorted(samples):
        s = _int_to_wm(n, "like-a-string")
        if prev_s is not None and prev_n != n:
            # monotone in Python code-point order AND in the server's
            # UTF-8 bytewise order (they agree by UTF-8's design — this
            # pins that the boundary encoding stays inside that regime)
            assert prev_s < s, (prev_n, n)
            assert prev_s.encode("utf-8") < s.encode("utf-8")
        prev_n, prev_s = n, s
    # the old errors='ignore' inverter, pinned concretely: 0x61 0x80 0x21
    # decoded to 'a!' while 0x61 0x7f... decoded to 'a\x7f...' — order
    # flipped. latin-1 keeps every byte.
    lo = int.from_bytes(b"a\x7f!".ljust(12, b"\x00"), "big")
    hi = int.from_bytes(b"a\x80!".ljust(12, b"\x00"), "big")
    assert _int_to_wm(lo, "s") < _int_to_wm(hi, "s")
    assert _wm_to_int("a") == _wm_to_int("a\x00")  # zero-pad equivalence


def test_split_ranges_bounds_stay_above_watermark(fake_mongod):
    """The defense-in-depth guard: every boundary sits strictly above
    the committed watermark and the chain is strictly increasing, so no
    range can re-drain already-synced ids even if the encoding ever
    regressed."""
    from es_to_clickhouse_spark.sources.mongo_wire import (
        MongoWireSession,
        split_ranges,
    )

    docs = [{"_id": f"{i:012d}"} for i in range(0, 1000, 3)]
    port, _ = fake_mongod(docs=docs)
    sess = MongoWireSession(port=port, database="db")
    wm = "000000000099"
    ranges = split_ranges(sess, "ev", 5, start_after=wm)
    assert ranges[0][0] == wm and ranges[-1][1] is None
    bounds = [b for _, b in ranges[:-1]]
    assert all(b > wm for b in bounds)
    assert bounds == sorted(set(bounds))


def test_cli_mongo_wire_mode(fake_mongod, spark, tmp_path, capsys):
    """`--mongo-uri` through the CLI: live listCollections catalog with
    the system-collection filter, glob expansion, typo rejection."""
    import json as _json

    from es_to_clickhouse_spark.__main__ import main

    docs = [{"_id": f"id-{i:02d}", "n": i} for i in range(3)]
    port, log = fake_mongod(docs=docs)
    wh = str(tmp_path / "wh")
    base = [
        "--mode", "incremental", "--warehouse", wh,
        "--mongo-uri", f"mongodb://127.0.0.1:{port}",
        "--mongo-database", "db",
    ]
    rc = main(base + ["--tables", "ev*"], environ={})
    assert rc == 0
    out = [
        _json.loads(ln) for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("{")
    ]
    assert out == [
        {"table": "events", "mode": "full_mongo_wire", "rows": 3,
         "watermark": "str:id-02"}
    ]
    # system.views is filtered from the catalog: a glob matching only it
    # reports no match and exits non-zero
    rc = main(base + ["--tables", "system*"], environ={})
    assert rc == 1
    # typo'd plain name fails loudly
    rc = main(base + ["--tables", "nope"], environ={})
    assert rc == 1


def test_cli_continuous_survives_catalog_blip(spark, tmp_path, capsys):
    """Daemon liveness (r11): a transient catalog failure in --mode
    continuous must not kill the poll loop — the round logs the error
    and the NEXT round retries (previously one reset catalog call
    exited the daemon). The 2nd listCollections call dies; rounds 1 and
    3 sync normally."""
    import json as _json

    from es_to_clickhouse_spark.__main__ import main
    from es_to_clickhouse_spark.sources.mongo_fixture import serve_collection

    docs = [{"_id": f"id-{i:02d}", "n": i} for i in range(3)]
    srv, port, _log = serve_collection(docs, fail_catalog_calls={2})
    try:
        wh = str(tmp_path / "wh")
        rc = main(
            [
                "--mode", "continuous", "--warehouse", wh,
                "--mongo-uri", f"mongodb://127.0.0.1:{port}",
                "--mongo-database", "db",
                "--tables", "events", "--max-rounds", "3",
                "--interval", "0",
            ],
            environ={},
        )
        out = [
            _json.loads(ln)
            for ln in capsys.readouterr().out.splitlines()
            if ln.startswith("{")
        ]
        # one entry per round: sync, catalog error, sync — 3 rounds ran
        syncs = [o for o in out if o.get("table") == "events"]
        caterr = [o for o in out if "catalog" in str(o.get("error", ""))]
        assert len(syncs) == 2 and len(caterr) == 1, out
        assert syncs[0]["rows"] == 3 and syncs[1]["rows"] == 0
        assert rc == 1  # the blip is still reported in the exit code
    finally:
        srv.shutdown()


def test_sync_incremental_ids_crossing_99_to_100(fake_mongod, spark, tmp_path):
    """The committed ``int:`` mark moves 99 → 100 as a number; compared
    as strings ``"int:100" < "int:99"`` would pin it and every later
    round would re-drain id 100 onward."""
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.sources.mongo_wire import (
        MongoWireSession,
        sync_incremental_mongo_wire,
    )
    from es_to_clickhouse_spark.state import StateStore

    docs = [{"_id": i, "n": i} for i in range(100)]
    port, log = fake_mongod(docs=docs)
    sess = MongoWireSession(port=port, database="db", batch_size=50)
    target = WarehouseTarget(spark, str(tmp_path / "wh"))
    state = StateStore(spark, str(tmp_path / "wh"))
    assert sync_incremental_mongo_wire(spark, sess, target, state, "ev") == (
        "full", 100, "int:99"
    )
    docs.extend({"_id": i, "n": i} for i in (100, 101))
    assert sync_incremental_mongo_wire(spark, sess, target, state, "ev") == (
        "incremental", 2, "int:101"
    )
    assert state.get("ev").last_id == "int:101"
    del log[:]
    assert sync_incremental_mongo_wire(spark, sess, target, state, "ev") == (
        "incremental", 0, "int:101"
    )
    assert [c["filter"] for c in log if "find" in c][0] == {"_id": {"$gt": 101}}
    wh = spark.read.parquet(str(tmp_path / "wh" / "ev"))
    assert sorted(int(r["_id"]) for r in wh.select("_id").collect()) == list(range(102))


@pytest.mark.parametrize("splits", [1, 4], ids=["splits=1", "splits=4"])
def test_sync_mongo_wire_round_job_count(fake_mongod, spark, tmp_path, count_jobs, splits):
    """An active round is the snapshot job, the JSON schema pass over
    the checkpoint and the append: 3 jobs. An idle round is the snapshot
    alone: 1 job."""
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.sources.mongo_wire import (
        MongoWireSession,
        sync_incremental_mongo_wire,
    )
    from es_to_clickhouse_spark.state import StateStore

    docs = [{"_id": i, "n": i, "s": f"v{i}"} for i in range(400)]
    port, _ = fake_mongod(docs=docs)
    sess = MongoWireSession(port=port, database="db", batch_size=100)
    target = WarehouseTarget(spark, str(tmp_path / "wh"))
    state = StateStore(spark, str(tmp_path / "wh"))

    def sync():
        return sync_incremental_mongo_wire(
            spark, sess, target, state, "ev", splits=splits
        )

    assert sync()[:2] == ("full", 400)
    assert count_jobs(sync) == (("incremental", 0, "int:399"), 1)
    docs.extend({"_id": i, "n": i, "s": f"v{i}"} for i in range(400, 440))
    assert count_jobs(sync) == (("incremental", 40, "int:439"), 3)
    assert count_jobs(sync) == (("incremental", 0, "int:439"), 1)
