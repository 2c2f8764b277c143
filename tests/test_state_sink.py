"""Unit tests: StateStore + WarehouseTarget (SURVEY T2, S14-S19)."""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from es_to_clickhouse_spark.sink import WarehouseTarget, upsert_view
from es_to_clickhouse_spark.state import (
    ARROW_STATE_SCHEMA,
    STATE_SCHEMA,
    StateStore,
    SyncState,
)


def _state_files(tmp_path):
    return sorted(os.listdir(tmp_path / "_sync_state"))


def test_state_roundtrip_latest_wins(spark, tmp_path):
    """Point reads and commits run on the driver: no Spark job at all."""
    store = StateStore(spark, str(tmp_path))
    sc = spark.sparkContext
    sc.setJobGroup("state-ops", "driver-side state", False)
    try:
        assert store.get("t1") is None
        store.commit(SyncState("t1", time_field="ts", last_sync_time="2024-01-01"))
        store.commit(SyncState("t1", time_field="ts", last_sync_time="2024-01-02"))
        st = store.get("t1")
    finally:
        sc.setJobGroup("", "", False)
    assert sc.statusTracker().getJobIdsForGroup("state-ops") == []
    # latest row per key (ORDER BY updated_at DESC LIMIT 1,
    # es/es_to_bytehouse.py:437-440)
    assert st.last_sync_time == "2024-01-02"
    assert store.read_all().count() == 2  # append-only underneath
    # each commit is one plain parquet part, readable without Spark
    parts = [n for n in _state_files(tmp_path) if n.endswith(".parquet")]
    assert len(parts) == 2
    t = pq.read_table(str(tmp_path / "_sync_state" / parts[0]))
    assert t.schema.equals(ARROW_STATE_SCHEMA)


def test_state_status_ordering(spark, tmp_path):
    store = StateStore(spark, str(tmp_path))
    for i in range(3):
        store.commit(SyncState(f"t{i}"))
    rows = store.status(limit=2).collect()
    assert len(rows) == 2
    assert rows[0].updated_at >= rows[1].updated_at


def test_state_resumes_spark_written_parts(spark, tmp_path):
    """A state directory written by the older Spark writer (naive
    updated_at, several part files) resumes with the same watermark, and
    newer driver-written commits win over it."""
    from datetime import datetime

    old = [
        ("t1", None, "ts", None, "2024-01-01", None, None, 5, datetime(2024, 1, 1)),
        ("t2", None, "ts", None, "2024-03-01", None, None, 7, datetime(2024, 3, 1)),
    ]
    spark.createDataFrame(old, STATE_SCHEMA).repartition(2).write.parquet(
        str(tmp_path / "_sync_state")
    )
    store = StateStore(spark, str(tmp_path))
    st = store.get("t1")
    assert (st.last_sync_time, st.last_sync_count) == ("2024-01-01", 5)
    store.commit(SyncState("t1", time_field="ts", last_sync_time="2024-01-02"))
    store.commit(SyncState("t1", time_field="ts", last_sync_time="2024-01-03"))
    assert store.get("t1").last_sync_time == "2024-01-03"
    assert store.get("t2").last_sync_time == "2024-03-01"
    assert store.read_all().count() == 4
    rows = store.status(limit=10).collect()
    assert [r.last_sync_time for r in rows] == [
        "2024-01-03",
        "2024-01-02",
        "2024-03-01",
        "2024-01-01",
    ]


def test_state_sees_other_writers_and_restored_snapshots(spark, tmp_path):
    """get lists the directory on every call: a commit through another
    instance is visible, and a restored snapshot wins over a cached row."""
    first = StateStore(spark, str(tmp_path))
    first.commit(SyncState("t1", last_sync_time="2024-01-01"))
    assert first.get("t1").last_sync_time == "2024-01-01"
    snap = tmp_path / "snap"
    shutil.copytree(tmp_path / "_sync_state", snap)
    StateStore(spark, str(tmp_path)).commit(SyncState("t1", last_sync_time="2024-01-02"))
    assert first.get("t1").last_sync_time == "2024-01-02"
    shutil.rmtree(tmp_path / "_sync_state")
    shutil.copytree(snap, tmp_path / "_sync_state")
    assert first.get("t1").last_sync_time == "2024-01-01"


def test_advance_orders_int_tagged_ids_numerically():
    """Mongo's ``int:``-tagged id marks move forward as numbers: as
    strings ``"int:100" < "int:99"``, which would pin the mark at 99."""
    st = SyncState("t1", last_id="int:99")
    assert st.advance(1, max_id="int:100").last_id == "int:100"
    assert st.advance(1, max_id="int:100").advance(1, max_id="int:99").last_id == (
        "int:100"
    )
    # other tags (and a mixed pair) still compare as strings
    assert st.advance(1, max_id="str:a").last_id == "str:a"
    assert SyncState("t1", last_id="str:b").advance(1, max_id="str:a").last_id == "str:b"


def test_state_commit_rejects_mistyped_field(spark, tmp_path):
    """A raw int in a string column raises before any byte lands — no
    part file (and no temp file) is left behind."""
    store = StateStore(spark, str(tmp_path))
    store.commit(SyncState("t1", last_id="int:1"))
    before = _state_files(tmp_path)
    with pytest.raises(TypeError):
        store.commit(SyncState("t1", last_id=2))
    assert _state_files(tmp_path) == before
    assert store.get("t1").last_id == "int:1"


def test_target_append_and_evolution(spark, tmp_path):
    target = WarehouseTarget(spark, str(tmp_path))
    df1 = spark.createDataFrame([("1", "a")], "_id string, x string")
    target.append("tbl", df1)
    assert set(target.live_schema("tbl")) >= {"_id", "x", "_timestamp"}
    # new column appears in batch 2 → evolution, old rows NULL
    df2 = spark.createDataFrame([("2", "b", "z")], "_id string, x string, y string")
    target.append("tbl", df2)
    out = target.read("tbl", dedup=False)
    assert set(out.columns) >= {"_id", "x", "y"}
    got = {r._id: r.y for r in out.select("_id", "y").collect()}
    assert got == {"1": None, "2": "z"}


def test_target_upsert_read(spark, tmp_path):
    target = WarehouseTarget(spark, str(tmp_path))
    df1 = spark.createDataFrame([("1", "old")], "_id string, v string")
    target.append("tbl", df1)
    df2 = spark.createDataFrame([("1", "new")], "_id string, v string")
    target.append("tbl", df2)
    merged = target.read("tbl", dedup=True)
    assert merged.count() == 1
    assert merged.collect()[0].v == "new"


def test_typed_evolution_batch_omits_typed_column(spark, tmp_path):
    """Batch 2 omits a previously-written BIGINT column: the projected
    NULL must carry the LIVE type (bigint), or the next mergeSchema read
    fails with CANNOT_MERGE_SCHEMAS and the table becomes unreadable."""
    target = WarehouseTarget(spark, str(tmp_path))
    df1 = spark.createDataFrame([("1", 42, 1.5)], "_id string, n bigint, x double")
    target.append("tbl", df1)
    df2 = spark.createDataFrame([("2", "b")], "_id string, extra string")
    target.append("tbl", df2)
    out = target.read("tbl", dedup=False)
    assert dict(out.dtypes)["n"] == "bigint"
    assert dict(out.dtypes)["x"] == "double"
    got = {r._id: (r.n, r.x) for r in out.select("_id", "n", "x").collect()}
    assert got == {"1": (42, 1.5), "2": (None, None)}


def test_typed_evolution_retyped_column_cast_to_live(spark, tmp_path):
    """A later batch re-sending a column under a different type is cast to
    the live (first-seen) type — target schema is authoritative."""
    target = WarehouseTarget(spark, str(tmp_path))
    target.append("tbl", spark.createDataFrame([("1", 7)], "_id string, n bigint"))
    target.append("tbl", spark.createDataFrame([("2", "9")], "_id string, n string"))
    out = target.read("tbl", dedup=False)
    assert dict(out.dtypes)["n"] == "bigint"
    assert {r.n for r in out.collect()} == {7, 9}


def test_warehouse_and_state_on_file_uri(spark, tmp_path):
    """The warehouse root works as a Hadoop URI (file://), proving all
    metadata IO goes through the Hadoop FileSystem API, not os.*."""
    uri = f"file://{tmp_path}/wh"
    target = WarehouseTarget(spark, uri)
    target.append("tbl", spark.createDataFrame([("1", 5)], "_id string, n bigint"))
    target.append("tbl", spark.createDataFrame([("2",)], "_id string"))
    out = target.read("tbl", dedup=False)
    assert {r.n for r in out.collect()} == {5, None}
    assert set(target.live_schema("tbl")) >= {"_id", "n", "_timestamp"}
    store = StateStore(spark, uri)
    store.commit(SyncState("tbl", time_field="ts", last_sync_time="2024-01-01"))
    assert store.get("tbl").last_sync_time == "2024-01-01"


def test_no_driver_local_fs_calls_in_sink_state():
    """Guard: sink/state never touch the table path via os.* (the
    warehouse must work on object storage)."""
    import inspect

    from es_to_clickhouse_spark import sink, state

    for mod in (sink, state):
        src = inspect.getsource(mod)
        assert "import os" not in src, f"{mod.__name__} uses driver-local os.*"


def test_upsert_view_ties_stable(spark):
    df = spark.createDataFrame(
        [("k", 1, "a"), ("k", 1, "a")], "_id string, _timestamp long, v string"
    )
    out = upsert_view(df, "_id", "_timestamp")
    assert out.count() == 1


def test_upsert_tiebreak_content_stable_across_layout(spark):
    """Equal-version rows with different content: the winner is the row
    with the larger md5 fingerprint, and it is the SAME winner regardless
    of partitioning / row order (the monotonically_increasing_id tie-break
    this replaces could elect different winners after a repartition)."""
    rows = [("k", 1, "alpha"), ("k", 1, "beta")]

    def fp(_id, ts, v):
        # sorted cols: _id,_timestamp,v — length-prefixed injective encoding
        payload = "".join(f"V{len(s)}:{s}" for s in (_id, str(ts), v))
        return hashlib.md5(payload.encode()).hexdigest()

    expected = max(rows, key=lambda r: fp(*r))[2]
    for layout in (
        spark.createDataFrame(rows, "_id string, _timestamp long, v string"),
        spark.createDataFrame(list(reversed(rows)), "_id string, _timestamp long, v string")
        .repartition(7)
        .sortWithinPartitions("v"),
    ):
        out = upsert_view(layout, "_id", "_timestamp").collect()
        assert len(out) == 1 and out[0].v == expected


def test_row_fingerprint_injective_on_separator_payloads(spark):
    """Regression (ADVICE sink.py:195): a data value containing the old
    separator byte, or a literal NUL string next to a real NULL, must NOT
    alias another row. Under the old '\\x1f'-joined encoding both pairs
    below collided; the length-prefixed encoding keeps them distinct."""
    from es_to_clickhouse_spark.sink import row_fingerprint

    df = spark.createDataFrame(
        [
            ("a\x1fb", None),  # separator inside the value + real NULL
            ("a", "b\x1f\x00"),  # old encoding: identical payload
            ("\x00", None),  # literal NUL string vs
            (None, None),  # real NULL (old sentinel collision)
        ],
        "c1 string, c2 string",
    )
    fps = [r.f for r in df.select(row_fingerprint(df).alias("f")).collect()]
    assert len(set(fps)) == 4, "distinct rows must have distinct fingerprints"


def test_target_read_uses_sidecar_schema(spark, tmp_path, count_jobs):
    """The typed ``_schema.json`` is the read schema: no inference job,
    and an evolved column reads NULL in the parts written before it."""
    target = WarehouseTarget(spark, str(tmp_path))
    target.append("tbl", spark.createDataFrame([("1", 1)], "_id string, n bigint"))
    target.append(
        "tbl", spark.createDataFrame([("2", 2, "x")], "_id string, n bigint, c string")
    )
    df, jobs = count_jobs(lambda: target.read("tbl", dedup=False))
    assert jobs == 0
    assert dict(df.dtypes) == {
        "_id": "string", "n": "bigint", "c": "string", "_timestamp": "timestamp"
    }
    assert sorted((r["_id"], r["c"]) for r in df.collect()) == [("1", None), ("2", "x")]


def test_target_read_without_typed_sidecar_infers(spark, tmp_path):
    """v1 name-list metadata carries no types: the read infers."""
    from es_to_clickhouse_spark import fsio

    target = WarehouseTarget(spark, str(tmp_path))
    target.append("tbl", spark.createDataFrame([("1", 7)], "_id string, n bigint"))
    fsio.write_text(
        spark,
        str(tmp_path / "tbl" / "_schema.json"),
        json.dumps({"columns": ["_id", "n", "_timestamp"]}),
    )
    assert dict(target.read("tbl", dedup=False).dtypes)["n"] == "bigint"


def test_target_append_reads_sidecar_once(spark, tmp_path, monkeypatch):
    """One append reads the sidecar once, and so do the evolving and the
    steady-state appends after it; no glob runs on an existing table."""
    from es_to_clickhouse_spark import fsio

    target = WarehouseTarget(spark, str(tmp_path))
    target.append("tbl", spark.createDataFrame([("1",)], "_id string"))
    reads, globs = [], []
    read_text, has_glob = fsio.read_text, fsio.has_glob
    monkeypatch.setattr(fsio, "read_text", lambda *a: reads.append(a) or read_text(*a))
    monkeypatch.setattr(fsio, "has_glob", lambda *a: globs.append(a) or has_glob(*a))
    target.append("tbl", spark.createDataFrame([("2", 5)], "_id string, n bigint"))
    assert len(reads) == 1 and globs == []
    target.append("tbl", spark.createDataFrame([("3", 6)], "_id string, n bigint"))
    assert len(reads) == 2 and globs == []
    assert target.live_schema("tbl")["n"] == "bigint"


def test_compact_many_small_parts(spark, tmp_path):
    """Compaction: N tiny append parts collapse to few files with
    byte-identical content (duplicate _id versions preserved — dedup
    stays a READ-time view), the schema sidecar survives the swap,
    leftovers of a crashed attempt are cleared, and appends keep
    working afterwards."""
    from es_to_clickhouse_spark import fsio
    from es_to_clickhouse_spark.sink import WarehouseTarget

    wh = WarehouseTarget(spark, str(tmp_path / "wh"))
    for i in range(12):
        wh.append(
            "logs",
            spark.createDataFrame(
                [(str(i % 4), f"p{i}")], "_id string, payload string"
            ),
        )
    before_rows = sorted(
        (r._id, r.payload) for r in wh.read("logs", dedup=False).collect()
    )
    schema_before = wh.live_schema("logs")
    # crashed-attempt leftovers must not break the swap
    fsio.mkdirs(spark, wh.table_path("logs") + "__compacting")
    n_before, n_after = wh.compact("logs")
    assert n_before >= 12 and n_after <= 2
    after_rows = sorted(
        (r._id, r.payload) for r in wh.read("logs", dedup=False).collect()
    )
    assert after_rows == before_rows  # every version survives
    assert wh.live_schema("logs") == schema_before
    assert wh.read("logs", dedup=True).count() == 4  # upsert view intact
    # second compact is a no-op (already compact)
    assert wh.compact("logs") == (n_after, n_after)
    # life goes on: appends still work post-swap
    wh.append(
        "logs",
        spark.createDataFrame([("9", "new")], "_id string, payload string"),
    )
    assert wh.read("logs", dedup=True).count() == 5
