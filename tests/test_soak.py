"""Continuous-mode soak: 20 mixed rounds through the full ops surface.

The engine's loop semantics (reference es/es_to_bytehouse.py:1069-1102,
SURVEY T1-T6) are tested piecewise elsewhere; this is the one e2e that
runs them TOGETHER, the way a deployed daemon would hit them: empty
rounds interleaved with new data, late updates (old created_at / new
updated_at, caught by the OR-clause), and schema-evolving appends. Asserts, per round:

- rows moved match the scenario exactly (no re-fetch, no miss);
- part-file count frozen on idle rounds, growing on active ones;
- sync state commits EXACTLY on non-empty rounds, and every watermark
  (time, update-time, id) is monotone non-decreasing across all 20;

and at the end: the evolved column exists with NULL backfill, and dedup'd
warehouse contents match the source of truth.
"""

from __future__ import annotations

import pytest

import glob
import os

from pyspark.sql import functions as F

from es_to_clickhouse_spark.catalog import ParquetCatalog
from es_to_clickhouse_spark.engine import SyncEngine
from es_to_clickhouse_spark.sink import WarehouseTarget
from es_to_clickhouse_spark.state import StateStore

SCHEMA = (
    "event_id long, created_at string, updated_at string, value double"
)
EVOLVED = SCHEMA + ", extra string"


def _write(spark, source, rows, mode="append", evolved=False):
    df = (
        spark.createDataFrame(rows, EVOLVED if evolved else SCHEMA)
        .withColumn("created_at", F.col("created_at").cast("timestamp"))
        .withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    )
    df.write.mode(mode).parquet(str(source / "docs.parquet"))


def _part_files(engine, table):
    path = engine.target.table_path(table).replace("file:", "")
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def _state_key(st):
    return (st.last_sync_time, st.last_update_time, st.last_id, st.last_sync_count)


@pytest.mark.slow  # r15: driver test-gate budget (99 s)
def test_twenty_round_soak(spark, tmp_path):
    source = tmp_path / "source"
    os.makedirs(source)
    day = lambda i: f"2024-02-{i:02d}"
    _write(
        spark,
        source,
        [
            (1, "2024-01-01 00:00:00", "2024-01-01 00:00:00", 10.0),
            (2, "2024-01-02 00:00:00", "2024-01-02 00:00:00", 20.0),
        ],
        mode="overwrite",
    )
    engine = SyncEngine(
        spark=spark,
        catalog=ParquetCatalog(spark, str(source)),
        target=WarehouseTarget(spark, str(tmp_path / "wh")),
        state=StateStore(spark, str(tmp_path / "wh")),
        id_field="event_id",
    )
    engine.sync_full()

    # 20-round scenario script: (tag, rows-to-append, expected-moved)
    next_id = [3]
    next_val = [30.0]

    def new_rows(n, i, evolved=False):
        out = []
        for _ in range(n):
            eid, v = next_id[0], next_val[0]
            next_id[0] += 1
            next_val[0] += 10.0
            ts = f"{day(i)} 00:00:00"
            out.append(
                (eid, ts, ts, v, f"x{eid}") if evolved else (eid, ts, ts, v)
            )
        return out

    script = []
    for i in range(1, 21):
        tag = ["new", "empty", "late", "empty", "evolve"][i % 5]
        script.append((i, tag))

    wm_history = []
    for i, tag in script:
        st_before = engine.state.get("docs")
        files_before = _part_files(engine, "docs")
        if tag == "new":
            rows = new_rows(2, i)
            _write(spark, source, rows)
            expected = 2
        elif tag == "late":
            # in-place update: old created_at, fresh updated_at — only
            # the OR-clause catches it
            rows = [(1, "2024-01-01 00:00:00", f"{day(i)} 12:00:00", 11.0 + i)]
            _write(spark, source, rows)
            expected = 1
        elif tag == "evolve":
            rows = new_rows(1, i, evolved=True)
            _write(spark, source, rows, evolved=True)
            expected = 1
        else:
            expected = 0

        rounds = engine.sync_continuous(max_rounds=1, interval_s=0.0)
        assert len(rounds) == 1 and len(rounds[0]) == 1
        assert rounds[0][0].rows == expected, (i, tag, rounds[0][0])

        files_after = _part_files(engine, "docs")
        st_after = engine.state.get("docs")
        if expected == 0:
            assert files_after == files_before, (i, tag)
            assert _state_key(st_after) == _state_key(st_before), (i, tag)
        else:
            assert len(files_after) > len(files_before), (i, tag)
            assert _state_key(st_after) != _state_key(st_before), (i, tag)
        # watermark monotonicity — ISO strings compare chronologically
        for a, b in [
            (st_before.last_sync_time, st_after.last_sync_time),
            (st_before.last_update_time, st_after.last_update_time),
        ]:
            if a is not None and b is not None:
                assert b >= a, (i, tag, a, b)
        assert int(st_after.last_id) >= int(st_before.last_id), (i, tag)
        wm_history.append(_state_key(st_after))

    # -- end state ------------------------------------------------------
    wh = engine.target.read("docs")
    assert "extra" in wh.columns
    extras = {r.event_id: r.extra for r in wh.select("event_id", "extra").collect()}
    assert extras[1] is None  # pre-evolution rows NULL-backfilled
    assert any(v is not None for v in extras.values())

    # dedup'd warehouse = source of truth (latest version per id)
    dedup = engine.target.read("docs", dedup=True)
    src = spark.read.parquet(str(source / "docs.parquet"))
    assert dedup.count() == src.select("event_id").distinct().count()
