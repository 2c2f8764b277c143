"""The sync workloads: one closed-loop client driving incremental rounds.

Two pipelines, each usable alone (``sync-rounds``, ``es-to-ch``) or
together in one round (``sync``, the one the benchmark lists):

- ``SyncEngine`` over a ``ParquetCatalog`` source into a
  ``WarehouseTarget`` + ``StateStore``. Before each round the generator
  writes that round's batch; the round runs the engine (plus the
  compaction it triggers); an upsert read of the events table follows,
  timed on its own.
- ``sync_incremental_es_http`` from the loopback ES fixture into
  ``ClickHouseHttpTarget`` on the loopback ClickHouse fixture, both
  served by :mod:`fixtures` in a separate process.

In this closed loop a round's latency is also the freshness of its batch:
the batch is written right before the round starts.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time

import gen
from spans import span_of


def _parse_wm(text: str | None) -> dt.datetime | None:
    return dt.datetime.fromisoformat(text) if text else None


def _state_rows(warehouse: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(warehouse, "_sync_state")).num_rows


#: the table read back through the upsert merge after every round
UPSERT_READ_TABLE = "events"


class SyncRoundsWorkload:
    def __init__(self, work: str, seed: int):
        self.src = os.path.join(work, "source")
        self.wh = os.path.join(work, "warehouse")
        for d in (self.src, self.wh):
            shutil.rmtree(d, ignore_errors=True)
        self.source = gen.SyncSource(self.src, seed)
        self.seed_rows = self.source.seed_tables()

    def build(self, spark, tracer=None):
        """Engine objects; traced twins when ``tracer`` is given."""
        from es_to_clickhouse_spark.catalog import ParquetCatalog
        from es_to_clickhouse_spark.engine import SyncEngine
        from es_to_clickhouse_spark.sink import WarehouseTarget
        from es_to_clickhouse_spark.state import StateStore

        from traced import traced

        def make(cls, *args):
            return traced(tracer, cls, *args) if tracer is not None else cls(*args)

        return SyncEngine(
            spark,
            make(ParquetCatalog, spark, self.src),
            make(WarehouseTarget, spark, self.wh),
            make(StateStore, spark, self.wh),
        )

    def bootstrap(self, engine) -> int:
        return sum(r.rows for r in engine.sync_full())

    def prepare_round(self, k: int) -> int:
        return self.source.write_round(k)

    def round(self, engine, k: int, tracer=None) -> int:
        with span_of(tracer, "engine.round"):
            rows = sum(r.rows for r in engine.sync_incremental_once())
        if gen.compacts_after(k):
            for t in self.source.tables():
                engine.target.compact(t)
        return rows

    def after_round(self, engine, tracer=None) -> None:
        """The upsert read: the events table through the last-write-wins
        merge, executed to the ``noop`` sink."""
        with span_of(tracer, "sink.read"):
            engine.target.read(UPSERT_READ_TABLE, dedup=True).write.format("noop").mode(
                "overwrite"
            ).save()

    def check(self, engine) -> list[str]:
        """Compare the merged target with the generator's expected rows
        and each committed watermark with the source maximum."""
        from pyspark.sql import functions as F

        bad = []
        for t in self.source.tables():
            df = engine.target.read(t, dedup=True)
            extra = (
                F.count("channel").alias("extra") if "channel" in df.columns
                else F.lit(0).alias("extra")
            )
            got = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("_id").alias("ids"),
                F.sum(F.col("_id") * F.col("rev")).alias("id_rev"),
                F.sum(F.round(F.col(gen.VALUE_COL[t]) * 100).cast("long")).alias("cents"),
                extra,
            ).first().asDict()
            want = self.source.expected_summary(t)
            if got != want:
                bad.append(f"{t}: merged {got} != expected {want}")
            if t in gen.TIME_COL:
                st = engine.state.get(t)
                wm = _parse_wm(st.last_sync_time if st else None)
                if wm != self.source.expected_watermark(t):
                    bad.append(f"{t}: watermark {wm} != source max")
        return bad

    def layer_counts(self) -> dict[str, float]:
        """End-of-run sink and state sizes read from the local files."""
        files, live = [], 0
        for t in self.source.tables():
            d = os.path.join(self.wh, t)
            parts = [f for f in os.listdir(d) if f.endswith(".parquet")]
            files.append(len(parts))
            live += sum(os.path.getsize(os.path.join(d, f)) for f in parts)
        return {
            "sink.files": sum(files) / len(files),
            "sink.live_bytes": live,
            "state.rows": _state_rows(self.wh),
        }

    def written_bytes(self) -> dict[str, int]:
        """Size of every parquet file now in the warehouse tables, by path
        (new names after a round are that round's writes)."""
        out = {}
        for t in self.source.tables():
            d = os.path.join(self.wh, t)
            if os.path.isdir(d):
                for f in os.listdir(d):
                    if f.endswith(".parquet"):
                        out[os.path.join(d, f)] = os.path.getsize(os.path.join(d, f))
        return out

    def counters(self) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass


class EsToChWorkload:
    index = "events"

    def __init__(self, work: str, seed: int):
        from fixtures import FixtureProcess

        self.state_dir = os.path.join(work, "es_state")
        shutil.rmtree(self.state_dir, ignore_errors=True)
        self.fixture = FixtureProcess(seed)
        self.seed_rows = self.fixture.n_docs

    def build(self, spark, tracer=None):
        from es_to_clickhouse_spark.sources.ch_http import (
            ClickHouseHttpSource,
            ClickHouseHttpTarget,
        )
        from es_to_clickhouse_spark.sources.es import ScrollSession
        from es_to_clickhouse_spark.state import StateStore

        from traced import traced

        ch = ClickHouseHttpSource(host=self.fixture.ch_host, database="tgt_db")
        if tracer is None:
            target, state = ClickHouseHttpTarget(ch), StateStore(spark, self.state_dir)
        else:
            target = traced(tracer, ClickHouseHttpTarget, ch)
            state = traced(tracer, StateStore, spark, self.state_dir)
        return {
            "spark": spark,
            "session": ScrollSession(host=self.fixture.es_host, size=1000),
            "target": target,
            "state": state,
        }

    def _sync(self, p, tracer=None) -> int:
        from es_to_clickhouse_spark.sources.es import sync_incremental_es_http

        with span_of(tracer, "es.sync"):
            _mode, n, _wm = sync_incremental_es_http(
                p["spark"], p["session"], p["target"], p["state"], self.index,
                slices=int(os.environ["SPARK_GRAFT_CPUS"]),
            )
        return n

    def bootstrap(self, p) -> int:
        return self._sync(p)

    def prepare_round(self, k: int) -> int:
        return self.fixture.ask("round", k)

    def round(self, p, k: int, tracer=None) -> int:
        return self._sync(p, tracer)

    def after_round(self, p, tracer=None) -> None:
        pass

    def check(self, p) -> list[str]:
        got = self.fixture.ask("check")
        if got["rows"] != got["docs"] or got["distinct"] != got["docs"] or got["missing"]:
            return [f"clickhouse holds {got}"]
        return []

    def counters(self) -> dict[str, float]:
        return self.fixture.ask("counters")

    def layer_counts(self) -> dict[str, float]:
        return {"state.rows": _state_rows(self.state_dir)}

    def written_bytes(self) -> dict[str, int]:
        return {}

    def close(self) -> None:
        self.fixture.close()


class SyncWorkload:
    """Runs its parts' rounds back to back as one round; every method
    combines the parts' results."""

    def __init__(self, work: str, seed: int, parts: list[type]):
        self.parts = [p(work, seed) for p in parts]
        self.seed_rows = sum(p.seed_rows for p in self.parts)
        self.has_sink = SyncRoundsWorkload in parts

    def build(self, spark, tracer=None):
        return [p.build(spark, tracer) for p in self.parts]

    def bootstrap(self, objs) -> int:
        """Full sync of every part; ``boot_s`` keeps each part's seconds."""
        rows, self.boot_s = 0, []
        for p, o in zip(self.parts, objs):
            t0 = time.perf_counter()
            rows += p.bootstrap(o)
            self.boot_s.append(time.perf_counter() - t0)
        return rows

    def prepare_round(self, k: int) -> int:
        return sum(p.prepare_round(k) for p in self.parts)

    def round(self, objs, k: int, tracer=None) -> int:
        return sum(p.round(o, k, tracer) for p, o in zip(self.parts, objs))

    def after_round(self, objs, tracer=None) -> None:
        for p, o in zip(self.parts, objs):
            p.after_round(o, tracer)

    def check(self, objs) -> list[str]:
        return [b for p, o in zip(self.parts, objs) for b in p.check(o)]

    def counters(self) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.counters().items()}

    def written_bytes(self) -> dict[str, int]:
        return {k: v for p in self.parts for k, v in p.written_bytes().items()}

    def layer_counts(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for p in self.parts:
            for k, v in p.layer_counts().items():
                out[k] = out.get(k, 0) + v
        return out

    def close(self) -> None:
        for p in self.parts:
            p.close()
