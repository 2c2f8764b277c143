"""CLI — the Spark-native twin of the reference daemons' argparse surface.

Reference entry points re-expressed (SURVEY §3):
- ``--mode full``        es/es_to_bytehouse.py:1210-1257 (run_full_sync)
- ``--mode incremental`` one bounded round
- ``--mode continuous``  es/es_to_bytehouse.py:1053-1102 (poll loop;
  ``--interval`` = INCREMENTAL_INTERVAL, default 60 s)
- ``--mode auto``        mongodb/mongodb_to_bytehouse.py:811-866
- ``--mode status``      clickhouse/clickhouse_to_bytehouse.py:205-224
- ``--list-only``        es/es_to_bytehouse.py:1246-1253

The CLI only builds the source (the parquet catalog, or with
``--ch-http-url`` / ``--es-http-url`` / ``--mongo-uri`` a live wire,
whose round bootstraps unseen tables itself, so every mode but
``full`` runs on it) and the target; ``SyncEngine``
runs every mode, prints one JSON line per table round or error, and
the exit code is 1 when any listing, table round or pattern failed.

Usage::

    python -m es_to_clickhouse_spark \
        --source-dir /root/testdata/sf0.001 --warehouse /tmp/wh \
        --mode auto --tables 'events,line*'
"""

from __future__ import annotations

import argparse
import json
import sys
import urllib.parse

from es_to_clickhouse_spark.catalog import ParquetCatalog
from es_to_clickhouse_spark.config import EnvConfig
from es_to_clickhouse_spark.engine import SyncEngine, WireSource
from es_to_clickhouse_spark.functions import is_system_name
from es_to_clickhouse_spark.observability import ProgressReporter
from es_to_clickhouse_spark.session import get_spark
from es_to_clickhouse_spark.sink import WarehouseTarget
from es_to_clickhouse_spark.state import StateStore


def build_parser(env: EnvConfig | None = None) -> argparse.ArgumentParser:
    """CLI with env-var defaults (reference es/Dockerfile:25-42): every
    flag falls back to its env twin, so a container can be driven purely
    by environment like the reference daemons."""
    env = env or EnvConfig.from_env()
    p = argparse.ArgumentParser(
        prog="es_to_clickhouse_spark",
        description="PySpark-native sync engine (full/incremental/continuous/auto)",
    )
    p.add_argument(
        "--mode",
        choices=[
            "full",
            "incremental",
            "continuous",
            "auto",
            "entrypoint",
            "status",
            "list",
        ],
        default="auto",
        help="'entrypoint' = full sync then continuous handoff "
        "(es/entrypoint.sh:23-48; SKIP_FULL_SYNC=true skips step 1)",
    )
    p.add_argument(
        "--source-dir",
        default=env.source_dir,
        help="parquet source catalog dir [env: SOURCE_DIR] — required "
        "unless a live source URL is given",
    )
    p.add_argument(
        "--warehouse",
        required=env.warehouse is None,
        default=env.warehouse,
        help="target warehouse dir [env: WAREHOUSE_DIR]",
    )
    p.add_argument(
        "--tables",
        default=env.tables,
        help="comma-separated glob patterns (clickhouse_to_bytehouse.py:83-98) "
        "[env: INDEX_PATTERN / TABLE_PATTERN / COLLECTION_PATTERN]",
    )
    p.add_argument(
        "--interval",
        type=float,
        default=env.interval,
        help="continuous poll seconds [env: INCREMENTAL_INTERVAL]",
    )
    p.add_argument(
        "--max-rounds", type=int, default=None, help="bound continuous rounds"
    )
    p.add_argument(
        "--batch-size",
        type=int,
        default=env.batch_size,
        help="max records per output file on append — the INSERT-chunk "
        "analog [env: BATCH_SIZE / SYNC_BATCH_SIZE]",
    )
    p.add_argument(
        "--dialect",
        choices=["es", "mongo", "ch"],
        default=env.dialect,
        help="transform dialect: es=flatten, mongo=stringify, ch=typed "
        "passthrough [env: SYNC_DIALECT]",
    )
    p.add_argument(
        "--id-field",
        default=env.id_field,
        help="source column to expose as _id [env: ID_FIELD]",
    )
    p.add_argument(
        "--start-date",
        default=env.start_date,
        help="stateless-table incremental bootstrap: sync rows with "
        "time > START_DATE (mongodb_to_bytehouse.py --start-date) "
        "[env: START_DATE]",
    )
    p.add_argument(
        "--store-source",
        action="store_true",
        default=env.store_source,
        help="keep whole doc as a _source JSON column [env: STORE_SOURCE]",
    )
    p.add_argument(
        "--skip-full-sync",
        action="store_true",
        default=env.skip_full_sync,
        help="entrypoint mode: skip the initial full sync "
        "[env: SKIP_FULL_SYNC]",
    )
    p.add_argument(
        "--list-only", action="store_true", help="print matching tables and exit"
    )
    p.add_argument(
        "--ch-http-url",
        default=env.ch_http_url,
        help="ClickHouse HTTP-interface URL (e.g. http://ch:8123) — "
        "selects the jar-free live source (sources/ch_http.py) "
        "instead of the parquet catalog "
        "[env: CH_HTTP_URL]",
    )
    p.add_argument(
        "--ch-database",
        default=env.ch_database,
        help="source ClickHouse database "
        "(reference SOURCE_CH_DATABASE, clickhouse_to_bytehouse.py:68) "
        "[env: SOURCE_CH_DATABASE]",
    )
    p.add_argument(
        "--time-column",
        default=env.time_column,
        help="incremental watermark column for the ch-http source "
        "(reference --time-column) [env: TIME_COLUMN]",
    )
    p.add_argument(
        "--es-http-url",
        default=env.es_http_url,
        help="Elasticsearch HTTP URL (e.g. http://es:9200) — selects "
        "the jar-free live SLICED-SCROLL source "
        "(sources/es.py sync_incremental_es_http): full-bootstrap for "
        "unseen indices, watermark ranges after [env: ES_HTTP_URL]",
    )
    p.add_argument(
        "--es-cursor",
        choices=["scroll", "search_after"],
        default=env.es_cursor,
        help="pagination cursor for the live ES source: 'scroll' "
        "(reference parity) or 'search_after' (PIT + search_after — "
        "the ES 8.x replacement; stateless cursor, so transient page "
        "failures RETRY instead of degrading the round to partial) "
        "[env: ES_CURSOR]",
    )
    p.add_argument(
        "--slices",
        type=int,
        default=env.slices,
        help="executor fan-out for the live jar-free sources: sliced "
        "scroll contexts for ES, _id-range sub-cursors for Mongo (1 = "
        "serial reference walk); track the index's shard count at "
        "scale [env: ES_SLICES]",
    )
    p.add_argument(
        "--mongo-uri",
        default=env.mongo_uri,
        help="MongoDB URI (mongodb://host:port) — selects the "
        "jar-free live OP_MSG source "
        "(sources/mongo_wire.py: keyset scan with typed _id resume) "
        "[env: MONGO_URI]",
    )
    p.add_argument(
        "--mongo-database",
        default=env.mongo_database,
        help="source MongoDB database (reference MONGO_DATABASE, "
        "mongodb_to_bytehouse.py:118) [env: MONGO_DATABASE]",
    )
    p.add_argument(
        "--ch-sink-url",
        default=env.ch_sink_url,
        help="ClickHouse HTTP-interface URL for the TARGET — synced "
        "rows land on the live server (CREATE/ALTER DDL + token-deduped "
        "INSERT, sources/ch_http.py ClickHouseHttpTarget) instead of "
        "the parquet warehouse; --warehouse still hosts sync state "
        "[env: CH_SINK_URL / TARGET_CH_HTTP_URL]",
    )
    p.add_argument(
        "--ch-sink-database",
        default=env.ch_sink_database,
        help="target ClickHouse database (reference TARGET_DATABASE, "
        "es/es_to_bytehouse.py:151) [env: TARGET_DATABASE]",
    )
    return p


def _wire_source(spark, args, target, state) -> WireSource:
    """The live jar-free source ``args`` selects: its catalog listing
    (system objects filtered) and its table round, whose record the
    engine prints."""
    if args.ch_http_url:
        # (clickhouse_to_bytehouse.py:499-512)
        from es_to_clickhouse_spark.sources.ch_http import (
            ClickHouseHttpSource,
            sync_incremental_http,
        )

        src = ClickHouseHttpSource(host=args.ch_http_url, database=args.ch_database)

        def ch_round(table):
            n, cond, wm = sync_incremental_http(
                spark, src, target, state, table,
                time_column=args.time_column, start_date=args.start_date,
            )
            return {"table": table, "mode": "incremental_ch_http",
                    "rows": n, "condition": cond, "watermark": wm}

        return WireSource(src.list_tables, ch_round)
    if args.es_http_url:
        # sliced-scroll live ES (es/es_to_bytehouse.py:963-1006);
        # composed with --ch-sink-url this is the reference's exact
        # ES→ClickHouse pipeline, end-to-end jar-free
        from es_to_clickhouse_spark.sources.es import (
            ScrollSession,
            SearchAfterSession,
            list_indices,
            sync_incremental_es_http,
        )

        cursor = SearchAfterSession if args.es_cursor == "search_after" else ScrollSession
        sess = cursor(host=args.es_http_url)

        def es_round(index):
            mode, n, wm = sync_incremental_es_http(
                spark, sess, target, state, index,
                start_date=args.start_date, slices=args.slices,
                store_source=args.store_source,
            )
            return {"table": index, "mode": f"{mode}_es_http",
                    "rows": n, "watermark": wm}

        return WireSource(
            lambda: [n for n in list_indices(sess) if not is_system_name(n, "es")],
            es_round,
        )
    # raw OP_MSG live Mongo (mongodb_to_bytehouse.py:811-866)
    from es_to_clickhouse_spark.sources.mongo_wire import (
        MongoWireSession,
        list_collections,
        sync_incremental_mongo_wire,
    )

    u = urllib.parse.urlsplit(args.mongo_uri)
    msess = MongoWireSession(
        host=u.hostname or "127.0.0.1",
        port=u.port or 27017,
        database=args.mongo_database,
    )

    def mongo_round(coll):
        # --slices drives the _id-range pre-split like ES sliced scroll
        mode, n, wm = sync_incremental_mongo_wire(
            spark, msess, target, state, coll, splits=args.slices
        )
        return {"table": coll, "mode": f"{mode}_mongo_wire",
                "rows": n, "watermark": wm}

    return WireSource(
        lambda: [c for c in list_collections(msess) if not is_system_name(c, "mongo")],
        mongo_round,
    )


def main(argv: list[str] | None = None, environ: dict | None = None) -> int:
    env = EnvConfig.from_env(environ)
    parser = build_parser(env)
    args = parser.parse_args(argv)
    if args.es_cursor not in ("scroll", "search_after"):
        # argparse only checks `choices` on EXPLICIT flags — an invalid
        # ES_CURSOR env value arrives as the default and would silently
        # fall back to scroll, the exact failure mode the user opted
        # out of. Fail loudly instead.
        parser.error(
            f"invalid ES_CURSOR / --es-cursor {args.es_cursor!r}: "
            "expected 'scroll' or 'search_after'"
        )
    live = [u for u in (args.ch_http_url, args.es_http_url, args.mongo_uri) if u]
    if len(live) > 1:
        parser.error(
            "--ch-http-url / --es-http-url / --mongo-uri are mutually "
            "exclusive source selections"
        )
    if live and args.mode == "full":
        # a wire round is incremental once the table has state; it has
        # no way to re-read a table from scratch
        parser.error(
            "--mode full cannot run on a live source; --mode auto "
            "bootstraps unseen tables and syncs the rest incrementally"
        )
    if not args.source_dir and not live:
        parser.error("--source-dir is required (or set SOURCE_DIR)")
    if live and not [t for t in (args.tables or "").split(",") if t.strip()]:
        # an empty pattern would sync zero tables and exit 0 — a silent
        # green no-op; fail loudly like the catalog path
        parser.error(
            "--tables is required with a live source "
            "(or set INDEX_PATTERN / COLLECTION_PATTERN)"
        )
    spark = get_spark("es_to_clickhouse_spark.cli")
    spark.sparkContext.setLogLevel(env.log_level)
    if args.ch_sink_url:
        # synced rows land on a LIVE ClickHouse over HTTP (the
        # reference's actual data flow: everything writes to the
        # CH/ByteHouse target, clickhouse_to_bytehouse.py:311-316);
        # --warehouse remains the home of sync state
        from es_to_clickhouse_spark.sources.ch_http import (
            ClickHouseHttpSource,
            ClickHouseHttpTarget,
        )

        target = ClickHouseHttpTarget(
            ClickHouseHttpSource(
                host=args.ch_sink_url, database=args.ch_sink_database
            )
        )
    else:
        target = WarehouseTarget(spark, args.warehouse)
    if args.batch_size:
        target.max_records_per_file = args.batch_size
        if args.ch_sink_url:
            target.source.batch_size = args.batch_size
    state = StateStore(spark, args.warehouse)
    engine = SyncEngine(
        spark=spark,
        catalog=(
            _wire_source(spark, args, target, state)
            if live
            else ParquetCatalog(spark, args.source_dir)
        ),
        target=target,
        state=state,
        dialect=args.dialect,
        id_field=args.id_field,
        store_source=args.store_source,
        reporter=ProgressReporter(emit=lambda line: print(json.dumps(line))),
    )
    if args.list_only or args.mode == "list":
        for name in engine.list_tables(args.tables):
            print(name)
        return 0
    if args.mode == "status":
        for row in engine.status().collect():
            print(json.dumps(row.asDict(), default=str))
        return 0
    if args.mode == "full" or (args.mode == "entrypoint" and not args.skip_full_sync):
        # entrypoint = full→continuous handoff (es/entrypoint.sh:23-48)
        engine.sync_full(args.tables)
    if args.mode == "incremental":
        engine.sync_incremental_once(args.tables, start_date=args.start_date)
    elif args.mode == "auto":
        engine.sync_auto(args.tables)
    elif args.mode in ("continuous", "entrypoint"):
        engine.sync_continuous(
            args.tables, interval_s=args.interval, max_rounds=args.max_rounds
        )
    return 1 if engine.errors or engine.unmatched else 0


if __name__ == "__main__":
    sys.exit(main())
