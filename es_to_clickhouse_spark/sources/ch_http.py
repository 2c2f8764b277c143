"""ClickHouse source/sink over the HTTP interface (public wire format:
no JDBC jar or native-TCP client is needed, because ClickHouse's HTTP
interface is plain ``POST /?query=`` and stdlib urllib drives it).

Reference behaviors mapped (clickhouse/clickhouse_to_bytehouse.py):

- paged full sync: ``SELECT COUNT(*)`` then ``SELECT * ... LIMIT B
  OFFSET o`` per batch (:303-306) — ``paged_sql``/``count_sql`` are
  byte-identical; ``fetch_all_paged`` drives the same O(n²/B) loop for
  protocol parity, while :meth:`read_table` is the scale path (parallel
  range predicates, one pass);
- incremental sync: ``SELECT * FROM `db`.`t` WHERE `col` > '...'``
  (:346-347, condition built at :455-468 including the
  ``now() - INTERVAL 1 DAY`` bootstrap) — ``incremental_sql`` /
  ``since_condition``;
- batched INSERT (:313-316 native ``INSERT ... VALUES``) ↔ HTTP
  ``INSERT ... FORMAT JSONEachRow`` with an NDJSON body — same batch
  semantics, public wire format instead of the native protocol.

Scale design: :meth:`read_table` plans N numeric ranges and fetches
each ON THE EXECUTORS (``sparkContext.parallelize(ranges).flatMap``),
so a large table streams through the cluster in one pass — the HTTP
analog of JDBC partitioned reads. Rows travel as raw NDJSON lines and
are parsed JVM-side by ``spark.read.schema(...).json`` with the typed
schema derived from ``DESCRIBE TABLE`` — no row-at-a-time Python
parsing on the hot path. :meth:`write_table` pushes NDJSON INSERT
batches from ``foreachPartition`` — executor-side, batch_size-bounded
memory, no driver collect."""

from __future__ import annotations

import json
import re
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: ClickHouse scalar type → Spark type (DESCRIBE TABLE vocabulary).
#: UInt64 maps to Decimal(20,0) — it does not fit a signed long.
CH_SCALAR_TO_SPARK: dict[str, T.DataType] = {
    "Int8": T.ByteType(),
    "Int16": T.ShortType(),
    "Int32": T.IntegerType(),
    "Int64": T.LongType(),
    "UInt8": T.ShortType(),
    "UInt16": T.IntegerType(),
    "UInt32": T.LongType(),
    "UInt64": T.DecimalType(20, 0),
    "Float32": T.FloatType(),
    "Float64": T.DoubleType(),
    "String": T.StringType(),
    "UUID": T.StringType(),
    "IPv4": T.StringType(),
    "IPv6": T.StringType(),
    "Bool": T.BooleanType(),
    "Date": T.DateType(),
    "Date32": T.DateType(),
    "DateTime": T.TimestampType(),
}


def ch_type_to_spark(ch_type: str) -> T.DataType:
    """Parse one DESCRIBE TABLE type string into a Spark type.
    Handles the wrapper grammar (Nullable/LowCardinality unwrap,
    Array recursion, DateTime64/FixedString/Decimal/Enum parameters);
    unknown types fall back to String — the reference's wide-String
    posture (es/es_to_bytehouse.py:166-188) applied to the CH path."""
    s = ch_type.strip()
    m = re.fullmatch(r"(Nullable|LowCardinality)\((.*)\)", s)
    if m:
        return ch_type_to_spark(m.group(2))
    m = re.fullmatch(r"Array\((.*)\)", s)
    if m:
        return T.ArrayType(ch_type_to_spark(m.group(1)))
    m = re.fullmatch(r"DateTime64\(\s*\d+\s*(,.*)?\)", s)
    if m:
        return T.TimestampType()
    m = re.fullmatch(r"DateTime\(.*\)", s)  # tz-parameterized
    if m:
        return T.TimestampType()
    m = re.fullmatch(r"FixedString\(\s*\d+\s*\)", s)
    if m:
        return T.StringType()
    m = re.fullmatch(r"Decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)", s)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    m = re.fullmatch(r"Enum(?:8|16)\(.*\)", s)
    if m:
        return T.StringType()
    return CH_SCALAR_TO_SPARK.get(s, T.StringType())


#: HTTP statuses with no query semantics — safe to retry (see
#: ClickHouseHttpSource.max_retries for why 500 is excluded)
TRANSIENT_HTTP = (429, 502, 503, 504)


def describe_to_schema(rows: list[dict]) -> T.StructType:
    """``DESCRIBE TABLE ... FORMAT JSONEachRow`` rows → Spark schema
    (the S9 schema fetch over the HTTP interface)."""
    return T.StructType(
        [T.StructField(r["name"], ch_type_to_spark(r["type"]), True) for r in rows]
    )


@dataclass
class ClickHouseHttpSource:
    """ClickHouse over HTTP (jar-free), loopback-testable."""

    host: str = "http://localhost:8123"
    database: str = "default"
    user: str = "default"
    password: str = ""
    batch_size: int = 10_000  # BATCH_SIZE (clickhouse/clickhouse_to_bytehouse.py:33)
    settings: dict[str, str] = field(default_factory=dict)
    #: bounded transient-failure retry (executor-side too — the
    #: dataclass ships into read/write closures): attempts beyond the
    #: first, exponential backoff base. Retried: connection-level
    #: URLError and HTTP 429/502/503/504 (server overloaded / proxy
    #: hiccup — responses with no query semantics). NOT retried: other
    #: HTTP codes, notably 500, which ClickHouse uses for real query
    #: errors including the missing-column signal the reactive
    #: schema-repair path must see immediately (write_table).
    max_retries: int = 4
    backoff_s: float = 0.2

    # ----------------------------------------------------- pure builders

    def count_sql(self, table: str) -> str:
        """Byte-identical to clickhouse/clickhouse_to_bytehouse.py:440."""
        return f"SELECT COUNT(*) FROM `{self.database}`.`{table}`"

    def paged_sql(self, table: str, limit: int, offset: int) -> str:
        """Byte-identical to the reference's batch_sql (:304)."""
        return (
            f"SELECT * FROM `{self.database}`.`{table}` "
            f"LIMIT {limit} OFFSET {offset}"
        )

    @staticmethod
    def since_condition(
        time_column: str,
        last_sync_time: str | None = None,
        start_date: str | None = None,
    ) -> str:
        """The incremental WHERE condition, precedence and spelling per
        clickhouse/clickhouse_to_bytehouse.py:455-468: last-sync wins
        unless a start date is forced; no state at all → the 1-day
        bootstrap window (P6)."""
        if last_sync_time and not start_date:
            return f"`{time_column}` > '{last_sync_time}'"
        if start_date:
            return f"`{time_column}` > '{start_date}'"
        return f"`{time_column}` > now() - INTERVAL 1 DAY"

    def incremental_sql(self, table: str, since_condition: str = "") -> str:
        """Byte-identical to sync_table_incremental's query (:346-347),
        including the trailing space when the condition is empty."""
        where_clause = f"WHERE {since_condition}" if since_condition else ""
        return f"SELECT * FROM `{self.database}`.`{table}` {where_clause}"

    def max_time_sql(self, table: str, time_column: str, since_condition: str) -> str:
        """Watermark advance query (:475-477): max over the just-synced
        batch's condition."""
        return (
            f"SELECT max(`{time_column}`) FROM `{self.database}`.`{table}` "
            f"WHERE {since_condition}"
        )

    def insert_sql(self, table: str, columns: list[str]) -> str:
        """HTTP-interface INSERT: named columns like the reference's
        insert_sql (:313-314), FORMAT JSONEachRow instead of VALUES
        (the body carries NDJSON rows)."""
        cols = ", ".join(f"`{c}`" for c in columns)
        return (
            f"INSERT INTO `{self.database}`.`{table}` ({cols}) "
            "FORMAT JSONEachRow"
        )

    def request_for(
        self,
        sql: str,
        data: bytes | None = None,
        extra_settings: dict[str, str] | None = None,
    ) -> urllib.request.Request:
        """One HTTP-interface request: query in the URL, payload (if
        any) in the body, credentials in X-ClickHouse-* headers.
        ``extra_settings`` ride as per-request query params (e.g.
        ``insert_deduplication_token``)."""
        params = {
            "query": sql,
            "database": self.database,
            **self.settings,
            **(extra_settings or {}),
        }
        url = f"{self.host}/?" + urllib.parse.urlencode(params)
        return urllib.request.Request(
            url,
            data=data if data is not None else b"",
            headers={
                "X-ClickHouse-User": self.user,
                "X-ClickHouse-Key": self.password,
                "Content-Type": "application/x-ndjson",
            },
            method="POST",
        )

    # ------------------------------------------------------------- wire

    def execute(
        self,
        sql: str,
        data: bytes | None = None,
        timeout: int = 60,
        extra_settings: dict[str, str] | None = None,
    ) -> str:
        """POST one statement; transient failures (connection errors,
        HTTP 429/502/503/504) are retried up to ``max_retries`` times
        with exponential backoff. Retry safety: SELECT/DESCRIBE are
        idempotent and ALTER is IF NOT EXISTS. For INSERT bodies the
        retry is duplicate-free ONLY when a deduplication token rides
        along (write_table sets one per (table, partition, batch,
        epoch)) AND the target table honors it (ReplicatedMergeTree, or
        plain MergeTree with ``non_replicated_deduplication_window`` >
        0 — the setting defaults to 0, where tokens are ignored): a
        502/504 that arrives AFTER the server committed the block is
        replayed, and without an honored token that replay lands twice.
        The overall sink contract stays at-least-once (README); callers
        needing effectively-once must pass ``dedup_epoch`` and
        configure the window. The terminal exception is re-raised
        unchanged (HTTPError stays HTTPError — callers inspect it)."""
        import time as _time

        attempt = 0
        while True:
            try:
                with urllib.request.urlopen(
                    self.request_for(sql, data, extra_settings), timeout=timeout
                ) as r:
                    return r.read().decode("utf-8")
            except urllib.error.HTTPError as e:
                if e.code not in TRANSIENT_HTTP or attempt >= self.max_retries:
                    raise
                # no drain: urllib opens a fresh connection per request
                # (no pooling), and e.read() on a broken connection can
                # itself raise (IncompleteRead/socket timeout), which
                # would escape this loop as the wrong exception type
            except urllib.error.URLError:
                if attempt >= self.max_retries:
                    raise
            _time.sleep(self.backoff_s * (2 ** attempt))
            attempt += 1

    def fetch_rows(self, sql: str) -> list[dict]:
        """SELECT → list of dicts via FORMAT JSONEachRow."""
        text = self.execute(f"{sql} FORMAT JSONEachRow")
        return [json.loads(line) for line in text.splitlines() if line.strip()]

    def fetch_scalar(self, sql: str):
        """One-value result (COUNT/max watermark) via TabSeparated."""
        text = self.execute(f"{sql} FORMAT TabSeparated").strip()
        return text if text and text != "\\N" else None

    def list_tables(self) -> list[str]:
        """Source-side catalog (S8): table names in the configured
        database via ``system.tables`` — the HTTP twin of the
        reference's SHOW TABLES catalog scan
        (clickhouse/clickhouse_to_bytehouse.py:83-98), used by the CLI
        to expand glob patterns and reject typo'd names up front."""
        return sorted(
            r["name"]
            for r in self.fetch_rows(
                "SELECT name FROM system.tables "
                f"WHERE database = '{self.database}'"
            )
        )

    def table_schema(self, table: str) -> T.StructType:
        return describe_to_schema(
            self.fetch_rows(f"DESCRIBE TABLE `{self.database}`.`{table}`")
        )

    def fetch_all_paged(self, table: str) -> tuple[list[dict], list[str]]:
        """The reference's full-sync pagination loop (:440-460) verbatim:
        COUNT, then LIMIT/OFFSET batches until done or an empty batch.
        Returns (rows, sql transcript) so tests golden-check the wire
        exchange. Parity path — :meth:`read_table` is the scale path."""
        transcript = [self.count_sql(table)]
        total = int(self.fetch_scalar(self.count_sql(table)) or 0)
        rows: list[dict] = []
        offset = 0
        while offset < total:
            sql = self.paged_sql(table, self.batch_size, offset)
            transcript.append(sql)
            batch = self.fetch_rows(sql)
            if not batch:
                break
            rows.extend(batch)
            offset += self.batch_size
        return rows, transcript

    # ------------------------------------------------------ Spark paths

    def read_table(
        self,
        spark: SparkSession,
        table: str,
        where: str | None = None,
        partition_column: str | None = None,
        bounds: tuple[int, int] | None = None,
        num_partitions: int = 32,
    ) -> DataFrame:
        """Distributed read: N disjoint range predicates over a numeric
        column, each fetched BY AN EXECUTOR as raw NDJSON and parsed
        JVM-side against the DESCRIBE-derived schema — one pass over the
        table, no jar, no driver bottleneck. Without a partition column,
        a single range (still executor-side) — the small-table case.

        Range semantics match Spark's JDBC partitioned reads: ``bounds``
        PLACE rows into partitions, they never FILTER them — the first
        partition is unbounded below and also routes NULL partition
        keys, the last is unbounded above, so rows outside stale bounds
        (or with a NULL key) still arrive instead of being silently
        dropped."""
        schema = self.table_schema(table)
        base_where = f"({where})" if where else None
        col = partition_column
        if col and bounds:
            lo, hi = bounds
            n = max(1, num_partitions)
            step = max(1, (hi - lo + n) // n)
            cuts = list(range(lo, hi + 1, step)) + [hi + 1]
            spans = list(zip(cuts, cuts[1:]))
            preds = []
            for i, (a, b) in enumerate(spans):
                lo_p = None if i == 0 else f"`{col}` >= {a}"
                hi_p = None if i == len(spans) - 1 else f"`{col}` < {b}"
                parts = [p for p in (lo_p, hi_p) if p]
                pred = " AND ".join(parts) if parts else None
                if i == 0 and pred:
                    pred = f"({pred} OR `{col}` IS NULL)"
                preds.append(pred)
        else:
            preds = [None]
        sqls = []
        for p in preds:
            conj = " AND ".join(c for c in (base_where, p) if c)
            sqls.append(
                f"SELECT * FROM `{self.database}`.`{table}`"
                + (f" WHERE {conj}" if conj else "")
                + " FORMAT JSONEachRow"
            )
        src = self  # dataclass is picklable; closures ship it to executors

        def _fetch(sql: str) -> list[str]:
            return [
                ln
                for ln in src.execute(sql).splitlines()
                if ln.strip()
            ]

        lines = spark.sparkContext.parallelize(sqls, len(sqls)).flatMap(_fetch)
        return (
            spark.read.schema(schema)
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
            .option("mode", "FAILFAST")
            .json(lines)
        )

    def alter_statements(self, table: str, df: DataFrame) -> list[str]:
        """Idempotent ``ALTER TABLE ADD COLUMN IF NOT EXISTS`` per df
        column, typed from the Spark schema — the live-target form of
        the reference's schema evolution
        (es/es_to_bytehouse.py:1020-1041), safe to replay (IF NOT
        EXISTS) so the reactive repair path can fire them wholesale."""
        from es_to_clickhouse_spark.ddl import clickhouse_type, quote_ident

        return [
            f"ALTER TABLE {quote_ident(self.database)}.{quote_ident(table)} "
            f"ADD COLUMN IF NOT EXISTS {quote_ident(f.name)} "
            f"{clickhouse_type(f.dataType, True)}"
            for f in df.schema.fields
        ]

    def ensure_columns(self, table: str, df: DataFrame) -> list[str]:
        """Proactive diff-then-ALTER (the reference's check before each
        round, es/es_to_bytehouse.py:1020-1041): DESCRIBE the live
        table, ALTER only the df columns it lacks. Returns the added
        column names."""
        existing = {f.name for f in self.table_schema(table)}
        stmts = self.alter_statements(table, df)
        added = []
        for f, stmt in zip(df.schema.fields, stmts):
            if f.name not in existing:
                self.execute(stmt)
                added.append(f.name)
        return added

    def write_table(
        self,
        df: DataFrame,
        table: str,
        columns: list[str] | None = None,
        evolve_schema: bool = False,
        dedup_epoch: str | None = None,
    ) -> None:
        """Batched INSERT sink over HTTP (S15): each partition posts
        NDJSON bodies of at most ``batch_size`` rows — executor-side,
        at-least-once per partition like the reference's per-batch
        insert loop (:313-316).

        ``evolve_schema`` wires the warehouse sink's two-layer schema
        evolution (sink.py:112,308) onto the LIVE target: a proactive
        DESCRIBE-diff + ALTER on the driver before any post, plus a
        reactive repair on the executors — a post failing with a
        missing-column error replays the idempotent ALTER set and
        re-posts once (the reference's insert-repair loop,
        es/es_to_bytehouse.py:696-723, over the HTTP interface).

        ``dedup_epoch`` upgrades delivery from at-least-once to
        effectively-once per (epoch, partition, batch): every post
        carries a DETERMINISTIC ``insert_deduplication_token`` (public
        ClickHouse setting) built from (table, partition id, batch seq,
        epoch), so a Spark task retry re-posting the same partition
        replays the same tokens and the server drops the duplicate
        blocks. Distinct epochs (e.g. one per sync round) keep separate
        rounds from colliding.

        Execution shape: rows serialize to NDJSON JVM-SIDE
        (``to_json(struct(...))`` inside whole-stage codegen — explicit
        nulls, millisecond timestamps matching the DateTime64(3) DDL);
        Python executors receive opaque line strings in Arrow batches
        (``mapInPandas``) and only POST them. The job materializes
        through the ``noop`` DataFrame writer, a real DataFrame command
        — so ``Observation`` metrics riding the input df (SyncEngine's
        one-pass count/watermark pattern) are reported, which an RDD
        action would silently never do."""
        from pyspark.sql import functions as F

        cols = columns or df.columns
        sql = self.insert_sql(table, cols)
        src = self
        bsz = self.batch_size
        repair_stmts = self.alter_statements(table, df) if evolve_schema else []
        if evolve_schema:
            self.ensure_columns(table, df)

        lines = df.select(
            F.to_json(
                F.struct(*[F.col(c) for c in cols]),
                {
                    "ignoreNullFields": "false",
                    "timestampFormat": "yyyy-MM-dd HH:mm:ss.SSS",
                },
            ).alias("_line")
        )

        def _post_batches(it):
            import pandas as pd
            from pyspark import TaskContext

            from es_to_clickhouse_spark.sink import is_missing_column_error

            pid = TaskContext.get().partitionId()

            def _send(body: bytes, seq: int):
                settings = None
                if dedup_epoch is not None:
                    settings = {
                        "insert_deduplication_token": (
                            f"{table}:{pid}:{seq}:{dedup_epoch}"
                        )
                    }
                try:
                    src.execute(sql, body, extra_settings=settings)
                except urllib.error.HTTPError as e:
                    try:
                        detail = e.read().decode("utf-8", "replace")
                    except OSError:
                        # reading the error body off a broken connection
                        # can itself fail — the status code alone still
                        # routes the repair-vs-raise decision
                        detail = "<error body unavailable>"
                    err = ValueError(f"HTTP {e.code}: {detail}")
                    if not repair_stmts or not is_missing_column_error(err):
                        raise err from e
                    for stmt in repair_stmts:  # idempotent IF NOT EXISTS
                        src.execute(stmt)
                    src.execute(sql, body, extra_settings=settings)

            buf: list[str] = []
            seq = 0
            posted = 0
            for pdf in it:
                for line in pdf["_line"]:
                    buf.append(line)
                    posted += 1
                    if len(buf) >= bsz:
                        _send(("\n".join(buf) + "\n").encode("utf-8"), seq)
                        seq += 1
                        buf = []
            if buf:
                _send(("\n".join(buf) + "\n").encode("utf-8"), seq)
            yield pd.DataFrame({"posted": [posted]})

        (
            lines.mapInPandas(_post_batches, "posted long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def ping(self) -> bool:
        """GET /ping → ``Ok.`` (the HTTP interface's health check)."""
        try:
            req = urllib.request.Request(f"{self.host}/ping", method="GET")
            with urllib.request.urlopen(req, timeout=10) as r:
                return r.read().decode("utf-8").strip() == "Ok."
        except OSError:
            return False


@dataclass
class ClickHouseHttpTarget:
    """Live ClickHouse SINK over the HTTP interface — the write
    direction of what ``--ch-http-url`` already does for reads, and the
    reference's primary data flow: everything lands in a ClickHouse/
    ByteHouse target (clickhouse/clickhouse_to_bytehouse.py:311-316,
    es/es_to_bytehouse.py:577-673). Presents the ``WarehouseTarget``
    append surface (``append`` / ``table_exists`` / ``compact`` /
    ``max_records_per_file``) so ``SyncEngine`` and ``StreamingSync``
    can point at a real server unchanged — jar-free, loopback-testable.

    DDL: the first touch of a table issues ``CREATE DATABASE IF NOT
    EXISTS`` + typed ``CREATE TABLE IF NOT EXISTS`` (ddl.py S16/S17,
    the passthrough shape of clickhouse_to_bytehouse.py:240-262); later
    schema drift rides ``write_table(evolve_schema=True)``'s proactive
    DESCRIBE-diff ALTER + reactive executor-side repair (S18).

    Delivery: every append carries a deterministic
    ``insert_deduplication_token`` epoch —

    - engine path (no explicit epoch):
      ``{applicationId}:{instance}:{table}:{seq}`` with a per-table
      in-process round counter AND a per-target-instance uuid. A Spark
      TASK retry inside a round replays identical tokens and the server
      drops the duplicate blocks (effectively-once per round); a
      process restart mints fresh epochs, so cross-restart delivery
      stays at-least-once — the same contract as the reference daemon,
      which has no token at all (:313-316). The instance uuid is
      load-bearing for at-least-once itself: two target instances in
      ONE application (a program syncing in phases, an engine
      restarted in the same JVM) would otherwise both start their seq
      at 0 and the second instance's FIRST round would replay the
      first's tokens — the server then silently DROPS legitimate new
      rows.
    - streaming path: ``StreamingSync`` passes
      ``epoch=f"{table}:{batch_id}"`` where ``batch_id`` comes from the
      Structured Streaming CHECKPOINT — durable across restarts, so the
      foreachBatch replay after a crash also dedups: effectively-once
      end-to-end (streaming/sync.py T4).
    """

    source: ClickHouseHttpSource
    engine: str = "MergeTree"
    #: interface parity with WarehouseTarget (the CLI sets it from
    #: --batch-size); the INSERT-chunk analog is source.batch_size
    max_records_per_file: int = 0
    _ensured: set = field(default_factory=set)
    _seq: dict = field(default_factory=dict)
    #: per-instance epoch salt (see the delivery contract above)
    _instance: str = field(
        default_factory=lambda: __import__("uuid").uuid4().hex[:12]
    )

    def __post_init__(self):
        if self.max_records_per_file:
            self.source.batch_size = self.max_records_per_file

    def table_exists(self, table: str) -> bool:
        """EXISTS TABLE over the HTTP interface (cheap server-side
        probe; 1/0 TabSeparated)."""
        val = self.source.fetch_scalar(
            f"EXISTS TABLE `{self.source.database}`.`{table}`"
        )
        return val == "1"

    def ensure_table(self, table: str, df: DataFrame) -> None:
        """Idempotent first-touch DDL: database + typed table from the
        batch schema. IF NOT EXISTS makes replay safe; done once per
        (process, table) — the reference re-issues it per run
        (es/es_to_bytehouse.py:401-410)."""
        if table in self._ensured:
            return
        from es_to_clickhouse_spark.ddl import (
            create_database_sql,
            create_typed_table_sql,
        )

        self.source.execute(create_database_sql(self.source.database))
        self.source.execute(
            create_typed_table_sql(
                self.source.database, table, df.schema, engine=self.engine
            )
        )
        self._ensured.add(table)

    def append(self, table: str, df: DataFrame, epoch: str | None = None) -> None:
        """One batch → the live table: ensure DDL, then
        ``write_table(evolve_schema=True, dedup_epoch=...)`` — schema
        evolution and token-deduped delivery on every path."""
        self.ensure_table(table, df)
        if epoch is None:
            seq = self._seq.get(table, 0)
            self._seq[table] = seq + 1
            run_id = df.sparkSession.sparkContext.applicationId
            epoch = f"{run_id}:{self._instance}:{table}:{seq}"
        self.source.write_table(df, table, evolve_schema=True, dedup_epoch=epoch)

    def compact(self, table: str) -> tuple[int, int]:
        """Part compaction is the SERVER's job on a MergeTree target
        (background merges replace the warehouse sink's parquet-part
        rewrite) — report a no-op so sync_continuous(compact_every=N)
        stays valid against either target."""
        return (0, 0)


def sync_incremental_http(
    spark: SparkSession,
    source: "ClickHouseHttpSource",
    target,
    state,
    table: str,
    time_column: str = "created_at",
    start_date: str | None = None,
    partition_column: str | None = None,
    bounds: tuple[int, int] | None = None,
    num_partitions: int = 32,
):
    """One incremental sync round for a ClickHouse source table over
    the HTTP interface — the reference daemon's loop body
    (clickhouse/clickhouse_to_bytehouse.py:455-495) on the Spark
    engine's warehouse/state machinery:

    1. condition = last-sync watermark from the StateStore, unless a
       start date is forced; neither -> the 1-day bootstrap (P6);
    2. the table reads DISTRIBUTED (``read_table`` with the condition
       pushed into every range query, executor-side fetch) and lands
       through :func:`engine.land_snapshot`: one job checkpoints it and
       observes the count and the watermark, the append reads the
       checkpoint (the source is not re-read, so the reported n is
       exactly what was appended), and zero rows fire no further job;
    3. rows append to the warehouse target (system columns + schema
       evolution handled by the sink);
    4. the watermark advances to ``max(time_column)`` OVER THE APPENDED
       SNAPSHOT — unlike the reference's source-side advance query
       (:475-477), a row landing at the source after the snapshot can
       never be swallowed by the watermark: its time exceeds the
       snapshot max, so the next round picks it up. The one inherent
       strict-greater-watermark gap remains (shared with the
       reference): a late row carrying EXACTLY the snapshot-max
       timestamp is excluded by ``>`` next round.

    Returns ``(rows_synced, condition, new_watermark)``."""
    from es_to_clickhouse_spark.engine import land_snapshot
    from es_to_clickhouse_spark.state import SyncState

    st = state.get(table)
    last = st.last_sync_time if st else None
    cond = source.since_condition(time_column, last, start_date)
    df = source.read_table(
        spark,
        table,
        where=cond,
        partition_column=partition_column,
        bounds=bounds,
        num_partitions=num_partitions,
    )
    prior = SyncState(
        table_name=table,
        source_name=f"ch_http:{source.database}.{table}",
        time_field=time_column,
        last_sync_time=last,
    )
    committed = land_snapshot(df, prior, state, lambda snap: target.append(table, snap))
    return committed.last_sync_count, cond, committed.last_sync_time
