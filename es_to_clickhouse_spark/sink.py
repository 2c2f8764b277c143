"""Target writer: DDL, schema evolution, upsert materialization (SURVEY S14-S19).

The reference writes to ByteHouse via batched INSERTs into a wide
``Nullable(String)`` table with ``UNIQUE KEY _id`` upsert
(es/es_to_bytehouse.py:300-336, 675-736) and evolves the target with
``ALTER TABLE ADD COLUMN`` when new fields appear
(es/es_to_bytehouse.py:1020-1051).

Spark-first, the target is a warehouse table (parquet directory here; the
same interface backs the live ClickHouse writer, sources/ch_http.py):

- **Schema evolution** is a driver-side diff of ``df.schema`` vs the live
  target schema, kept in the table's ``_schema.json`` sidecar; new
  columns append naturally because reads use the sidecar's typed columns
  as their schema (older parts read NULL for them) — the parquet analog
  of ADD COLUMN, with no table rewrite (constant-time at 100 TB) and no
  schema-inference job. The live schema records column TYPES, so a
  batch that omits a previously-written typed column projects a NULL of
  that type (not string), and every part holds the sidecar's type for
  every column it carries.
- **Upsert** (UNIQUE KEY _id) is materialized at read time as a
  last-write-wins window over ``_id`` — the Spark expression of
  CnchMergeTree's merge-on-read. Appends stay shuffle-free; the dedup cost
  is paid only by readers that need merged state, exactly like MergeTree.
- **Projection onto the live column set** (missing → typed NULL, extras
  kept via evolution) mirrors es/es_to_bytehouse.py:681-688.
- All metadata / existence IO goes through the Hadoop FileSystem API
  (``fsio``), so the warehouse root can be any Hadoop URI
  (``file://``, ``hdfs://``, ``s3a://``) — never driver-local ``os.*``.
"""

from __future__ import annotations

import json

from pyspark.errors import ParseException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from es_to_clickhouse_spark import fsio

ID_COL = "_id"
TS_COL = "_timestamp"
SOURCE_COL = "_source"

SCHEMA_FILE = "_schema.json"


class WarehouseTarget:
    """A directory-of-parquet-tables target with evolution + upsert reads."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        max_records_per_file: int | None = None,
    ):
        self.spark = spark
        self.warehouse = warehouse
        #: BATCH_SIZE analog (es/Dockerfile:35): bounds the rows a single
        #: output file holds, like the reference's INSERT chunk size
        self.max_records_per_file = max_records_per_file
        fsio.mkdirs(spark, warehouse)

    # -- catalog / DDL ------------------------------------------------

    def table_path(self, table: str) -> str:
        return fsio.join(self.warehouse, table)

    def table_exists(self, table: str) -> bool:
        p = self.table_path(table)
        return fsio.has_glob(self.spark, fsio.join(p, "*.parquet")) or fsio.exists(
            self.spark, fsio.join(p, SCHEMA_FILE)
        )

    def create_table(self, table: str, columns: dict[str, str] | list[str]) -> None:
        """CREATE TABLE analog (es/es_to_bytehouse.py:300-336): records the
        declared schema (column → Spark DDL type; a bare name list means
        the reference's wide-String layout); data files carry it
        physically."""
        fsio.mkdirs(self.spark, self.table_path(table))
        self._write_schema(table, self._as_typed(columns))

    @staticmethod
    def _as_typed(columns: dict[str, str] | list[str]) -> dict[str, str]:
        if isinstance(columns, dict):
            return dict(columns)
        return {c: "string" for c in columns}

    def _sidecar(self, table: str) -> dict[str, str] | list[str] | None:
        """The ``_schema.json`` columns as stored: column → Spark DDL type,
        or a bare name list (v1 metadata, the wide-String layout); None
        without a sidecar."""
        meta = fsio.join(self.table_path(table), SCHEMA_FILE)
        if not fsio.exists(self.spark, meta):
            return None
        return json.loads(fsio.read_text(self.spark, meta))["columns"]

    def live_schema(self, table: str) -> dict[str, str]:
        """DESCRIBE-driven column cache analog (es/es_to_bytehouse.py:1008-1018):
        column → Spark DDL type string."""
        cols = self._sidecar(table)
        if cols is not None:
            return cols if isinstance(cols, dict) else {c: "string" for c in cols}
        if self.table_exists(table):
            df = self.read(table, dedup=False)
            return {f.name: f.dataType.simpleString() for f in df.schema.fields}
        return {}

    def _write_schema(self, table: str, columns: dict[str, str]) -> None:
        meta = fsio.join(self.table_path(table), SCHEMA_FILE)
        fsio.write_text(
            self.spark,
            meta,
            json.dumps({"columns": dict(sorted(columns.items()))}),
        )

    def add_new_columns(self, table: str, new_cols: dict[str, str] | list[str]) -> int:
        """ALTER TABLE ADD COLUMN analog, idempotent
        (es/es_to_bytehouse.py:1020-1041). First-seen type wins; later
        batches are cast to it (target schema is authoritative, like the
        reference's fixed Nullable(String) target)."""
        live = self.live_schema(table)
        return len(self._evolve(table, live, self._as_typed(new_cols))) - len(live)

    def _evolve(
        self, table: str, live: dict[str, str], typed: dict[str, str]
    ) -> dict[str, str]:
        """``live`` plus the columns of ``typed`` it lacks, written to the
        sidecar when any were added."""
        added = {c: t for c, t in typed.items() if c not in live}
        if not added:
            return live
        merged = {**live, **added}
        self._write_schema(table, merged)
        return merged

    # -- write path ---------------------------------------------------

    def append(self, table: str, df: DataFrame, add_system_cols: bool = True) -> None:
        """Append a micro-batch with pre-write schema evolution
        (replaces the reference's insert→fail→ALTER→retry loop at
        es/es_to_bytehouse.py:693-736 with a proactive diff; the live
        ClickHouse sink adds the reactive repair for concurrent writers,
        sources/ch_http.write_table)."""
        if add_system_cols and TS_COL not in df.columns:
            df = df.withColumn(TS_COL, F.current_timestamp())
        batch_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        live = self.live_schema(table)
        if not live:
            self.create_table(table, batch_types)
            live = batch_types
        else:
            live = self._evolve(table, live, batch_types)
        # project onto the live column set: missing → NULL of the LIVE
        # type; present-but-retyped → cast to the live type (target schema
        # is authoritative — es/es_to_bytehouse.py:681-688)
        select = []
        for c in sorted(live):
            if c not in batch_types:
                select.append(F.lit(None).cast(live[c]).alias(c))
            elif batch_types[c] != live[c]:
                select.append(F.col(f"`{c}`").cast(live[c]).alias(c))
            else:
                select.append(F.col(f"`{c}`").alias(c))
        writer = df.select(*select).write.mode("append")
        if self.max_records_per_file:
            writer = writer.option("maxRecordsPerFile", str(self.max_records_per_file))
        writer.parquet(self.table_path(table))

    # -- read path ----------------------------------------------------

    def read(self, table: str, dedup: bool = True) -> DataFrame:
        """Read the target; ``dedup=True`` applies the UNIQUE KEY _id
        last-write-wins merge (es/es_to_bytehouse.py:329-334).

        The typed sidecar is the read schema, so the read fires no
        schema-inference job; a table without one (v1 name-list metadata,
        or parts written by another tool) infers with ``mergeSchema``."""
        cols = self._sidecar(table)
        reader = self.spark.read.option("mergeSchema", "true")
        if isinstance(cols, dict):
            ddl = ", ".join(f"`{c.replace('`', '``')}` {t}" for c, t in cols.items())
            try:
                reader = self.spark.read.schema(ddl)
            except ParseException:
                pass  # a nested field name the DDL text cannot carry
        df = reader.parquet(self.table_path(table))
        if dedup and ID_COL in df.columns and TS_COL in df.columns:
            df = upsert_view(df, ID_COL, TS_COL)
        return df

    def compact(
        self, table: str, target_file_bytes: int = 128 * 1024 * 1024
    ) -> tuple[int, int]:
        """Rewrite a table's accumulated small append parts into
        right-sized files; returns (files_before, files_after).

        Why this exists: every non-empty continuous round appends one
        part (engine.py), so a 60 s-interval daemon grows ~1440
        files/table/day — after a month every scan pays a 40k-file
        listing+open tax. The idle-round skip stops EMPTY junk;
        compaction is the other half of the ops story, same as
        ClickHouse's background merges on the reference's target
        (MergeTree parts) — but explicit, because a parquet directory
        has no server doing it for us.

        Plan shape: read all parts -> ``coalesce`` (NARROW — merges
        input splits without a shuffle; files may come out uneven, which
        is fine for compaction and the right trade at 100 TB) -> write
        to a side directory -> two renames swap it in -> delete the
        backup. Crash safety: leftovers of an interrupted attempt are
        cleared on the next call; the only non-ideal window (between the
        two renames) leaves the table ABSENT — a loud reader error, not
        silent data loss — with the backup intact for recovery. Not for
        concurrent writers (single-daemon assumption, like the
        reference's one-process sync loop); raw S3A lacks atomic rename
        (fsio.rename docstring).
        """
        import math

        path = self.table_path(table)
        tmp, bak = path + "__compacting", path + "__pre_compact"
        for leftover in (tmp, bak):
            fsio.delete(self.spark, leftover)
        n_before = len(
            [f for f in fsio.listdir(self.spark, path) if f.endswith(".parquet")]
        )
        size = fsio.content_size(self.spark, path)
        n_out = max(1, math.ceil(size / target_file_bytes))
        if n_before <= n_out:
            return (n_before, n_before)  # already compact: no-op
        live = self.live_schema(table)
        df = self.read(table, dedup=False)
        df.coalesce(n_out).write.mode("overwrite").parquet(tmp)
        fsio.rename(self.spark, path, bak)
        fsio.rename(self.spark, tmp, path)
        if live:
            self._write_schema(table, live)  # sidecar lives IN the dir
        fsio.delete(self.spark, bak)
        n_after = len(
            [f for f in fsio.listdir(self.spark, path) if f.endswith(".parquet")]
        )
        return (n_before, n_after)


def row_fingerprint(df: DataFrame, cols: list[str] | None = None) -> Column:
    """Content hash of a row: md5 over an UNAMBIGUOUS encoding of
    ``cols`` (default: all columns, in ``sorted`` order so the value is
    independent of projection order). Each field encodes as ``N;`` when
    NULL, else ``V<charlen>:<value>`` — the explicit length prefix makes
    the encoding injective (a separator-based concat would let a data
    value CONTAINING the separator, or a literal NUL string vs a real
    NULL, shift field boundaries so two distinct rows collide).
    Deterministic across partitioning, file layout, compaction, and
    engines (DuckDB computes the identical value — used by oracle-checked
    corpus queries)."""
    use = sorted(cols if cols is not None else df.columns)
    parts = []
    for c in use:
        s = F.col(f"`{c}`").cast("string")
        parts.append(
            F.when(s.isNull(), F.lit("N;")).otherwise(
                F.concat(
                    F.lit("V"), F.length(s).cast("string"), F.lit(":"), s
                )
            )
        )
    return F.md5(F.concat(*parts))


def upsert_view(
    df: DataFrame,
    key: str = ID_COL,
    version: str = TS_COL,
    tie_break: Column | None = None,
) -> DataFrame:
    """Last-write-wins dedup by key: the Spark materialization of
    CnchMergeTree ``UNIQUE KEY _id`` upsert (es/es_to_bytehouse.py:334).

    One shuffle on the key; AQE handles skewed keys. Version ties break on
    a CONTENT-STABLE fingerprint (md5 of the row, :func:`row_fingerprint`)
    — not ``monotonically_increasing_id()``, which depends on partition
    layout and file-listing order and can elect a different winner after a
    repartition/compaction or on stage retry. With the fingerprint, the
    same data always yields the same winner regardless of physical layout;
    rows that tie on the fingerprint too are bitwise-identical, so the
    choice is immaterial."""
    if tie_break is None:
        tie_break = row_fingerprint(df)
    w = Window.partitionBy(key).orderBy(F.desc(version), F.desc(tie_break))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


#: substrings that identify a sink-side missing-column failure
#: (ByteHouse "No such column …" — es/es_to_bytehouse.py:698; Mongo path
#: mongodb/mongodb_to_bytehouse.py:462-484; plus common JDBC phrasings)
MISSING_COLUMN_MARKERS = (
    "no such column",
    "unknown column",
    "unknown field",
    "unknown identifier",
    "cannot resolve",
    "column not found",
)


def is_missing_column_error(exc: BaseException) -> bool:
    msg = str(exc).lower()
    return any(m in msg for m in MISSING_COLUMN_MARKERS)
