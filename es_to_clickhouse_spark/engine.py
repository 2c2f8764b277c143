"""Sync engine: full / incremental / continuous / auto / status / list modes.

Re-expresses the reference's three daemons' orchestration (SURVEY §3):

- ``full``      — es/es_to_bytehouse.py:1153-1207 (run_full_sync)
- ``incremental``/``continuous`` — es/es_to_bytehouse.py:1053-1102
- ``auto``      — mongodb/mongodb_to_bytehouse.py:811-866 (full for unseen
                  tables, incremental for the rest)
- ``status``    — clickhouse/clickhouse_to_bytehouse.py:205-224
- ``list``      — es/es_to_bytehouse.py:1246-1253 (--list-only)

Every source lists with ``list_tables(pattern)``, and its table round
yields a batch and the state it may commit. ``SyncEngine`` drives a
``ParquetCatalog`` or a live wire (``WireSource``: ES, ClickHouse, Mongo)
through one pass (``_pass``) and one poll loop (``sync_continuous``) —
the reference daemons' loop body (es/es_to_bytehouse.py:963-1006): list,
resume from the mark, drain, insert, commit the mark. A failed listing or
table round (``OSError``/``ValueError``) reports one line and counts in
``errors``; the next round retries it.

A parquet round lands with ``land_batch``: its files can be read again,
so the count and the watermark maxima ride the append job as an
Observation, and a table whose listing and stored state are what its
last settling round left costs no job (``SyncEngine._settled``).
``StreamingSync`` lands its micro-batches the same way. A wire round
lands with ``land_snapshot``: a drain cannot be repeated, so one job
checkpoints and observes it, and the append is a second job over the
checkpoint. Either way ``SyncState.advance`` merges the maxima
monotonically into the stored marks.

Spark-first difference from the reference (SURVEY §3.1): the per-batch
client-side pagination loop collapses into ONE distributed read + write
per table per round (Catalyst plans the scan; partitioning replaces
paging; no O(n²) OFFSET walk).
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from es_to_clickhouse_spark.catalog import ParquetCatalog
from es_to_clickhouse_spark.flatten import flatten_es, flatten_mongo
from es_to_clickhouse_spark.functions import (
    expand_patterns,
    match_names,
    sanitize_table_name,
)
from es_to_clickhouse_spark.incremental import (
    batch_aggregate,
    detect_time_field,
    detect_update_time_field,
    keyset_predicate,
    watermark_predicate,
)
from es_to_clickhouse_spark.observability import ProgressReporter
from es_to_clickhouse_spark.sink import ID_COL, WarehouseTarget
from es_to_clickhouse_spark.state import StateStore, SyncState

log = logging.getLogger("es_to_clickhouse_spark.engine")

#: what a pass survives in one table round or listing: transport errors
#: and garbled responses that outlived the source's retry budget
ROUND_ERRORS = (OSError, ValueError)


@dataclass
class SyncReport:
    table: str
    mode: str
    rows: int
    seconds: float = 0.0
    watermark: str | None = None
    #: batch rows dropped as near-dups of the persisted LSH store
    #: (0 unless the engine has a ``neardup`` store configured)
    neardup_dropped: int = 0
    #: the round's record as its wire source shapes it (no seconds; the
    #: ClickHouse source adds its condition); None for a parquet round
    record: dict | None = None

    def line(self) -> dict:
        """The round's one-line JSON record (the CLI prints it)."""
        return self.record or {
            "table": self.table,
            "mode": self.mode,
            "rows": self.rows,
            "seconds": round(self.seconds, 3),
            "watermark": self.watermark,
        }


def land_batch(
    batch: DataFrame,
    prior: SyncState,
    state: StateStore,
    append: Callable[[DataFrame], None],
    neardup=None,
    id_col: str | None = None,
    persist: bool = False,
) -> tuple[SyncState, int]:
    """Land one batch: append it through ``append`` and commit
    ``prior.advance`` over its count and maxima. Returns the committed
    state and the number of rows dropped as near-dups.

    Without a near-dup screen the count and maxima ride the append job
    (Observation): one pass over the batch. With a ``neardup`` store
    whose id/text columns the batch has, the batch is materialized once
    — ``persist(DISK_ONLY)`` when ``persist`` (a whole table: lineage
    kept, so lost blocks recompute from the source after an executor
    loss), else ``localCheckpoint`` — and the order is screen → sink
    append → state commit → store append. The store append comes last
    so that a crash between sink and store only re-appends signatures on
    replay (the store dedups them); with the store first, the replayed
    batch would screen as a near-dup of its own failed attempt and be
    lost. The maxima cover the dropped rows too, so an all-dup batch
    still advances the watermark; it appends nothing."""
    metrics = batch_aggregate(prior.time_field, prior.update_time_field, id_col)
    screened = {getattr(neardup, "id_col", None), getattr(neardup, "text_col", None)}
    if neardup is None or not screened <= set(batch.columns):
        obs = Observation()
        append(batch.observe(obs, *metrics))
        committed = prior.advance(**obs.get)
        state.commit(committed)
        return committed, 0
    kept = batch.persist(StorageLevel.DISK_ONLY) if persist else batch.localCheckpoint()
    novel, matched = neardup.screen_split(kept)
    dropped = matched.count()
    observed = kept.agg(*metrics).first().asDict()
    observed["n"] -= dropped
    if observed["n"] > 0:
        append(novel)
    committed = prior.advance(**observed)
    state.commit(committed)
    if observed["n"] > 0:
        neardup.append(novel)
    if persist:
        kept.unpersist()
    return committed, dropped


def land_snapshot(
    drain: DataFrame,
    prior: SyncState,
    state: StateStore,
    append: Callable[[DataFrame], None],
    status: str | None = None,
    marks: Callable[[dict, list], dict] = lambda maxima, reports: maxima,
) -> SyncState:
    """Land one wire round's ``drain``, which cannot be read twice.

    One job ``localCheckpoint``s the drain, and an Observation on it
    carries the row count and the maxima of ``prior``'s time and
    update-time fields. A drain whose tasks report their status as rows
    names the column in ``status`` (NULL on data rows); the observation
    also collects those reports. No data rows: nothing is appended or
    committed, and ``prior`` with a count of 0 is returned. Otherwise
    the data rows, ``status`` dropped, go to ``append`` in a second job
    over the checkpoint, so a retried task re-sends the same rows in the
    same order and a ClickHouse ``insert_deduplication_token`` holds.
    Last, ``prior.advance`` over the count and ``marks(maxima,
    reports)`` — the observed maxima by default; a source whose drain
    can end short narrows them — is committed and returned."""
    metrics = batch_aggregate(prior.time_field, prior.update_time_field)
    if status:
        metrics.append(F.collect_list(status).alias(status))
    obs = Observation()
    snap = drain.observe(obs, *metrics).localCheckpoint()
    maxima = obs.get
    reports = maxima.pop(status, []) if status else []
    n = maxima.pop("n") - len(reports)
    if n == 0:
        return prior.advance(0)
    append(snap.where(F.col(status).isNull()).drop(status) if status else snap)
    committed = prior.advance(n, **marks(maxima, reports))
    state.commit(committed)
    return committed


@dataclass
class WireSource:
    """A live wire (ES, ClickHouse, Mongo) as ``SyncEngine`` drives it.
    ``names`` lists the catalog (system objects filtered); ``round`` runs
    one table's round, which lands its own snapshot (``land_snapshot``),
    and returns the round's record: ``table``, ``mode``, ``rows`` and
    ``watermark`` at least."""

    names: Callable[[], list[str]]
    round: Callable[[str], dict]

    def list_tables(self, pattern: str | None = None) -> list[str]:
        names = self.names()
        return match_names(names, pattern) if pattern else names


def _predicate_kind(st: SyncState, id_src: str | None) -> str | None:
    """The incremental predicate ``st`` selects with: the time watermark
    (``"time"``), the same with the update-time OR arm (``"time|update"``),
    the id keyset (``"id"``), or none."""
    if st.time_field and st.last_sync_time:
        return "time|update" if st.update_time_field and st.last_update_time else "time"
    return "id" if st.last_id and id_src else None


@dataclass
class SyncEngine:
    """One engine instance = one (source → warehouse target) pipeline.
    ``catalog`` is a ``ParquetCatalog`` or a ``WireSource``."""

    spark: SparkSession
    catalog: ParquetCatalog | WireSource
    target: WarehouseTarget
    state: StateStore
    dialect: str = "es"
    id_field: str | None = None  # source column to expose as _id
    store_source: bool = False  # keep whole doc as _source JSON (STORE_SOURCE)
    reporter: ProgressReporter = field(default_factory=ProgressReporter)
    #: optional ingest-time near-dup screen
    #: (operators.dedup.PersistedNearDupStore): each round (the full
    #: round seeds the store) screens its batch against the
    #: parquet-persisted LSH store, drops verified near-dups from the
    #: sink append, and appends the novel rows' signatures (see
    #: ``land_batch``) — history text is never rescanned, history
    #: signatures never re-derived. Tables missing the store's id/text
    #: columns pass through untouched.
    neardup: object | None = None
    #: failed listings and table rounds since the engine was built
    errors: int = field(default=0, init=False)
    #: patterns the latest listing matched no table for
    unmatched: int = field(default=0, init=False)
    #: pattern error lines already reported (each is reported once)
    _seen_errors: set = field(default_factory=set, init=False, repr=False)
    #: per source table, the listing and state the last round left when
    #: that round proves the next one idle: it committed a batch or found
    #: none, so every listed row is at or below the stored marks. An
    #: equal listing and an equal stored state then give an empty batch
    #: again, so that round reads nothing. Any other listing or state (a
    #: new, changed or vanished file, a mark moved by another writer or a
    #: restore, a new engine) runs the round. Assumes a file is never
    #: rewritten in place with the same size and mtime, as Spark's
    #: ``FileStatusCache`` does.
    _settled: dict = field(default_factory=dict, init=False, repr=False)

    # -- transforms ----------------------------------------------------

    def _transform(self, df: DataFrame) -> DataFrame:
        """Dialect transform; testbed tables are already flat, in which
        case the ES flatten is the identity projection (one select).

        ``ch`` = typed passthrough: the CH→CH daemon copies DESCRIBE
        verbatim — no flatten, no stringify, source types preserved
        end-to-end (clickhouse/clickhouse_to_bytehouse.py:244-256,
        303-316)."""
        if self.dialect == "ch":
            out = df
        elif self.dialect == "es":
            out = flatten_es(df, stringify=False, store_source=self.store_source)
        else:
            out = flatten_mongo(df)
        if self.id_field and self.id_field in out.columns and ID_COL not in out.columns:
            out = out.withColumn(ID_COL, F.col(self.id_field).cast("string"))
        return out

    # -- rounds ---------------------------------------------------------

    def list_tables(self, pattern: str | None = None) -> list[str]:
        return self.catalog.list_tables(pattern)

    def _round(
        self, name: str, st: SyncState | None, start_date: str | None = None
    ) -> SyncReport | None:
        """One parquet table round. ``st`` is the stored state; None with
        no ``start_date`` is a full round (no predicate), None with one
        bootstraps from it (the Mongo daemon's ``--start-date``,
        mongodb/mongodb_to_bytehouse.py:611-631). Returns None when the
        table is skipped.

        A round whose table listing and stored state both equal what the
        last landing or empty round of this engine left reports 0 rows
        without reading the table (see ``_settled``)."""
        target_name = sanitize_table_name(name, self.dialect)
        files = self.catalog.listing(name)
        if st is not None and files and self._settled.get(name) == (files, st):
            return SyncReport(name, "incremental", 0, watermark=st.last_sync_time)
        df = self._transform(self.catalog.read(name, files))
        cols = df.columns
        # the id watermark is a max over the NATIVE id column when known,
        # so a numeric id compares numerically, not as a string
        id_src = (
            self.id_field
            if self.id_field and self.id_field in cols
            else (ID_COL if ID_COL in cols else None)
        )
        full = st is None and start_date is None
        if st is None:
            st = SyncState(
                table_name=target_name,
                source_name=name,
                time_field=detect_time_field(cols),
                update_time_field=detect_update_time_field(cols),
                last_sync_time=start_date,
            )
        kind = None if full else _predicate_kind(st, id_src)
        if full:
            batch = df
        elif kind in ("time", "time|update"):
            batch = df.where(
                watermark_predicate(
                    st.time_field,
                    st.last_sync_time,
                    st.update_time_field if st.last_update_time else None,
                    st.last_update_time,
                )
            )
        elif kind == "id":
            batch = df.where(
                keyset_predicate(id_src, st.last_id, df.schema[id_src].dataType)
            )
        else:
            log.warning("%s: no watermark to sync from; run full sync first", name)
            return None
        mode = "full" if full else "incremental"
        # Idle-round no-op (es/es_to_bytehouse.py:996-1004: zero rows
        # moved → nothing appended, state untouched): a limit-1 probe
        # that exits at the first matching row, so no idle round appends
        # an empty part and no round scans the source twice in full.
        if not full and batch.isEmpty():
            self._settle(name, files, st)
            return SyncReport(name, mode, 0, watermark=st.last_sync_time)
        committed, dropped = land_batch(
            batch,
            st,
            self.state,
            lambda b: self.target.append(target_name, b),
            self.neardup,
            id_src,
            persist=full,
        )
        # the next round's predicate selects nothing of these files only
        # if every row it could select was in this batch: true after a
        # full round, or when the predicate keeps its kind (an arm that
        # switches on reaches rows this round's predicate never looked at)
        nxt = _predicate_kind(committed, id_src)
        if nxt is not None and (full or nxt == kind):
            self._settle(name, files, committed)
        else:
            self._settled.pop(name, None)
        return SyncReport(
            name, mode, committed.last_sync_count, 0.0, committed.last_sync_time, dropped
        )

    def _settle(self, name: str, files: tuple, st: SyncState) -> None:
        if files:
            self._settled[name] = (files, st)

    def _state(self, name: str) -> SyncState | None:
        return self.state.get(sanitize_table_name(name, self.dialect))

    def _table_round(
        self, name: str, mode: str, start_date: str | None
    ) -> SyncReport | None:
        """One table round of a ``full``, ``incremental`` or ``auto``
        pass. A wire source runs its own round, which bootstraps an
        unseen table itself."""
        if isinstance(self.catalog, WireSource):
            rec = self.catalog.round(name)
            return SyncReport(
                name, rec["mode"], rec["rows"], watermark=rec["watermark"], record=rec
            )
        st = None if mode == "full" else self._state(name)
        if st is None and mode == "incremental" and start_date is None:
            # ES refuses incremental before a full sync
            # (es/es_to_bytehouse.py:968-971)
            log.warning("%s: no sync state; run full sync first", name)
            return None
        return self._round(name, st, start_date)

    def _fail(self, line: dict) -> None:
        self.errors += 1
        self.reporter.error(line)

    def _pass(
        self,
        pattern: str | None,
        mode: str,
        start_date: str | None = None,
        round_no: int | None = None,
    ) -> list[SyncReport]:
        """One round: list the source — every round, like the reference
        daemons, so tables created mid-run join the next round — match
        ``pattern`` (all tables when None) and run each table's round. A
        failed listing or table round is reported and counted, and the
        pass goes on to the next table."""
        try:
            names = self.catalog.list_tables()
        except ROUND_ERRORS as e:
            self._fail({"error": f"catalog: {e}"})
            return []
        tables, self.unmatched = (
            expand_patterns(pattern, names, self._seen_errors, self.reporter.error)
            if pattern
            else (names, 0)
        )
        if round_no is not None:
            self.reporter.round_start(round_no, len(tables))
        reports = []
        for name in tables:
            t0 = time.time()
            try:
                rep = self._table_round(name, mode, start_date)
            except ROUND_ERRORS as e:
                self._fail({"table": name, "error": str(e)})
                continue
            if rep is not None:
                rep.seconds = time.time() - t0
                self.reporter.table_done(rep)
                reports.append(rep)
        return reports

    # -- modes ----------------------------------------------------------

    def sync_full(self, pattern: str | None = None) -> list[SyncReport]:
        """Full sync of every matching table (§3.1)."""
        return self._pass(pattern, "full")

    def sync_incremental_once(
        self, pattern: str | None = None, start_date: str | None = None
    ) -> list[SyncReport]:
        """One incremental round over matching tables (§3.2).

        ``start_date``: bootstrap for stateless tables — rows with time >
        start_date sync and seed the state. Without it, stateless tables
        are skipped (ES refuses incremental before a full sync,
        es/es_to_bytehouse.py:968-971).
        """
        return self._pass(pattern, "incremental", start_date)

    def sync_auto(self, pattern: str | None = None) -> list[SyncReport]:
        """Auto mode: one pass over the listing, full round for unseen
        tables, incremental for the rest
        (mongodb/mongodb_to_bytehouse.py:811-866)."""
        return self._pass(pattern, "auto")

    def sync_continuous(
        self,
        pattern: str | None = None,
        interval_s: float = 60.0,
        max_rounds: int | None = None,
        compact_every: int | None = None,
    ) -> list[list[SyncReport]]:
        """The poll loop (es/es_to_bytehouse.py:1053-1102): each round
        re-lists the source and runs one incremental pass, then sleeps
        ``interval_s``. ``max_rounds`` bounds the loop; None = run
        forever. A failed listing or table round is reported and counted
        (``errors``), and the next round retries it.

        ``compact_every``: run ``target.compact`` on every synced table
        each N rounds — the maintenance the reference outsources to its
        warehouse's background merges. Appends-per-round otherwise
        accumulate one parquet part each (~1440/table/day at the
        reference's 60 s interval), and compaction amortizes to a
        bounded rewrite because only post-compaction appends pile up."""
        rounds = []
        n = 0
        while max_rounds is None or n < max_rounds:
            t0 = time.time()
            n += 1
            reports = self._pass(pattern, "incremental", round_no=n)
            rounds.append(reports)
            if compact_every and n % compact_every == 0:
                self._compact(reports)
            done = max_rounds is not None and n >= max_rounds
            self.reporter.round_done(
                n,
                sum(r.rows for r in reports),
                time.time() - t0,
                None if done else interval_s,
            )
            if not done:
                time.sleep(interval_s)
        return rounds

    def _compact(self, reports: list[SyncReport]) -> None:
        for rep in reports:
            tname = sanitize_table_name(rep.table, self.dialect)
            if self.target.table_exists(tname):
                before, after = self.target.compact(tname)
                if after < before:
                    log.info("%s: compacted %d -> %d parts", tname, before, after)
        # the near-dup store accumulates files_per_append parquet parts
        # per table per round, same degradation curve as the sink —
        # compact it on the same cadence. Safe here: the loop is between
        # rounds, so no append is in flight.
        if self.neardup is not None and hasattr(self.neardup, "compact"):
            done_files = self.neardup.compact(self.spark)
            if done_files:
                log.info("neardup store compacted to %s files/table", done_files)

    def status(self, limit: int = 10) -> DataFrame:
        return self.state.status(limit)
