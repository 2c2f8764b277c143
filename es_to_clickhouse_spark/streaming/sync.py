"""readStream → foreachBatch continuous sync.

Maps the reference's semantics onto Structured Streaming:

- T1 micro-batch trigger: ``processingTime`` (default 60 s like
  INCREMENTAL_INTERVAL, es/es_to_bytehouse.py:155) or ``availableNow``
  for a bounded catch-up run.
- T2 watermark/offset tracking: Spark's checkpoint dir is the source of
  truth for offsets; the engine ALSO appends to the queryable
  ``_sync_state`` table per batch (the reference's state table is a
  user-facing feature, es/es_to_bytehouse.py:412-465).
- T3 late data: upsert reconciliation happens at read time
  (sink.upsert_view).
- T8 delivery: foreachBatch + idempotent-by-_id target = the same
  at-least-once + upsert contract as the reference.
- T4 upgrade on the LIVE ClickHouse sink: ``ch_http.write_table``
  with ``dedup_epoch=f"{table}:{batch_id}"`` carries a deterministic
  ``insert_deduplication_token`` per (partition, batch), so a Spark
  task retry re-posting a partition is dropped server-side —
  effectively-once per epoch, strictly stronger than the reference's
  bare at-least-once (duplicates possible on retry,
  clickhouse/clickhouse_to_bytehouse.py:313-316 has no token).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from es_to_clickhouse_spark.engine import land_batch
from es_to_clickhouse_spark.flatten import flatten_es
from es_to_clickhouse_spark.incremental import detect_time_field
from es_to_clickhouse_spark.sink import ID_COL, WarehouseTarget
from es_to_clickhouse_spark.state import StateStore, SyncState


@dataclass
class StreamingSync:
    spark: SparkSession
    target: WarehouseTarget
    state: StateStore
    id_field: str | None = None
    #: optional LIVE ClickHouse sink (sources/ch_http.ClickHouseHttpTarget):
    #: when set, each micro-batch ALSO lands on the real server with
    #: ``epoch=f"{table}:{batch_id}"`` — batch_id is durable in the
    #: streaming checkpoint, so a post-crash foreachBatch replay posts
    #: the SAME dedup tokens and the server drops the duplicate blocks:
    #: effectively-once end-to-end (T4 upgrade, see module docstring)
    ch_target: object | None = None
    #: optional ingest-time near-dup screen
    #: (operators.dedup.PersistedNearDupStore) — the foreachBatch twin
    #: of SyncEngine.neardup: each micro-batch screens against the
    #: parquet-persisted LSH store, drops verified near-dups from the
    #: sink, appends the novel rows' signatures. The committed watermark
    #: covers the dropped rows too, so all-dup micro-batches cannot
    #: stall the stream's progress.
    neardup: object | None = None
    #: compact the near-dup store's append-round small files every N
    #: micro-batches (the streaming twin of SyncEngine.sync_continuous
    #: compact_every — a year of hourly appends is ~140k store files
    #: otherwise). Runs at the END of _handle_batch, after the store
    #: append, so no append is in flight during the directory swap.
    #: Keyed on batch_id (durable in the streaming checkpoint), so a
    #: replayed batch re-triggers the same idempotent compaction
    #: instead of drifting the cadence.
    compact_store_every: int | None = None

    def _handle_batch(self, table: str, source_name: str, batch: DataFrame, batch_id: int) -> None:
        """One micro-batch: flatten, then land it like an incremental
        round (``engine.land_batch``: append → monotone state commit, with
        the near-dup store append last); empty batches are skipped."""
        out = flatten_es(batch, stringify=False)
        if self.id_field and self.id_field in out.columns and ID_COL not in out.columns:
            out = out.withColumn(ID_COL, F.col(self.id_field).cast("string"))
        if out.isEmpty():
            return
        stored = self.state.get(table)
        prior = SyncState(
            table_name=table,
            source_name=source_name,
            time_field=detect_time_field(out.columns),
            last_sync_time=stored.last_sync_time if stored else None,
        )

        def append(df: DataFrame) -> None:
            self.target.append(table, df)
            if self.ch_target is not None:
                # checkpoint-durable epoch: replayed batch → replayed tokens
                self.ch_target.append(table, df, epoch=f"{table}:{batch_id}")

        land_batch(out, prior, self.state, append, self.neardup)
        nd = self.neardup
        if (
            nd is not None
            and self.compact_store_every
            and (batch_id + 1) % self.compact_store_every == 0
            and hasattr(nd, "compact")
        ):
            nd.compact(self.spark)

    def file_stream(
        self,
        source_dir: str,
        table: str,
        schema,
        checkpoint_dir: str,
        trigger: dict | None = None,
    ):
        """Continuous sync of a parquet-file-arrival source.

        ``trigger``: e.g. ``{"processingTime": "60 seconds"}`` (reference
        default) or ``{"availableNow": True}`` (bounded catch-up, used in
        tests). Returns the StreamingQuery; caller owns awaiting/stopping.
        """
        stream = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 64)
            .parquet(source_dir)
        )
        writer = (
            stream.writeStream.foreachBatch(
                lambda batch, bid: self._handle_batch(table, source_dir, batch, bid)
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**(trigger or {"processingTime": "60 seconds"}))
        )
        return writer.start()
