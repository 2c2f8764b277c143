"""Watermark / checkpoint state: the ``_sync_state`` table (SURVEY T2, §1.1).

The reference persists one append-only state table per pipeline and reads
the latest row per source table:

- ES schema: index_name, table_name, time_field, update_time_field,
  last_sync_time, last_update_time, last_sync_count, updated_at
  (es/es_to_bytehouse.py:412-432); read = ``ORDER BY updated_at DESC
  LIMIT 1`` per index (:434-452); write = append (:454-465).
- CH schema: table_name, last_sync_time, last_update_time, sync_count,
  sync_time (clickhouse/clickhouse_to_bytehouse.py:159-203); read = max().
- Mongo schema: table_name, last_sync_time, last_id, sync_count, sync_time
  (mongodb/mongodb_to_bytehouse.py:218-262).

Here the state lives as an append-only parquet table inside the target
warehouse: one single-row part file per commit, and the latest row per
table (by ``updated_at``) wins, so a commit is a blind append — no
read-modify-write. The reference's INSERT and ORDER BY … DESC LIMIT 1 are
one cheap round trip each, so ``commit`` and ``get`` run on the driver
and fire no Spark job:

- ``commit`` serialises the row with pyarrow against the Arrow twin of
  ``STATE_SCHEMA`` (a mistyped field raises before any byte lands), writes
  it through the Hadoop FS API under a dot-prefixed temp name and renames
  it to ``part-<uuid>.parquet``. Spark and pyarrow skip dot-files, so a
  crash mid-write never exposes a partial part.
- ``get`` lists the directory on every call (so commits from other
  writers and restored snapshots are seen), parses only part files it has
  not seen before, forgets parts that vanished, and folds latest-by-
  ``updated_at``. Parts written by Spark carry naive ``updated_at`` values
  in the session time zone (UTC); they are read as UTC.

The files stay one queryable table: ``read_all`` / ``latest`` / ``status``
read it with Spark (the CLI ``status`` mode).

Watermarks are kept as *strings* in the table for reference parity
(lexicographic ISO compare — es/es_to_bytehouse.py:912,918); the source
predicates cast them back to the column type (SURVEY §7.4 risk 3), and
``SyncState.advance`` is the one rule that moves them.
"""

from __future__ import annotations

import uuid
from dataclasses import asdict, dataclass, fields, replace
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from es_to_clickhouse_spark import fsio

STATE_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("source_name", T.StringType()),
        T.StructField("time_field", T.StringType()),
        T.StructField("update_time_field", T.StringType()),
        T.StructField("last_sync_time", T.StringType()),
        T.StructField("last_update_time", T.StringType()),
        T.StructField("last_id", T.StringType()),
        T.StructField("last_sync_count", T.LongType()),
        T.StructField("updated_at", T.TimestampType()),
    ]
)
# updated_at becomes timestamp[us, tz=UTC], which Spark reads as TimestampType
ARROW_STATE_SCHEMA = to_arrow_schema(STATE_SCHEMA)


@dataclass
class SyncState:
    table_name: str
    source_name: str | None = None
    time_field: str | None = None
    update_time_field: str | None = None
    last_sync_time: str | None = None
    last_update_time: str | None = None
    last_id: str | None = None
    last_sync_count: int = 0

    def advance(
        self,
        n: int,
        max_t: str | None = None,
        max_u: str | None = None,
        max_id: str | None = None,
    ) -> SyncState:
        """The state to commit after landing ``n`` rows whose maxima of
        ``time_field``, ``update_time_field`` and the id are ``max_t``,
        ``max_u`` and ``max_id`` (``incremental.batch_aggregate`` names
        its columns so). Every mark only moves forward: a late-update
        batch (old time, caught by the update-time OR-clause) or a forced
        re-read below the stored mark has maxima under the stored marks,
        and committing them would re-fetch every newer row next round,
        forever. A missing maximum keeps the stored mark."""
        return replace(
            self,
            last_sync_time=_later(max_t, self.last_sync_time),
            last_update_time=_later(max_u, self.last_update_time),
            last_id=_later(max_id, self.last_id),
            last_sync_count=n,
        )


def _later(new: str | None, old: str | None) -> str | None:
    """The later of two string watermarks. Integers, bare or both under
    the Mongo ``int:`` type tag, compare as numbers ('99' > '100' as
    strings); anything else as strings, which is chronological for the
    fixed-width ISO text of a timestamp cast and exact for fixed-width
    ids."""
    if new is None or old is None:
        return old if new is None else new
    a, b = new, old
    if a.startswith("int:") and b.startswith("int:"):
        a, b = a[4:], b[4:]
    try:
        return new if int(a) > int(b) else old
    except ValueError:
        return new if new > old else old


class StateStore:
    """Append-only ``_sync_state`` parquet table under the warehouse root."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        # Hadoop-FS IO (fsio) so the warehouse root can be any URI
        # (file:// hdfs:// s3a://) — never driver-local os.* calls.
        self.path = fsio.join(warehouse, "_sync_state")
        fsio.mkdirs(spark, warehouse)
        self._parts: dict[str, list[dict]] = {}  # part name -> parsed rows

    def _exists(self) -> bool:
        return fsio.has_glob(self.spark, fsio.join(self.path, "*.parquet"))

    def read_all(self):
        if not self._exists():
            return self.spark.createDataFrame([], STATE_SCHEMA)
        return self.spark.read.schema(STATE_SCHEMA).parquet(self.path)

    def _refresh(self) -> None:
        names = {
            n
            for n in fsio.listdir(self.spark, self.path)
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        }
        self._parts = {n: rows for n, rows in self._parts.items() if n in names}
        for n in names - self._parts.keys():
            data = fsio.read_bytes(self.spark, fsio.join(self.path, n))
            table = pq.read_table(pa.BufferReader(data))
            i = table.schema.get_field_index("updated_at")
            # naive (Spark-written) values are UTC instants: the cast keeps them
            ts = table.column(i).cast(
                ARROW_STATE_SCHEMA.field("updated_at").type, safe=False
            )
            self._parts[n] = table.set_column(i, "updated_at", ts).to_pylist()

    def get(self, table_name: str) -> SyncState | None:
        self._refresh()
        rows = [
            r
            for part in self._parts.values()
            for r in part
            if r["table_name"] == table_name
        ]
        if not rows:
            return None
        r = max(rows, key=lambda r: r["updated_at"])
        st = SyncState(**{f.name: r[f.name] for f in fields(SyncState)})
        st.last_sync_count = st.last_sync_count or 0
        return st

    def commit(self, state: SyncState) -> None:
        """Append one watermark row (es/es_to_bytehouse.py:454-465) as its
        own part file, written from the driver: no Spark job, no read."""
        row = {**asdict(state), "updated_at": datetime.now(timezone.utc)}
        buf = pa.BufferOutputStream()
        pq.write_table(pa.Table.from_pylist([row], schema=ARROW_STATE_SCHEMA), buf)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = fsio.join(self.path, f".{name}.tmp")
        fsio.write_bytes(self.spark, tmp, buf.getvalue().to_pybytes())
        if not fsio.rename(self.spark, tmp, fsio.join(self.path, name)):
            raise OSError(f"state commit: rename {tmp} -> {name} failed")

    def status(self, limit: int = 10):
        """`--mode status` inspection: most recent commits first
        (clickhouse/clickhouse_to_bytehouse.py:205-224)."""
        return self.read_all().orderBy(F.desc("updated_at")).limit(limit)
