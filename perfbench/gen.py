"""Deterministic load generator: every input the benchmark feeds the
program is derived here from the run's ``--seed``.

- :func:`write_corpus` writes the ten sf0.1-shaped testbed tables the
  query workloads read (same schemas, row counts and value ranges as the
  repository's sf0.1 testbed; uniform draws, as there).
- :class:`SyncSource` owns the ``sync-rounds`` source: a directory of
  ``<table>.parquet`` part directories that it seeds once and then grows
  by one batch per round, and the expected upsert-merged row set.
- :func:`es_docs` / :func:`es_batch` make the ``es-to-ch`` index: events
  documents for the bootstrap and per-round batches with newer times.

Batches are keyed by ``(seed, round)``, so a run may stop after any
number of rounds and the inputs of round ``k`` never depend on timing.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: row counts of the sf0.1 testbed
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

WORDS = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
LANGS = ["en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EPOCH = dt.datetime(1970, 1, 1)
US_PER_DAY = 86_400_000_000
EVENTS_T0 = dt.datetime(2024, 1, 1)
EVENTS_SPAN_US = 30 * US_PER_DAY


def rng(seed: int, *stream: int) -> np.random.Generator:
    """An independent generator per (seed, stream...) key (any integer
    seed; numpy takes non-negative ones)."""
    return np.random.default_rng([seed % (1 << 64), *stream])


def _us(t: dt.datetime) -> int:
    return (t - EPOCH) // dt.timedelta(microseconds=1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _pick(r: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[r.integers(0, len(choices), n)])


def _cents(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return r.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _day_range(r: np.random.Generator, first: dt.date, last: dt.date, n: int) -> pa.Array:
    d0 = _us(dt.datetime.combine(first, dt.time()))
    days = r.integers(0, (last - first).days + 1, n)
    return _ts(d0 + days * US_PER_DAY)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 22)


def events_table(seed: int, n: int, id0: int = 0, t0_us: int | None = None,
                 span_us: int = EVENTS_SPAN_US, stream: int = 0) -> pa.Table:
    """Events with ascending ids and times (exponential gaps over
    ``span_us`` starting after ``t0_us``)."""
    r = rng(seed, 1, stream)
    gaps = r.exponential(1.0, n)
    t0 = _us(EVENTS_T0) if t0_us is None else t0_us
    ts = t0 + 1 + np.floor(np.cumsum(gaps) / gaps.sum() * (span_us - 1)).astype("int64")
    return pa.table({
        "event_id": pa.array(np.arange(id0, id0 + n, dtype="int64")),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, 1500, n).astype("int64")),
        "event_type": _pick(r, EVENT_TYPES, n),
        "value": pa.array(np.round(r.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def orders_table(seed: int, n: int, id0: int = 0, stream: int = 0,
                 first: dt.date = dt.date(1995, 1, 1),
                 last: dt.date = dt.date(2001, 8, 1)) -> pa.Table:
    r = rng(seed, 2, stream)
    return pa.table({
        "o_orderkey": pa.array(np.arange(id0, id0 + n, dtype="int64")),
        "o_custkey": pa.array(r.integers(0, ROWS["customer"], n).astype("int64")),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_cents(r, 1000.0, 500000.0, n)),
        "o_orderdate": _day_range(r, first, last, n),
        "o_orderpriority": _pick(r, PRIORITIES, n),
    })


def lineitem_table(seed: int, n: int, stream: int = 0,
                   first: dt.date = dt.date(1995, 1, 2),
                   last: dt.date = dt.date(2001, 11, 4)) -> pa.Table:
    r = rng(seed, 3, stream)
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, ROWS["orders"], n).astype("int64")),
        "l_partkey": pa.array(r.integers(0, ROWS["part"], n).astype("int64")),
        "l_suppkey": pa.array(r.integers(0, ROWS["supplier"], n).astype("int64")),
        "l_linenumber": pa.array(r.integers(1, 8, n).astype("int32")),
        "l_quantity": pa.array(r.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(_cents(r, 900.0, 105000.0, n)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], n),
        "l_linestatus": _pick(r, ["F", "O"], n),
        "l_shipdate": _day_range(r, first, last, n),
    })


def customer_table(seed: int) -> pa.Table:
    n = ROWS["customer"]
    r = rng(seed, 4)
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(r.integers(0, 25, n).astype("int32")),
        "c_acctbal": pa.array(_cents(r, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(r, SEGMENTS, n),
    })


def _documents(seed: int) -> pa.Table:
    n = ROWS["documents"]
    r = rng(seed, 5)
    vocab = np.asarray(WORDS, dtype=object)
    texts = [" ".join(vocab[r.integers(0, len(vocab), k)]) for k in r.integers(10, 101, n)]
    # ~5% near-duplicates (an earlier doc with one word replaced) and a
    # few exact copies, so the dedup operators have pairs to find
    for j in r.choice(np.arange(100, n), size=n // 20, replace=False):
        words = texts[r.integers(0, j)].split(" ")
        words[r.integers(0, len(words))] = "dup"
        texts[j] = " ".join(words)
    for j in r.choice(np.arange(100, n), size=8, replace=False):
        texts[j] = texts[r.integers(0, j)]
    lang = np.asarray(LANGS, dtype=object)[
        r.choice(len(LANGS), n, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    ]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype="int64")),
    })


def _embeddings(seed: int) -> pa.Table:
    n = ROWS["embeddings"]
    r = rng(seed, 6)
    v = r.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(r.integers(0, 10, n).astype("int32")),
    })


def write_corpus(root: str, seed: int) -> None:
    """The ten testbed tables as ``<root>/<table>.parquet`` files."""
    os.makedirs(root, exist_ok=True)
    r = rng(seed, 7)
    nation_regions = np.arange(25, dtype="int32") % 5
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(nation_regions),
        }),
        "customer": customer_table(seed),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ROWS["supplier"], dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ROWS["supplier"])]),
            "s_nationkey": pa.array(r.integers(0, 25, ROWS["supplier"]).astype("int32")),
            "s_acctbal": pa.array(_cents(r, -999.99, 9999.99, ROWS["supplier"])),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(ROWS["part"], dtype="int64")),
            "p_name": pa.array([
                f"{ADJ[a]} {NOUN[b]}"
                for a, b in r.integers(0, 8, (ROWS["part"], 2))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, ROWS["part"])]),
            "p_type": _pick(r, PART_TYPES, ROWS["part"]),
            "p_size": pa.array(r.integers(1, 51, ROWS["part"]).astype("int32")),
            "p_retailprice": pa.array(900.0 + (np.arange(ROWS["part"]) % 1000) / 10.0),
        }),
        "orders": orders_table(seed, ROWS["orders"]),
        "lineitem": lineitem_table(seed, ROWS["lineitem"]),
        "events": events_table(seed, ROWS["events"]),
        "documents": _documents(seed),
        "embeddings": _embeddings(seed),
    }
    for name, table in tables.items():
        _write(table, os.path.join(root, f"{name}.parquet"))


# -- sync-rounds source ------------------------------------------------------

#: per active round: (new rows, re-delivered keys) for each growing table
BATCH = {"events": (2_000, 200), "orders": (500, 100)}
#: the time column that orders each table's watermark
TIME_COL = {"events": "ts", "orders": "o_orderdate", "lineitem": "l_shipdate"}
#: the payload column whose cent total the correctness check compares
VALUE_COL = {"events": "value", "orders": "o_totalprice", "lineitem": "l_extendedprice"}
#: bootstrap rows of the source tables (sf0.1-shaped, sized so a run
#: fits the benchmark's time budget); lineitem never grows
SYNC_ROWS = {"events": 30_000, "orders": 30_000, "lineitem": 15_000}
#: round kinds repeat with this period: the last round of each period is
#: idle (no table receives rows); the one before it ends with a compaction
ROUND_PERIOD = 3
#: events batches from this round on carry an extra column
NEW_COLUMN_ROUND = 2


def round_is_idle(k: int) -> bool:
    return k % ROUND_PERIOD == 0


def compacts_after(k: int) -> bool:
    return k % ROUND_PERIOD == ROUND_PERIOD - 1


class SyncSource:
    """The ``sync-rounds`` source tables and their expected merged state.

    Each table has an ``_id`` key and a ``rev`` column (0 at bootstrap,
    ``k`` for rows written before round ``k``). Round ``k`` appends new
    keys plus re-deliveries of existing keys whose time is newer than
    anything synced so far, so the engine's watermark picks both up and
    the target's last-write-wins read must keep the re-delivered version.
    ``lineitem`` never grows: it is idle in every round."""

    def __init__(self, root: str, seed: int):
        self.root = root
        self.seed = seed
        #: per table, arrays indexed by ``_id`` (keys are dense from 0)
        self.expected: dict[str, dict[str, np.ndarray]] = {}
        self.max_time: dict[str, int] = {}
        self.next_id: dict[str, int] = {}

    def tables(self) -> list[str]:
        return sorted(VALUE_COL)

    def _append(self, table: str, data: pa.Table, part: str) -> None:
        d = os.path.join(self.root, f"{table}.parquet")
        os.makedirs(d, exist_ok=True)
        _write(data, os.path.join(d, f"part-{part}.parquet"))
        ids = data.column("_id").to_numpy()
        revs = data.column("rev").to_numpy()
        cents = np.round(data.column(VALUE_COL[table]).to_numpy() * 100).astype("int64")
        extra = (
            data.column("channel").is_valid().to_numpy(zero_copy_only=False)
            if "channel" in data.column_names
            else np.zeros(len(ids), dtype=bool)
        )
        exp = self.expected.setdefault(table, {
            "rev": np.zeros(0, "int64"), "cents": np.zeros(0, "int64"), "extra": np.zeros(0, bool),
        })
        size = int(ids.max()) + 1
        if size > len(exp["rev"]):
            for key, arr in exp.items():
                exp[key] = np.concatenate([arr, np.zeros(size - len(arr), arr.dtype)])
        exp["rev"][ids] = revs
        exp["cents"][ids] = cents
        exp["extra"][ids] = extra
        if table in TIME_COL:
            t = data.column(TIME_COL[table]).cast(pa.int64()).to_numpy()
            self.max_time[table] = max(self.max_time.get(table, 0), int(t.max()))
        self.next_id[table] = max(self.next_id.get(table, 0), int(ids.max()) + 1)

    @staticmethod
    def _keyed(data: pa.Table, ids: np.ndarray, rev: int) -> pa.Table:
        return data.append_column("_id", pa.array(ids.astype("int64"))).append_column(
            "rev", pa.array(np.full(len(ids), rev, dtype="int32"))
        )

    def seed_tables(self) -> int:
        """Bootstrap contents (``SYNC_ROWS``). Returns the row count."""
        n = 0
        seeds = {
            "events": events_table(self.seed, SYNC_ROWS["events"]),
            "orders": orders_table(self.seed, SYNC_ROWS["orders"]),
            "lineitem": lineitem_table(self.seed, SYNC_ROWS["lineitem"]),
        }
        for table, data in seeds.items():
            ids = np.arange(data.num_rows)
            self._append(table, self._keyed(data, ids, 0), "00000")
            n += data.num_rows
        return n

    def write_round(self, k: int) -> int:
        """Write round ``k``'s batches (nothing on idle rounds). Returns
        the number of source rows written."""
        if round_is_idle(k):
            return 0
        n = 0
        for ti, (table, (n_new, n_redo)) in enumerate(sorted(BATCH.items())):
            r = rng(self.seed, 100, k, ti)
            start = self.next_id[table]
            redo = r.choice(start, size=n_redo, replace=False)
            ids = np.concatenate([np.arange(start, start + n_new), np.sort(redo)])
            m = len(ids)
            # times strictly after everything already in the table
            after = self.max_time[table]
            if table == "events":
                data = events_table(self.seed, m, t0_us=after, span_us=600_000_000,
                                    stream=1000 + k).drop_columns(["event_id"])
                data = data.add_column(0, "event_id", pa.array(ids.astype("int64")))
                if k >= NEW_COLUMN_ROUND:
                    data = data.append_column(
                        "channel", _pick(r, ["web", "app", "api"], m)
                    )
            else:
                day = (EPOCH + dt.timedelta(microseconds=after)).date() + dt.timedelta(days=1)
                data = orders_table(self.seed, m, stream=1000 + k, first=day, last=day)
                data = data.set_column(0, "o_orderkey", pa.array(ids.astype("int64")))
            self._append(table, self._keyed(data, ids, k), f"{k:05d}")
            n += m
        return n

    def expected_summary(self, table: str) -> dict[str, int]:
        """The merged table's fingerprint: live keys, key and revision
        sums, payload cents and rows carrying the added column."""
        exp = self.expected[table]
        ids = np.arange(len(exp["rev"]), dtype="int64")
        return {
            "n": len(ids),
            "ids": int(ids.sum()),
            "id_rev": int((ids * exp["rev"]).sum()),
            "cents": int(exp["cents"].sum()),
            "extra": int(exp["extra"].sum()),
        }

    def expected_watermark(self, table: str) -> dt.datetime:
        return EPOCH + dt.timedelta(microseconds=self.max_time[table])


# -- es-to-ch index -----------------------------------------------------------

ES_BOOTSTRAP_DOCS = 20_000
ES_ROUND_DOCS = 2_000
ES_MAPPING = {
    "event_id": {"type": "long"},
    "user_id": {"type": "long"},
    "event_type": {"type": "keyword"},
    "created_at": {"type": "date"},
    "value": {"type": "double"},
}


def _docs(data: pa.Table) -> list[dict]:
    secs = data.column("ts").cast(pa.int64()).to_numpy() // 1_000_000
    created = [
        (EPOCH + dt.timedelta(seconds=int(s))).strftime("%Y-%m-%d %H:%M:%S") for s in secs
    ]
    return [
        {
            "_id": str(e),
            "event_id": e,
            "user_id": u,
            "event_type": t,
            "created_at": c,
            "value": v,
        }
        for e, u, t, c, v in zip(
            data.column("event_id").to_pylist(),
            data.column("user_id").to_pylist(),
            data.column("event_type").to_pylist(),
            created,
            data.column("value").to_pylist(),
        )
    ]


def es_docs(seed: int) -> list[dict]:
    """The bootstrap index: sf0.1-shaped events as ES documents (a fifth
    of the sf0.1 row count, spread over the same month)."""
    return _docs(events_table(seed, ES_BOOTSTRAP_DOCS))


def es_batch(seed: int, k: int) -> list[dict]:
    """Round ``k``'s new documents: ids and times after round ``k-1``'s
    (one simulated hour per round, second-resolution times). Idle rounds
    add nothing."""
    if round_is_idle(k):
        return []
    t0 = _us(EVENTS_T0) + EVENTS_SPAN_US + k * 3_600_000_000
    data = events_table(seed, ES_ROUND_DOCS, id0=ES_BOOTSTRAP_DOCS + k * ES_ROUND_DOCS,
                        t0_us=t0, span_us=3_000_000_000, stream=2000 + k)
    return _docs(data)
