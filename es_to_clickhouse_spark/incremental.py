"""Incremental-scan predicate builders + watermark computation (SURVEY P5-P7, A1-A2, T2-T5).

The reference compiles watermark filters into each source's native query
language (ES range DSL es/es_to_bytehouse.py:841-861; CH SQL WHERE
clickhouse/clickhouse_to_bytehouse.py:455-468; Mongo $gt filters
mongodb/mongodb_to_bytehouse.py:611-631). In Spark these are Column
predicates — Catalyst pushes them into the scan (parquet row-group pruning
/ JDBC WHERE / connector pushdown), so the same declarative filter is the
pushdown.

Watermarks advance via ``max()`` aggregates over the batch
(``batch_aggregate``, the Spark version of the reference's in-flight
running max, es/es_to_bytehouse.py:909-919).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: time-field autodetection candidates (es/es_to_bytehouse.py:156)
TIME_FIELD_CANDIDATES = [
    "timestamp",
    "@timestamp",
    "cTime",
    "StartTime",
    "ExecutionTime",
    "doc_time",
    "created_at",
    "updated_at",
    "_timestamp",
    "ts",  # testbed events table
    "o_orderdate",
    "l_shipdate",
]

#: update-time candidates (es/es_to_bytehouse.py:500)
UPDATE_FIELD_CANDIDATES = [
    "updated_at",
    "updateTime",
    "update_time",
    "modifiedAt",
    "modified_at",
    "lastModified",
]


def detect_time_field(columns: list[str], candidates: list[str] | None = None) -> str | None:
    """First candidate present in the schema (es/es_to_bytehouse.py:467-496).
    The reference's ``@timestamp``→``timestamp`` rebind (P13) is handled by
    checking sanitized names too."""
    cands = candidates or TIME_FIELD_CANDIDATES
    colset = set(columns)
    for c in cands:
        if c in colset:
            return c
        sanitized = c.replace("@", "")
        if sanitized in colset:
            return sanitized
    return None


def detect_update_time_field(columns: list[str]) -> str | None:
    return detect_time_field(columns, UPDATE_FIELD_CANDIDATES)


def watermark_predicate(
    time_field: str,
    since,
    update_field: str | None = None,
    since_update=None,
) -> Column:
    """Strictly-greater watermark; with an update field, the OR-of-ranges
    re-fetch of updated docs (es/es_to_bytehouse.py:841-861, minimum_should_match=1)."""
    pred = F.col(time_field) > F.lit(since)
    if update_field and since_update is not None:
        pred = pred | (F.col(update_field) > F.lit(since_update))
    return pred


def keyset_predicate(id_field: str, last_id, dtype=None) -> Column:
    """Mongo-style keyset watermark ``_id > last``
    (mongodb/mongodb_to_bytehouse.py:611-631).

    ``dtype`` (a Spark DataType or DDL string): cast the stored string
    watermark back to the column's NATIVE type before comparing, so
    numeric ids compare numerically — a lexicographic string compare
    breaks on them ('100' < '99', skipping every id that grows a digit).
    String comparison is only safe for fixed-width ids like Mongo's
    24-hex ObjectIds."""
    lit = F.lit(last_id)
    if dtype is not None:
        lit = lit.cast(dtype)
    return F.col(id_field) > lit


def batch_aggregate(
    time_field: str | None = None,
    update_field: str | None = None,
    id_field: str | None = None,
) -> list[Column]:
    """A batch's count and watermark maxima as aggregate columns named
    like ``SyncState.advance``'s parameters: ``n``, ``max_t``, ``max_u``,
    ``max_id`` (one per given field). The maxima are cast to string, the
    state table's watermark type. Partial-aggregated in one job, or
    riding a write as an Observation (replaces the reference's per-row
    running max, es/es_to_bytehouse.py:909-919)."""
    cols = [F.count(F.lit(1)).alias("n")]
    for alias, name in (("max_t", time_field), ("max_u", update_field), ("max_id", id_field)):
        if name:
            cols.append(F.max(name).cast("string").alias(alias))
    return cols
