"""Scalar fidelity helpers (SURVEY §2.8).

The reference coerces every value to a string with *Python* semantics
(`str(True)` → ``"True"``, `bytes.hex()` → lowercase, `datetime.isoformat()`
with a ``T`` separator). Spark's defaults differ (``true``, uppercase hex,
space separator), so the engine owns one Column-expression helper per
coercion — all JVM-side expressions, no Python UDFs.

Reference behaviors re-expressed here:
- universal str() cast: es/es_to_bytehouse.py:573-574,
  mongodb/mongodb_to_bytehouse.py:331-332
- json.dumps(ensure_ascii=False): es/es_to_bytehouse.py:565,569
- isoformat: mongodb/mongodb_to_bytehouse.py:322-324
- bytes.hex(): mongodb/mongodb_to_bytehouse.py:325-327
- name sanitization: es/es_to_bytehouse.py:283-285,548-549;
  mongodb/mongodb_to_bytehouse.py:310-311
- table-name sanitization + idx_ digit prefix: es/es_to_bytehouse.py:738-745
- glob matching (fnmatch over comma-separated patterns):
  clickhouse/clickhouse_to_bytehouse.py:83-98
"""

from __future__ import annotations

import fnmatch
import json
import re
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def py_str(col: Column, dtype: T.DataType) -> Column:
    """`str(value)` with Python fidelity: booleans render True/False."""
    if isinstance(dtype, T.BooleanType):
        return F.when(col.isNull(), F.lit(None).cast("string")).when(
            col, F.lit("True")
        ).otherwise(F.lit("False"))
    if isinstance(dtype, T.BinaryType):
        return hex_lower(col)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        # NTZ renders identically under the UTC-pinned session; isoformat
        # fidelity (T separator, micros) applies to both flavors.
        return iso_ts(col)
    return col.cast("string")


def upper_bound_index_sql(cuts: list[float], key_sql: str) -> str:
    """Count of sorted ``cuts`` values <= ``key_sql`` (the bucket index
    for quantile-cut bucketizing), as ONE SQL string for ``F.expr``: a
    binary-search tree of nested CASE WHENs, so each row evaluates
    log2(len(cuts)) comparisons. NULL key yields bucket 0 (every
    comparison is null, hence falsy, and the search walks left).

    Never bucketize with ``F.size(F.filter(array, lambda x: x <= k))``:
    when that expression lands in a union child under a join, constraint
    inference (Union.rewriteConstraints) walks the lambda and crashes
    remapping its attribute references (a Spark 4 optimizer bug;
    regression test in tests/test_asof_ddl_sources.py). Plain comparisons
    rewrite fine. And build the tree as text, not as Column objects:
    every ``F.when``/``F.lit`` is one py4j round-trip, ~570 for 31 cuts,
    measured ~0.6 s of construction per global as-of join; parsing one
    string is one round-trip.

    ``key_sql`` must be a parse-ready SQL expression (quote column
    names with backticks); it is inlined at every comparison, so keep
    it a plain column reference — project a computed key into a column
    first. Cut literals carry the ``D`` double-literal suffix so they
    parse as DoubleType directly — a bare ``1.5`` parses as DECIMAL,
    and the resulting Cast(Literal(Decimal)) nodes measurably blow up
    the first execution (~10 s cold vs ~2 s in the j9 context)."""
    if not cuts:
        return "0"
    vals = sorted(float(c) for c in cuts)

    def lit(v: float) -> str:
        r = repr(v)
        # repr is shortest-round-trip; the D suffix needs a plain
        # mantissa[.fraction][Ee±exp] shape, which repr of a finite
        # float always is — guard anyway (anchored, so malformed shapes
        # like '1-2' or '3.4.5' fall through) and fall back to a folded
        # cast
        if re.fullmatch(r"-?\d+(\.\d+)?([eE][+-]?\d+)?", r):
            return f"{r}D"
        return f"CAST('{r}' AS DOUBLE)"

    def build(lo: int, hi: int) -> str:
        if lo == hi:
            return str(lo)
        mid = (lo + hi) // 2
        return (
            f"(CASE WHEN {lit(vals[mid])} <= {key_sql} "
            f"THEN {build(mid + 1, hi)} ELSE {build(lo, mid)} END)"
        )

    return build(0, len(vals))


def epoch_micros(col: Column) -> Column:
    """Exact integer epoch microseconds from ANY temporal column —
    TIMESTAMP, TIMESTAMP_NTZ, or DATE.

    `F.unix_micros` rejects TIMESTAMP_NTZ outright (Spark 4), and
    `cast("long")` on a timestamp is seconds, not micros. The
    `cast("timestamp")` below is a no-op on TIMESTAMP and converts
    NTZ/DATE via the session timezone, which this engine pins to UTC
    (session.py) — so the result is stable across clusters and matches
    DuckDB's `epoch_us` on naive data. Stays in codegen (no UDF)."""
    return F.unix_micros(col.cast("timestamp"))


def iso_ts(col: Column) -> Column:
    """`datetime.isoformat()`: ``2024-01-01T00:00:07.179575``."""
    return F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")


def ts_seconds(col: Column) -> Column:
    """Second-precision render used by oracle-compared outputs."""
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


def hex_lower(col: Column) -> Column:
    """`bytes.hex()` fidelity: Spark ``hex`` is uppercase; Python is lower."""
    return F.lower(F.hex(col))


def sanitize_field_name(name: str, dialect: str = "es") -> str:
    """Column-name sanitization.

    ES dialect (es/es_to_bytehouse.py:283-285): ``.``→``_``, ``-``→``_``,
    ``@`` deleted. Mongo dialect (mongodb/mongodb_to_bytehouse.py:310-311):
    ``.``→``_``, ``-``→``_``, ``$``→``_``.
    """
    out = name.replace(".", "_").replace("-", "_")
    if dialect == "es":
        out = out.replace("@", "")
    elif dialect == "mongo":
        out = out.replace("$", "_")
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return out


def sanitize_table_name(name: str, dialect: str = "es") -> str:
    """Table-name sanitization; ES prefixes digit-leading names with idx_
    (es/es_to_bytehouse.py:738-745); Mongo has no digit rule
    (mongodb/mongodb_to_bytehouse.py:493,834)."""
    out = name.replace("-", "_").replace(".", "_")
    if dialect == "es" and out and out[0].isdigit():
        out = f"idx_{out}"
    return out


def _print_line(line: dict) -> None:
    print(json.dumps(line))


def expand_patterns(
    patterns: str,
    names: list[str],
    seen_errors: set[str] | None = None,
    emit: Callable[[dict], None] = _print_line,
) -> tuple[list[str], int]:
    """Comma-separated glob/exact patterns against a listing
    (clickhouse/clickhouse_to_bytehouse.py:83-98): the matching names in
    listing order, deduped, and the number of patterns that matched
    nothing. Each such pattern is reported through ``emit`` as one line,
    ``{"table": p, "error": "table not found"}`` for a plain name or
    ``{"pattern": p, "error": "no match"}`` for a glob. The count is per
    call: a poll loop re-lists every round, so a name that appears
    mid-run stops counting once it matches. ``seen_errors``, carried by
    the caller across calls, reports each distinct line once."""
    pats = [p.strip() for p in (patterns or "").split(",") if p.strip()]
    hits = {p: {n for n in names if n == p or fnmatch.fnmatch(n, p)} for p in pats}
    seen = set() if seen_errors is None else seen_errors
    failures = 0
    for p, found in hits.items():
        if found:
            continue
        failures += 1
        if any(ch in p for ch in "*?["):
            line = {"pattern": p, "error": "no match"}
        else:
            line = {"table": p, "error": "table not found"}
        key = json.dumps(line, sort_keys=True)
        if key not in seen:
            emit(line)
            seen.add(key)
    matched = set().union(*hits.values())
    return [n for n in dict.fromkeys(names) if n in matched], failures


def match_names(names: list[str], patterns: str) -> list[str]:
    """The names :func:`expand_patterns` selects, reporting nothing."""
    return expand_patterns(patterns, names, emit=lambda line: None)[0]


def glob_filter_column(col: Column, patterns: str) -> Column:
    """The same comma-separated glob match as a Column predicate (P11)."""
    pats = [p.strip() for p in patterns.split(",") if p.strip()]
    if not pats:
        return F.lit(False)
    pred = None
    for p in pats:
        this = col.rlike(_anchored(fnmatch.translate(p)))
        pred = this if pred is None else (pred | this)
    return pred


def _anchored(py_regex: str) -> str:
    """fnmatch.translate emits ``(?s:...)\\Z``; Java regex via rlike is
    unanchored-substring, so wrap with ^...$ equivalents."""
    body = py_regex
    if body.endswith(r"\Z"):
        body = body[:-2] + "$"
    return "^" + body


_LEADING_DIGIT = re.compile(r"^[0-9]")


def is_system_name(name: str, dialect: str = "es") -> bool:
    """System-object filter: ``.``-prefixed ES indices
    (es/es_to_bytehouse.py:250-253) / ``system.``-prefixed Mongo collections
    (mongodb/mongodb_to_bytehouse.py:303-304)."""
    if dialect == "mongo":
        return name.startswith("system.")
    return name.startswith(".")
