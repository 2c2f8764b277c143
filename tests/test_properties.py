"""Property-based tests (hypothesis) — SURVEY §5.4.

Fast, Spark-free properties over the pure schema/name functions, plus one
bounded data-level determinism check for the ES flatten. The reference's
behaviors under test:

- name sanitization (es/es_to_bytehouse.py:283-285,548-549;
  mongodb/mongodb_to_bytehouse.py:310-311; table rule :738-745)
- glob matching (clickhouse/clickhouse_to_bytehouse.py:83-98)
"""

from __future__ import annotations

import pytest
import fnmatch

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from es_to_clickhouse_spark.functions import (
    match_names,
    sanitize_field_name,
    sanitize_table_name,
)

name_chars = st.text(
    alphabet=st.sampled_from("abcXYZ019.-@$_"), min_size=1, max_size=20
)


@given(name_chars)
def test_sanitize_es_removes_specials(name):
    out = sanitize_field_name(name, "es")
    assert "." not in out and "-" not in out and "@" not in out
    # idempotent
    assert sanitize_field_name(out, "es") == out


@given(name_chars)
def test_sanitize_mongo_removes_specials(name):
    out = sanitize_field_name(name, "mongo")
    assert "." not in out and "-" not in out and "$" not in out
    assert sanitize_field_name(out, "mongo") == out
    # length is preserved (every rule is 1:1 replacement, no deletion)
    assert len(out) == len(name)


@given(name_chars)
def test_sanitize_table_digit_rule(name):
    out = sanitize_table_name(name, "es")
    assert not out or not out[0].isdigit()  # idx_ prefix applied
    mongo = sanitize_table_name(name, "mongo")
    assert "." not in mongo and "-" not in mongo


plain_names = st.lists(
    st.text(alphabet=st.sampled_from("abc_123"), min_size=1, max_size=8),
    max_size=8,
)


@given(plain_names, st.text(alphabet=st.sampled_from("abc*?,_1"), max_size=10))
def test_match_names_subset_and_fnmatch_parity(names, patterns):
    got = match_names(names, patterns)
    pats = [p.strip() for p in patterns.split(",") if p.strip()]
    matching = {
        n for n in names if any(n == p or fnmatch.fnmatch(n, p) for p in pats)
    }
    # exactly the fnmatch-matching names, input-order-preserving, deduped
    assert got == [n for n in dict.fromkeys(names) if n in matching]


# -- upsert determinism under physical layout (hypothesis) ---------------


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # key
            st.integers(min_value=0, max_value=2),   # version (ties likely)
            st.text(alphabet="abc", min_size=0, max_size=3),  # payload
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(
    max_examples=15,
    deadline=None,
    # the spark fixture is getOrCreate-per-test (conftest, r10 recycle
    # support) — same live session every example, so the reset-between-
    # examples concern this check guards against does not apply
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow  # r15: driver test-gate budget
def test_upsert_view_layout_invariant(spark, rows):
    """Content-stable tie-break property: for ANY multiset of
    (key, version, payload) rows — duplicate keys, tied versions,
    identical rows — the upsert winner set is identical across partition
    layouts and input row orders."""
    from es_to_clickhouse_spark.sink import upsert_view

    def result(df):
        return sorted(
            (r.k, r.v, r.p) for r in upsert_view(df, "k", "v").collect()
        )

    base = spark.createDataFrame(rows, "k int, v int, p string")
    expected = result(base)
    shuffled = spark.createDataFrame(list(reversed(rows)), "k int, v int, p string")
    assert result(shuffled.repartition(5)) == expected
    assert result(base.coalesce(1)) == expected


# -- ES mapping flatten properties (hypothesis) --------------------------

_field_names = st.text(
    alphabet="abz.-@", min_size=1, max_size=6
).filter(lambda s: s.replace(".", "_").replace("-", "_").replace("@", ""))

_es_types = st.sampled_from(["keyword", "long", "date", "boolean", "double"])


def _mappings(depth):
    leaf = st.dictionaries(
        _field_names, st.fixed_dictionaries({"type": _es_types}), max_size=3
    )
    if depth == 0:
        return leaf
    return st.dictionaries(
        _field_names,
        st.one_of(
            st.fixed_dictionaries({"type": _es_types}),
            st.builds(lambda p: {"properties": p}, _mappings(depth - 1)),
        ),
        max_size=3,
    )


@given(_mappings(2))
@settings(max_examples=30, deadline=None)
def test_flatten_mapping_properties(props):
    """Every flattened name is fully sanitized (no . - @), every value is
    a leaf es type, and leaf COUNT is preserved for collision-free
    mappings (flatten never invents or silently drops typed leaves)."""
    from es_to_clickhouse_spark.sources.es import flatten_mapping

    flat = flatten_mapping(props)
    for name, es_type in flat.items():
        assert not any(ch in name for ch in ".-@")
        assert es_type in {"keyword", "long", "date", "boolean", "double"}

    def count_leaves(node, prefix=""):
        names = []
        for k, v in node.items():
            full = (f"{prefix}_{k}" if prefix else k)
            full = full.replace(".", "_").replace("-", "_").replace("@", "")
            if "properties" in v:
                names.extend(count_leaves(v["properties"], full))
            elif "type" in v:
                names.append(full)
        return names

    leaves = count_leaves(props)
    if len(set(leaves)) == len(leaves):  # no post-sanitize collisions
        assert len(flat) == len(leaves)


# ------------------------------------------- r5 operator properties


intervals = st.lists(
    st.tuples(st.integers(0, 60), st.integers(1, 25)), min_size=1, max_size=30
)


@given(intervals)
@settings(
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,  # getOrCreate fixture, see above
    ],
    deadline=None,
    max_examples=12,
)
def test_merge_intervals_matches_serial_sweep(spark, ivals):
    """merge_intervals == the obvious single-threaded sweep, for random
    overlap patterns (duplicates, nesting, touching, gaps)."""
    from es_to_clickhouse_spark.operators.ordered import merge_intervals

    rows = [(1, s, s + ln) for s, ln in ivals]
    df = spark.createDataFrame(rows, "k long, s long, e long")
    got = sorted(
        (r.s, r.e, r.n_members)
        for r in merge_intervals(df, ["k"], "s", "e").collect()
    )

    want = []
    for s, e in sorted((s, s + ln) for s, ln in ivals):
        if want and s <= want[-1][1]:
            want[-1][1] = max(want[-1][1], e)
            want[-1][2] += 1
        else:
            want.append([s, e, 1])
    assert got == [tuple(w) for w in want]


funnel_events = st.lists(
    st.tuples(st.integers(0, 50), st.sampled_from("abcx")),
    min_size=1,
    max_size=25,
)


@given(funnel_events)
@settings(
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,  # getOrCreate fixture, see above
    ],
    deadline=None,
    max_examples=12,
)
def test_window_funnel_matches_bruteforce(spark, evs):
    """window_funnel == brute force over every (a, b, c) index triple:
    ordered, within the window of the chain's own anchor."""
    import pyspark.sql.functions as F

    from es_to_clickhouse_spark.operators.funnel import window_funnel

    W = 20
    rows = [(i, ts, 1, et) for i, (ts, et) in enumerate(evs)]
    df = spark.createDataFrame(rows, "event_id long, us long, user_id long, et string")
    got = {
        r.user_id: r.funnel_level
        for r in window_funnel(
            df,
            key_col="user_id",
            ts_col="us",
            order_cols=["event_id"],
            conds=[F.col("et") == c for c in "abc"],
            window=W,
        ).collect()
    }[1]

    # brute force: sort by (us, event_id) — the operator's tie order
    seq = sorted(rows, key=lambda r: (r[1], r[0]))
    best = 0
    n = len(seq)
    for i in range(n):
        if seq[i][3] != "a":
            continue
        best = max(best, 1)
        for j in range(i + 1, n):
            if seq[j][3] != "b" or seq[j][1] - seq[i][1] > W:
                continue
            best = max(best, 2)
            for k in range(j + 1, n):
                if seq[k][3] == "c" and seq[k][1] - seq[i][1] <= W:
                    best = max(best, 3)
    assert got == best


# ------------------------------------------------------- docs and bench


def test_doc_counts_match_corpus():
    """README and COVERAGE.md quote the corpus size; generate the number
    from len(all_queries()) so the docs can't rot again (VERDICT r5 #7:
    README said 201 and COVERAGE 198 while the corpus was 248)."""
    import re

    from es_to_clickhouse_spark.corpus import all_queries

    n = len(all_queries())
    readme = open("/root/repo/README.md").read()
    assert f"{n} oracle-checked queries" in readme
    assert f"**{n} pass, 0 fail, 0 rows-only**" in readme
    coverage = open("/root/repo/COVERAGE.md").read()
    assert re.search(rf"— {n} queries,", coverage)


def test_bench_compact_line_fits_tail_window():
    """The round artifact keeps only the last 2000 characters of bench
    stdout. The printed line must stay under that for the full 28-query
    headline at long timings, carry every compact key, and leave the
    side-file maps out."""
    import json as _json

    import bench

    assert len(bench.HEADLINE) == 28 and len(bench.HEAVY) == 22
    full = {k: 12345.678 for k in bench.COMPACT_KEYS}
    full.update(metric="headline_query_total", unit="sec", sf=0.1)
    full["queries"] = {q: 12345.678 for q in bench.HEADLINE}
    full["heavy_queries"] = {q: 12345.678 for q in bench.HEAVY}
    line = bench.compact_line(full)
    assert len(line) < 2000, len(line)
    rec = _json.loads(line)
    assert tuple(rec) == bench.COMPACT_KEYS
    assert rec["queries"] == full["queries"]
