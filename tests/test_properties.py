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


# -------------------------------------------- bench regression basis


def test_bench_prior_parser_recovers_truncated_tail():
    """The driver sometimes records a round's bench as {"parsed": null,
    "tail": "<truncated stdout>"} (rounds 4-5 were). The baseline parser
    must salvage the flat timing maps from the tail text — silently
    dropping them erases the heavy-set regression baseline."""
    import bench

    rec = {
        "parsed": None,
        "tail": 'ume": 0.03}, "queries": {"a": 1.5, "b": 0.25}, '
        '"heavy_queries": {"c": 2.75}, "sf": 0.1}\n',
    }
    maps = bench._timing_maps(rec)
    assert {"a": 1.5, "b": 0.25} in maps
    assert {"c": 2.75} in maps
    # flat + parsed shapes still work
    assert bench._timing_maps({"queries": {"x": 1.0}}) == [{"x": 1.0}]
    assert bench._timing_maps({"parsed": {"heavy_queries": {"y": 2.0}}}) == [
        {"y": 2.0}
    ]


def test_bench_prior_parser_recovers_midmap_truncation():
    """r11's driver tail starts INSIDE the heavy_queries median map, so
    neither median-map key survives — but the complete *_min maps later
    in the line do. The salvage must fall back to those (min-basis is a
    valid, slightly-tight prior: best_prior already takes mins), else
    every BASELINE_RESETS=11 query loses its regression baseline and
    the coverage guard goes red (judge r11 #1)."""
    import bench

    rec = {
        "parsed": None,
        "tail": 'r": 0.646, "sim6_knn_graph": 0.488, "d14_semantic_dedup":'
        ' 5.202}, "heavy_queries_min": {"sim6_knn_graph": 0.41,'
        ' "d19_incremental_neardup": 0.069}, "heavy_queries_stddev":'
        ' {"sim6_knn_graph": 0.02}, "heavy_min_total": 26.58, "sf": 0.1}\n',
    }
    maps = bench._timing_maps(rec)
    assert {"sim6_knn_graph": 0.41, "d19_incremental_neardup": 0.069} in maps
    # the stddev map is NOT a timing map and must not be salvaged
    assert {"sim6_knn_graph": 0.02} not in maps
    # a median map that DID survive wins; mins are not mixed in
    rec2 = {
        "parsed": None,
        "tail": '"heavy_queries": {"a": 1.0}, "heavy_queries_min":'
        ' {"a": 0.5}}\n',
    }
    assert bench._timing_maps(rec2) == [{"a": 1.0}]
    # and the REAL r11 record now yields priors for the reset queries
    import os

    here = os.path.dirname(os.path.abspath(bench.__file__))
    r11 = os.path.join(here, "BENCH_r11.json")
    if os.path.exists(r11):
        import json as _json

        got = bench._timing_maps(_json.load(open(r11)))
        names = {k for m in got for k in m}
        assert {"sim6_knn_graph", "d14_semantic_dedup",
                "d19_incremental_neardup"} <= names


def test_bench_prior_baseline_covers_heavy_set():
    """Every HEAVY query must have a non-empty comparison basis from the
    committed BENCH_r*.json records (r5 was the first heavy recording;
    it lives only in a truncated tail) — otherwise the regression gate
    for the real cost centers is vacuous. EXCEPTION: a query whose
    BASELINE_RESETS round is newer than every committed recording has
    no valid prior BY DESIGN (the rewrite that reset it shipped this
    round; the next driver recording re-seeds its baseline) — require
    that the reset round explains the gap instead of masking rot."""
    import glob
    import os
    import re

    import bench

    here = os.path.dirname(os.path.abspath(bench.__file__))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    latest = max(rounds) if rounds else 0
    prior = bench.best_prior_per_query(here)
    missing = [
        q
        for q in bench.HEAVY
        if q not in prior and bench.BASELINE_RESETS.get(q, 0) <= latest
    ]
    assert not missing, f"heavy queries with no regression baseline: {missing}"
    assert all(v > 0 for v in prior.values())


def test_bench_prior_reads_local_recordings_and_r12_tail_shape():
    """judge r12 #1: BENCH_r12.json's 2000-char tail starts inside
    heavy_queries_stddev and the 9-entry regressions map ate the rest —
    NO complete flat timing map survives. The salvage must (a) return
    nothing from such a tail (never mis-assign stddev/regression values
    as timings) and (b) the baseline must instead come from the
    builder's committed complete bench_r{N}_local.json recording."""
    import json as _json
    import os
    import tempfile

    import bench

    # (a) the r12 truncation shape: tail opens mid-stddev-map, then a
    # NESTED regressions map — neither is a salvageable flat timing map
    rec = {
        "parsed": None,
        "tail": 'up": 0.096, "d18_embedding_neardup_cell": 0.513}, '
        '"heavy_min_total": 37.09, "regressions": {"d17_dup_profile": '
        '{"median": 2.9, "min": 2.8, "best_prior_normalized": 0.97, '
        '"ratio": 2.98}}, "floor_stable": true, "sf": 0.1}\n',
    }
    assert bench._timing_maps(rec) == []

    # the REAL r12 driver artifact, if present, must also salvage to
    # nothing (this is the exact shape that broke the r12 guard)
    here = os.path.dirname(os.path.abspath(bench.__file__))
    r12 = os.path.join(here, "BENCH_r12.json")
    if os.path.exists(r12):
        real = _json.load(open(r12))
        if real.get("parsed") is None and "tail" in real:
            for m in bench._timing_maps(real):
                assert all(isinstance(v, (int, float)) for v in m.values())

    # (b) the local recording fills the hole the truncated tail left
    with tempfile.TemporaryDirectory() as d:
        with open(f"{d}/BENCH_r12.json", "w") as f:
            _json.dump(rec, f)
        with open(f"{d}/bench_r12_local.json", "w") as f:
            _json.dump(
                {"queries": {"qa": 1.0},
                 "heavy_queries": {"d14_semantic_dedup": 4.0},
                 "noise_floor": {"median": 0.3}}, f,
            )
        prior = bench.best_prior_per_query(d)
        assert prior["d14_semantic_dedup"] == 4.0
        assert prior["qa"] == 1.0

    # and the real tree: every HEAVY query has a prior even with the
    # truncated BENCH_r12.json present (the round-boundary guard's
    # failure mode at r11 AND r12)
    prior = bench.best_prior_per_query(here)
    for q in ("d14_semantic_dedup", "d19_incremental_neardup",
              "d18_embedding_neardup_cell"):
        assert q in prior, f"{q} lost its baseline again"

    # window accounting: BENCH_r12 + bench_r12_local are ONE round, not
    # two — duplicates must not shrink the PRIOR_WINDOW of distinct rounds
    with tempfile.TemporaryDirectory() as d:
        for rnd in range(1, bench.PRIOR_WINDOW + 2):
            with open(f"{d}/BENCH_r{rnd:02d}.json", "w") as f:
                _json.dump({"queries": {f"q{rnd}": 1.0}}, f)
            with open(f"{d}/bench_r{rnd}_local.json", "w") as f:
                _json.dump({"queries": {f"q{rnd}": 1.0}}, f)
        prior = bench.best_prior_per_query(d)
        # oldest round aged out, newest PRIOR_WINDOW rounds present
        assert "q1" not in prior
        assert f"q{bench.PRIOR_WINDOW + 1}" in prior


def test_bench_compute_floor_normalization():
    """judge r12 #3: the scheduler-bound w1 floor was stable in all
    three r12 runs while the heavy phase ran 1.3x apart — heavy-set
    priors must scale by the COMPUTE-bound calibration ratio when both
    sides recorded it, falling back to the w1 ratio for pre-r13
    records."""
    import json as _json
    import tempfile

    import bench

    # extraction across record shapes
    assert bench._compute_floor_median({"compute_floor": {"median": 2.5}}) == 2.5
    assert (
        bench._compute_floor_median(
            {"parsed": {"compute_floor": {"median": 2.0}}}
        )
        == 2.0
    )
    assert (
        bench._compute_floor_median(
            {"parsed": None,
             "tail": '"compute_floor": {"rows": 1, "median": 2.25, "stddev": 0.1}'}
        )
        == 2.25
    )
    assert bench._compute_floor_median({"queries": {"a": 1.0}}) is None

    heavy_q = bench.HEAVY[0]
    with tempfile.TemporaryDirectory() as d:
        with open(f"{d}/BENCH_r13.json", "w") as f:
            _json.dump(
                {"queries": {"light_q": 1.0},
                 "heavy_queries": {heavy_q: 4.0},
                 "noise_floor": {"median": 0.3},
                 "compute_floor": {"median": 2.0}}, f,
            )
        # host now 1.5x slower on SUSTAINED compute (3.0 vs 2.0) but the
        # short w1 floor barely moved (0.33 vs 0.3) — exactly the r12
        # storm signature. Heavy prior scales by the compute ratio
        # (4.0 * 1.5 = 6.0); the light query stays on the w1 ratio
        # (1.0 * 1.1).
        norm = bench.best_prior_per_query(
            d, current_floor=0.33, current_compute=3.0
        )
        assert abs(norm[heavy_q] - 6.0) < 1e-9
        assert abs(norm["light_q"] - 1.1) < 1e-9
        # pre-r13 record (no compute floor): heavy falls back to w1 ratio
        with open(f"{d}/BENCH_r13.json", "w") as f:
            _json.dump(
                {"heavy_queries": {heavy_q: 4.0},
                 "noise_floor": {"median": 0.3}}, f,
            )
        norm = bench.best_prior_per_query(
            d, current_floor=0.33, current_compute=3.0
        )
        assert abs(norm[heavy_q] - 4.0 * 1.1) < 1e-9
        # faster compute clamps down like the w1 path
        with open(f"{d}/BENCH_r13.json", "w") as f:
            _json.dump(
                {"heavy_queries": {heavy_q: 4.0},
                 "noise_floor": {"median": 0.3},
                 "compute_floor": {"median": 2.0}}, f,
            )
        norm = bench.best_prior_per_query(
            d, current_floor=0.3, current_compute=1.0
        )
        assert abs(norm[heavy_q] - 4.0 * bench.DOWNSCALE_CLAMP) < 1e-9


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


def test_bench_noise_floor_normalization():
    """r8 VERDICT #5: a 1.5x-slower host day produced 19 false
    regressions because cross-round comparison ignored the recorded
    noise floor. best_prior_per_query(current_floor=...) must rescale
    each round's timings by current_floor/round_floor; rounds without
    a floor scale by the smallest recorded floor (r9 fix — unscaled
    fast-day minima from pre-floor rounds won the baseline min and
    re-manufactured the false regressions); the floor parses from
    parsed, flat, and truncated-tail record shapes."""
    import bench

    # floor extraction across record shapes
    assert bench._noise_floor_median({"noise_floor": {"median": 0.3}}) == 0.3
    assert (
        bench._noise_floor_median({"parsed": {"noise_floor": {"median": 0.4}}})
        == 0.4
    )
    assert (
        bench._noise_floor_median(
            {"parsed": None, "tail": '"noise_floor": {"query": "w1", "median": 0.302, "stddev": 0.04}'}
        )
        == 0.302
    )
    assert bench._noise_floor_median({"queries": {"a": 1.0}}) is None

    # normalization math against a synthetic BENCH history
    import json as _json
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        with open(f"{d}/BENCH_r01.json", "w") as f:
            _json.dump({"queries": {"qa": 2.0}}, f)  # pre-floor round
        with open(f"{d}/BENCH_r02.json", "w") as f:
            _json.dump(
                {"queries": {"qa": 1.0}, "noise_floor": {"median": 0.3}}, f
            )
        raw = bench.best_prior_per_query(d)
        assert raw["qa"] == 1.0
        # current machine 1.5x slower (floor 0.45): r02's 1.0s becomes
        # 1.5s equivalent; r01's floorless 2.0 scales by the smallest
        # known floor (0.3) to 3.0 — best is 1.5
        norm = bench.best_prior_per_query(d, current_floor=0.45)
        assert abs(norm["qa"] - 1.5) < 1e-9
        # faster machine scales priors DOWN (stricter gate) — but only
        # to the burst clamp (r11): 0.15/0.3 = 0.5 clamps to 0.8
        norm_fast = bench.best_prior_per_query(d, current_floor=0.15)
        assert abs(norm_fast["qa"] - 1.0 * bench.DOWNSCALE_CLAMP) < 1e-9

    # r9 fix pinned: a floorless round's FAST-day minimum must not win
    # the baseline unscaled on a slow day (that defeated the whole
    # normalization — observed as normalized == raw on 27 entries)
    with tempfile.TemporaryDirectory() as d:
        with open(f"{d}/BENCH_r01.json", "w") as f:
            _json.dump({"queries": {"qa": 1.0}}, f)  # fast day, no floor
        with open(f"{d}/BENCH_r02.json", "w") as f:
            _json.dump(
                {"queries": {"qa": 1.2}, "noise_floor": {"median": 0.3}}, f
            )
        norm_slow = bench.best_prior_per_query(d, current_floor=0.6)
        # r01: 1.0 * (0.6/0.3) = 2.0; r02: 1.2 * 2 = 2.4 -> best 2.0,
        # NOT the unscaled 1.0 that would flag a 1.9s median falsely
        assert abs(norm_slow["qa"] - 2.0) < 1e-9


def test_bench_baseline_reset_skips_pre_rewrite_rounds():
    """judge r9 dq6 adjudication: a query in BASELINE_RESETS ignores
    recordings from rounds before its reset round (they measured a
    deliberately-replaced plan), while other queries keep the full
    history; pre-reset-only history yields NO baseline (no flag) rather
    than the stale one."""
    import json as _json
    import tempfile

    import bench

    with tempfile.TemporaryDirectory() as d:
        with open(f"{d}/BENCH_r08.json", "w") as f:
            _json.dump({"queries": {"dq6_json_key_profile": 0.8,
                                    "other_q": 1.0}}, f)
        with open(f"{d}/BENCH_r09.json", "w") as f:
            _json.dump({"queries": {"dq6_json_key_profile": 1.3,
                                    "other_q": 1.2}}, f)
        assert bench.BASELINE_RESETS["dq6_json_key_profile"] == 9
        prior = bench.best_prior_per_query(d)
        # dq6: r08's 0.8 (old plan) skipped -> baseline is r09's 1.3
        assert prior["dq6_json_key_profile"] == 1.3
        # untouched queries keep the cross-round min
        assert prior["other_q"] == 1.0

    with tempfile.TemporaryDirectory() as d:
        with open(f"{d}/BENCH_r08.json", "w") as f:
            _json.dump({"queries": {"dq6_json_key_profile": 0.8}}, f)
        prior = bench.best_prior_per_query(d)
        assert "dq6_json_key_profile" not in prior


def test_bench_adjudicate_flags_verdicts(monkeypatch, tmp_path):
    """r10 VERDICT item 5: a bursty-floor flag gets a fresh-JVM
    re-measure and a verdict — noise when the solo min clears the gate
    against child-floor-normalized priors, real when it doesn't,
    unadjudicated when the child fails."""
    import json as _json
    import subprocess

    import bench

    # one prior round with a recorded floor of 0.4
    with open(tmp_path / "BENCH_r09.json", "w") as f:
        _json.dump(
            {"queries": {"qa": 1.0, "qb": 1.0},
             "noise_floor": {"median": 0.4}}, f,
        )
    child_out = _json.dumps(
        {"noise_median": 0.4,  # child floor == prior floor -> scale 1.0
         "remeasured": {"qa": {"min": 0.9, "median": 1.0},
                        "qb": {"min": 2.0, "median": 2.2}}}
    )

    def fake_run(cmd, **kw):
        assert "--remeasure" in cmd and "qa,qb" in cmd[-1]
        class R:
            stdout = child_out + "\n"
        return R()

    monkeypatch.setattr(subprocess, "run", fake_run)
    regs = {
        "qa": {"min": 1.8, "ratio": 1.8},   # solo 0.9 <= 1.5*1.0 -> noise
        "qb": {"min": 1.8, "ratio": 1.8},   # solo 2.0 >  1.5*1.0 -> real
    }
    bench.adjudicate_flags(regs, str(tmp_path))
    assert regs["qa"]["verdict"] == "noise" and regs["qa"]["remeasured"] == 0.9
    assert regs["qb"]["verdict"] == "real" and regs["qb"]["remeasured"] == 2.0

    # child failure -> flags stay, marked unadjudicated (never crashes)
    def broken_run(cmd, **kw):
        raise subprocess.TimeoutExpired(cmd, 1)

    monkeypatch.setattr(subprocess, "run", broken_run)
    regs = {"qa": {"min": 1.8}}
    bench.adjudicate_flags(regs, str(tmp_path))
    assert regs["qa"]["verdict"] == "unadjudicated"
    assert "remeasure_error" in regs["qa"]

    # child answered but missed a query -> that flag is unadjudicated
    def partial_run(cmd, **kw):
        class R:
            stdout = _json.dumps(
                {"noise_median": 0.4, "remeasured": {}}) + "\n"
        return R()

    monkeypatch.setattr(subprocess, "run", partial_run)
    regs = {"qa": {"min": 1.8}}
    bench.adjudicate_flags(regs, str(tmp_path))
    assert regs["qa"]["verdict"] == "unadjudicated"


def test_bench_adjudicate_borderline_band(monkeypatch, tmp_path):
    """Judge r13 #3: a remeasured min within BORDERLINE_BAND of the gate
    must never produce verdict "real" — it gets a SECOND independent
    child pass and, if still over the gate, the verdict "borderline"
    (b5's r13 "real" was 0.005 s — 0.8% — over the gate and exonerated
    by the judge's clean run; prose adjudication in commit messages is
    not machine-readable)."""
    import json as _json
    import subprocess

    import bench

    with open(tmp_path / "BENCH_r09.json", "w") as f:
        _json.dump(
            {"queries": {"qa": 1.0, "qb": 1.0},
             "noise_floor": {"median": 0.4}}, f,
        )
    # gate = 1.5, band top = 1.5 * 1.15 = 1.725
    assert bench._gate_verdict(1.5, 1.0) == "noise"
    assert bench._gate_verdict(1.51, 1.0) == "borderline"
    assert bench._gate_verdict(1.72, 1.0) == "borderline"
    assert bench._gate_verdict(1.73, 1.0) == "real"
    assert bench._gate_verdict(9.9, None) == "noise"  # no prior, no gate

    calls = []

    def fake_run(cmd, **kw):
        calls.append(cmd[-1])
        if len(calls) == 1:  # both flags land IN the band (1.505, 1.7)
            payload = {"noise_median": 0.4,
                       "remeasured": {"qa": {"min": 1.505, "median": 1.6},
                                      "qb": {"min": 1.7, "median": 1.8}}}
        else:  # second solo JVM: qa dissolves, qb reproduces in-band
            assert cmd[-1] == "qa,qb"
            payload = {"noise_median": 0.4,
                       "remeasured": {"qa": {"min": 0.9, "median": 1.0},
                                      "qb": {"min": 1.6, "median": 1.7}}}

        class R:
            stdout = _json.dumps(payload) + "\n"

        return R()

    monkeypatch.setattr(subprocess, "run", fake_run)
    regs = {"qa": {"min": 1.8}, "qb": {"min": 1.8}}
    bench.adjudicate_flags(regs, str(tmp_path))
    assert len(calls) == 2, "near-gate flags must trigger a second pass"
    assert regs["qa"]["verdict"] == "noise"  # second pass cleared it
    assert regs["qa"]["remeasured"] == 0.9
    assert regs["qa"]["remeasured_second"] == 0.9
    # reproduced over the gate but inside the band: borderline, NOT real
    assert regs["qb"]["verdict"] == "borderline"

    # a second-pass failure leaves the first-pass verdict standing
    calls2 = [0]

    def flaky_run(cmd, **kw):
        calls2[0] += 1
        if calls2[0] > 1:
            raise subprocess.TimeoutExpired(cmd, 1)

        class R:
            stdout = _json.dumps(
                {"noise_median": 0.4,
                 "remeasured": {"qa": {"min": 1.6, "median": 1.7}}}) + "\n"

        return R()

    monkeypatch.setattr(subprocess, "run", flaky_run)
    regs = {"qa": {"min": 1.8}}
    bench.adjudicate_flags(regs, str(tmp_path))
    assert regs["qa"]["verdict"] == "borderline"


def test_bench_prior_window_ages_out_fastday_outliers(tmp_path):
    """r11: the baseline uses only the most recent PRIOR_WINDOW rounds —
    a one-time fast-day recording older than the window must age out
    (best-ever priors permanently flagged stable code: g4 measured
    ~2.1 s by driver, builder and judge in every round since its 1.44 s
    r7-era outlier), while recordings inside the window still feed the
    min."""
    import json as _json

    import bench

    for rnd, sec in [(1, 0.5), (6, 2.0), (7, 1.9), (8, 2.1), (9, 2.0),
                     (10, 2.2)]:
        with open(tmp_path / f"BENCH_r{rnd:02d}.json", "w") as f:
            _json.dump({"queries": {"qa": sec}}, f)
    prior = bench.best_prior_per_query(str(tmp_path))
    # r01's 0.5 outlier is outside the 5-round window {6..10}
    assert prior["qa"] == 1.9


def test_bench_prior_downscale_clamp(tmp_path):
    """r11: a prior round with a burst-inflated floor must not scale its
    timings DOWN by the full floor ratio (that fabricates a baseline
    faster than anything ever measured raw); the clamp bounds the
    down-scale at DOWNSCALE_CLAMP while leaving the r8 up-scale
    direction (today slower) untouched."""
    import json as _json

    import bench

    with open(tmp_path / "BENCH_r09.json", "w") as f:
        _json.dump({"queries": {"qa": 2.0},
                    "noise_floor": {"median": 0.6}}, f)
    # today's floor 0.3 -> raw ratio 0.5, clamped to 0.8: 2.0*0.8 = 1.6
    fast = bench.best_prior_per_query(str(tmp_path), current_floor=0.3)
    assert abs(fast["qa"] - 2.0 * bench.DOWNSCALE_CLAMP) < 1e-9
    # today's floor 1.2 -> up-scale 2.0x, unclamped: 2.0*2.0 = 4.0
    slow = bench.best_prior_per_query(str(tmp_path), current_floor=1.2)
    assert abs(slow["qa"] - 4.0) < 1e-9


def test_bench_compact_line_fits_tail_window():
    """judge r14 #2: the round artifact keeps only the last 2000 chars
    of bench stdout, and r13's ~6 KB single JSON line truncated past
    recovery — the entire r13->r14 comparison was nulled. The printed
    line must (a) stay under 2000 chars on a REAL full record (r14's
    driver-parsed artifact is the fixture), (b) keep the contract
    fields, and (c) carry floor medians in the flat scalar shape the
    prior extractors now also read."""
    import json as _json
    import os

    import bench

    here = os.path.dirname(os.path.abspath(bench.__file__))
    full = _json.load(open(os.path.join(here, "BENCH_r14.json")))["parsed"]
    line = bench.compact_line(full)
    assert len(line) < 2000, len(line)
    rec = _json.loads(line)
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in rec, key
    assert rec["queries"] == full["queries"]
    # the flat floor scalars round-trip through the extractors
    assert bench._noise_floor_median(rec) == full["noise_floor"]["median"]
    assert (
        bench._compute_floor_median(rec) == full["compute_floor"]["median"]
    )
    # and from a truncated TAIL carrying the compact shape
    tail_rec = {"parsed": None, "tail": line[-500:]}
    assert bench._noise_floor_median(tail_rec) is not None
    # a pathologically bloated record still converges under 2000 by
    # dropping optional keys (contract fields are never dropped)
    big = dict(full)
    big["regressions"] = {
        f"q{i}_very_long_query_name_padding": {"verdict": "borderline"}
        for i in range(40)
    }
    line2 = bench.compact_line(big)
    assert len(line2) < 2000
    assert _json.loads(line2)["queries"] == full["queries"]
