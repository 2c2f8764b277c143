"""Benchmark entry point.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed`` under ``.perfbench/`` (git-ignored), sets up the engine three
times (the median is ``setup_s``), runs the workload's closed loop for
``--seconds``, checks the outputs, and prints one JSON result as the last
stdout line: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``. See ``perfbench/README.md`` for what each metric means
on each workload.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["headline", "heavy", "sync", "sync-rounds", "es-to-ch"]
SETUPS = 3

#: the metrics ``--trace 0`` reports, on every workload
END_TO_END = {"setup_s": "s", "latency_s": "s", "throughput": "1/s", "cold_s": "s"}

SHARES = [
    "corpus.build", "spark.exec", "engine.round", "catalog.list", "catalog.read",
    "state.get", "state.commit", "sink.append", "sink.schema", "sink.compact",
    "sink.read", "es.sync", "ch_http.append",
]
SPARK = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_s": "s", "cpu_s": "s",
    "gc_s": "s", "input_mb": "MB", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
    "spill_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit. A
    time spent in a layer is given as its share of the traced loop's
    wall time (``<span>_self_share``), so a layer a workload bypasses
    reads 0 rather than an absent key."""
    from queries import HEADLINE

    units = {"session.start_s": "s"}
    units.update({f"spark.{k}": u for k, u in SPARK.items()})
    units["spark.busy_share"] = "share"
    units.update({f"{s}_self_share": "share" for s in SHARES})
    units["corpus.build_jobs"] = "count"
    units.update({f"query.{q}_share": "share" for q in HEADLINE})
    units.update({
        "state.rows": "count", "sink.files": "count", "sink.write_amp": "ratio",
        "es.pages": "count", "es.mb": "MB", "ch_http.inserts": "count",
        "ch_http.rows_in": "count", "ch_http.control_requests": "count",
        "fixture.busy_share": "share", "tracing.overhead_share": "share",
        "tracing.unattributed_share": "share",
    })
    return units


# -- environment ---------------------------------------------------------------

def pin_environment(work: str) -> dict[str, str]:
    """Pin what the program's processes inherit: the repository on the
    Python workers' path (``sys.path`` edits do not reach executors), one
    Spark core per host core, Spark and temp files inside ``work``."""
    cpus = str(len(os.sched_getaffinity(0)))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(paths),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })
    sys.path[:0] = [ROOT]
    return {"SPARK_GRAFT_CPUS": cpus, "SPARK_LOCAL_DIRS": local}


def descendants() -> list[int]:
    """Pids of every live descendant of this process, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Close the Spark gateway and wait until the JVM and every other
    process this run started have exited (the JVM exits when its stdin
    closes; its Python workers follow it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver, JVM, Python workers, fixture process), sampled from /proc."""

    def __init__(self, period_s: float = 0.25):
        self.peak = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(period_s,), daemon=True)
        self._thread.start()

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self, period_s: float) -> None:
        while not self._stop.wait(period_s):
            self.peak = max(self.peak, self._tree_rss())

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return max(self.peak, self._tree_rss()) / 2**20


# -- statistics ----------------------------------------------------------------

def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile that has at least
    ten samples beyond it; with fewer than 11 samples, the maximum."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def med(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def named(unit: str, value: float, tail_of: list[float] | None = None) -> dict:
    """A workload-named figure for the ``perfbench:`` line."""
    out = {"value": value, "unit": unit}
    if tail_of is not None:
        out["value"], out["percentile"], out["samples"] = tail(tail_of)
    return out


# -- set-up --------------------------------------------------------------------

def start_session(cpus: int, tmp: str):
    from es_to_clickhouse_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    return spark


def set_up(workload, cpus: int, tmp: str, excluded_s: float):
    """Set up ``SETUPS`` times; every set-up but the last stops its
    session again. The first runs from process start (less the input
    generation); the others reuse the running JVM."""
    setups, starts = [], []
    t0 = T_START
    spark = objs = None
    for i in range(SETUPS):
        if i:
            spark.stop()
            t0 = time.perf_counter()
            excluded_s = 0.0
        spark = start_session(cpus, tmp)
        starts.append(time.perf_counter() - t0 - excluded_s)
        objs = workload.build(spark)
        setups.append(time.perf_counter() - t0 - excluded_s)
    return spark, objs, setups, starts


# -- workloads -----------------------------------------------------------------

def run_queries(wl, seconds: float, tracer_factory, result: dict) -> None:
    """Check pass (cold), then timed passes until ``seconds`` elapse."""
    cold_s, bad = wl.check_pass()
    result["attempted"] += len(wl.names)
    result["failed"] += len(bad)
    result["info"]["check_failures"] = bad
    samples, passes = [], []
    units, tracer = [], None
    t_loop = time.perf_counter()
    while not passes or time.perf_counter() - t_loop < seconds:
        t_pass = time.perf_counter()
        for i, name in enumerate(wl.names):
            if tracer_factory is None:
                samples.append(wl.run_query(name))
                continue
            tracer = tracer or tracer_factory()
            # traced and untraced runs of the same query, order alternating
            order = (True, False) if i % 2 == 0 else (False, True)
            for traced_run in order:
                if traced_run:
                    with tracer.span("unit") as root:
                        wl.run_query(name, tracer)
                    spans = tracer.tree(root)
                    tracer.spark_counters(spans)
                    units.append(spans)
                else:
                    samples.append(wl.run_query(name))
        result["attempted"] += len(wl.names)
        passes.append(time.perf_counter() - t_pass)
    result["units"] = units
    if units:
        result["overhead"] = sum(u[0]["t1"] - u[0]["t0"] for u in units) / sum(samples) - 1
    result["e2e"].update({
        "latency_s": med(passes),
        "throughput": len(samples) / sum(samples),
        "cold_s": cold_s,
    })
    result["named"].update({
        "pass_s": named("s", med(passes)),
        "query_s_p50": named("s", med(samples)),
        "query_s_tail": named("s", 0.0, samples),
        "cold_pass_s": named("s", cold_s),
    })


def run_rounds(wl, objs, seconds: float, tracer_factory, spark, result: dict) -> None:
    """Bootstrap (cold), then rounds until ``seconds`` elapse and at least
    one full period of round kinds has run. A traced run runs two periods:
    the first traced, the second not, so the two can be compared."""
    import gen

    t0 = time.perf_counter()
    boot_rows = wl.bootstrap(objs)
    boot_s = time.perf_counter() - t0
    result["attempted"] += 1
    if boot_rows != wl.seed_rows:
        result["failed"] += 1
        result["info"]["check_failures"].append(f"bootstrap synced {boot_rows} of {wl.seed_rows}")
    tracer = tracer_factory() if tracer_factory else None
    traced_objs = wl.build(spark, tracer) if tracer else None
    written = wl.written_bytes()
    fixture0 = wl.counters()
    rounds, reads, units = [], [], []
    t_loop = time.perf_counter()
    k = 0
    min_rounds = gen.ROUND_PERIOD * (2 if tracer else 1)
    while k < min_rounds or time.perf_counter() - t_loop < seconds:
        k += 1
        expect = wl.prepare_round(k)
        use_trace = tracer is not None and (k - 1) // gen.ROUND_PERIOD % 2 == 0
        o = traced_objs if use_trace else objs
        t = time.perf_counter()
        if use_trace:
            with tracer.span("unit") as root:
                rows = wl.round(o, k, tracer)
        else:
            rows = wl.round(o, k)
        dt_round = time.perf_counter() - t
        result["attempted"] += 1
        if rows != expect:
            result["failed"] += 1
            result["info"]["check_failures"].append(f"round {k} synced {rows} of {expect}")
        rounds.append({"k": k, "s": dt_round, "rows": rows, "idle": gen.round_is_idle(k),
                       "traced": use_trace})
        if use_trace:
            spans = tracer.tree(root)
            tracer.spark_counters(spans)
            units.append(spans)
        written.update(wl.written_bytes())
        t = time.perf_counter()
        if use_trace:
            with tracer.span("unit") as root:
                wl.after_round(o, tracer)
            spans = tracer.tree(root)
            if len(spans) > 1:
                tracer.spark_counters(spans)
                units.append(spans)
        else:
            wl.after_round(o)
        reads.append(time.perf_counter() - t)
    bad = wl.check(objs)
    result["attempted"] += 1
    result["failed"] += len(bad)
    result["info"]["check_failures"].extend(bad)
    result["units"] = units
    result["rounds"] = rounds
    end = wl.counters()
    if end:
        result["fixture"] = {key: end[key] - fixture0.get(key, 0) for key in end}
        result["fixture"]["round_s"] = sum(r["s"] for r in rounds)
    counts = wl.layer_counts()
    if "sink.live_bytes" in counts:
        counts["sink.write_amp"] = sum(written.values()) / counts.pop("sink.live_bytes")
    result["layer_counts"] = counts
    active = [r for r in rounds if not r["idle"] and not r["traced"]] or [
        r for r in rounds if not r["idle"]
    ]
    idle = [r["s"] for r in rounds if r["idle"]]
    act_s = [r["s"] for r in active]
    rows_per_s = sum(r["rows"] for r in active) / sum(act_s)
    result["e2e"].update({"latency_s": med(act_s), "throughput": rows_per_s, "cold_s": boot_s})
    result["named"].update({
        "full_rows_per_s": named("rows/s", boot_rows / boot_s),
        "round_s_p50": named("s", med(act_s)),
        "round_s_tail": named("s", 0.0, act_s),
        "idle_round_s": named("s", med(idle)),
        "rows_per_s": named("rows/s", rows_per_s),
    })
    if wl.has_sink:
        result["named"]["upsert_read_s"] = named("s", med(reads))
    result["info"]["rounds"] = [[r["k"], round(r["s"], 3), r["rows"]] for r in rounds]
    result["info"]["bootstrap_parts_s"] = wl.boot_s
    if tracer is not None:
        # the first (traced) period against the second (untraced) one
        n = gen.ROUND_PERIOD
        result["overhead"] = (
            sum(r["s"] for r in rounds[:n]) / sum(r["s"] for r in rounds[n:2 * n]) - 1
        )


# -- per-layer metrics ---------------------------------------------------------

def layer_metrics(result: dict, cpus: int) -> dict[str, float]:
    from spans import self_times

    units = result.get("units", [])
    m = dict.fromkeys(per_layer_units(), 0.0)
    m["session.start_s"] = med(result["starts"])
    wall = sum(u[0]["t1"] - u[0]["t0"] for u in units)
    selfs: dict[str, float] = {}
    unattributed = 0.0
    for u in units:
        st = self_times(u)
        root = u[0]["t1"] - u[0]["t0"]
        unattributed = max(unattributed, st.pop("unit", 0.0) / root if root else 0.0)
        for name, v in st.items():
            selfs[name] = selfs.get(name, 0.0) + v
        for s in u:
            for key, v in s.get("spark", {}).items():
                m[f"spark.{key}"] += v
            if s["name"] == "corpus.build":
                m["corpus.build_jobs"] += s.get("spark", {}).get("jobs", 0)
            if s["name"].startswith("query.") and f"{s['name']}_share" in m:
                m[f"{s['name']}_share"] += (s["t1"] - s["t0"]) / wall
    for name in SHARES:
        m[f"{name}_self_share"] = selfs.get(name, 0.0) / wall if wall else 0.0
    m["spark.busy_share"] = m["spark.task_s"] / (wall * cpus) if wall else 0.0
    m.update(result.get("layer_counts", {}))
    fx = result.get("fixture")
    if fx:
        m["es.pages"] = fx["es_pages"]
        m["es.mb"] = fx["es_bytes"] / 2**20
        m["ch_http.inserts"] = fx["ch_inserts"]
        m["ch_http.rows_in"] = fx["ch_rows_in"]
        m["ch_http.control_requests"] = fx["ch_control_requests"]
        m["fixture.busy_share"] = fx["fixture_busy_s"] / fx["round_s"]
    m["tracing.overhead_share"] = result.get("overhead", 0.0)
    m["tracing.unattributed_share"] = unattributed
    return m


# -- main ----------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "es_to_clickhouse_spark")):
        print(f"perfbench: no es_to_clickhouse_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)
    cpus = int(env["SPARK_GRAFT_CPUS"])
    tmp = os.environ["TMPDIR"]
    rss = RssSampler()

    t_gen = time.perf_counter()
    if args.workload in ("headline", "heavy"):
        import gen
        from queries import HEADLINE, HEAVY, QueryWorkload

        corpus = os.path.join(work, "corpus")
        gen.write_corpus(corpus, args.seed)
        wl = QueryWorkload(HEADLINE if args.workload == "headline" else HEAVY, corpus, ROOT)
    else:
        from sync import EsToChWorkload, SyncRoundsWorkload, SyncWorkload

        parts = {
            "sync": [SyncRoundsWorkload, EsToChWorkload],
            "sync-rounds": [SyncRoundsWorkload],
            "es-to-ch": [EsToChWorkload],
        }[args.workload]
        wl = SyncWorkload(work, args.seed, parts)
    gen_s = time.perf_counter() - t_gen

    result = {"attempted": 0, "failed": 0, "e2e": {}, "named": {}, "info": {"check_failures": []}}
    spark = None
    try:
        spark, objs, setups, starts = set_up(wl, cpus, tmp, gen_s)
        result["starts"] = starts
        tracer_factory = None
        if args.trace:
            from spans import Tracer

            def tracer_factory():
                return Tracer(spark.sparkContext)

        if args.workload in ("headline", "heavy"):
            run_queries(wl, args.seconds, tracer_factory, result)
        else:
            run_rounds(wl, objs, args.seconds, tracer_factory, spark, result)
    finally:
        if spark is not None:
            spark.stop()
        wl.close()
        peak = rss.stop()
        stop_jvm()

    e2e = result["e2e"]
    e2e["setup_s"] = med(setups)
    info = result["info"]
    info["metrics"] = dict(
        result["named"],
        setup_s=named("s", e2e["setup_s"]),
        peak_rss_mb=named("MB", peak),
        error_rate=named("ratio", result["failed"] / max(1, result["attempted"])),
    )
    info.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "setup_samples_s": setups, "generate_s": gen_s, "env": env,
    })
    if args.trace:
        metrics = layer_metrics(result, cpus)
        units = per_layer_units()
        info["spans_file"] = os.path.join(work, "spans.json")
        with open(info["spans_file"], "w") as f:
            json.dump([s for unit in result["units"] for s in unit], f)
    else:
        metrics = e2e
        units = END_TO_END
    print("perfbench: " + json.dumps(info, default=str), flush=True)
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
