"""End-to-end benchmark of the engine's registered queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload webhook_ops --seed 1 --seconds 16 --trace 0

One process, one closed-loop client, ``local[<cpus>]``. A run:

1. writes the input snapshot (``datagen.py``, fixed data seed) under
   ``perfbench/_work``;
2. starts the session and serves one untimed warm-up pass of the
   workload's mix (``setup_wall_s`` ends with it), then the workload's untimed
   settle passes, which the JVM is still compiling through;
3. serves whole timed passes, as many as fill ``--seconds`` at the
   workload's reference pass time and at least ``MIN_PASSES``; a request is the registry builder call
   plus a ``noop`` sink write, timed from outside. Each entry's latency
   is its median over the timed passes; ``pass_wall_s`` is the sum of those
   per-entry medians (and ``request_p50_s`` in the context their median).
   Every pass after the warm-up is preceded by the calibration probe, and
   the reported ``setup_s`` and ``pass_s`` are the wall times
   (``setup_wall_s``, ``pass_wall_s`` in the context) over the run's host
   factor;
4. compares the rows each distinct query returned in the warm-up pass
   (collected there instead of written to ``noop``) with the query's
   DuckDB oracle.

``--seed`` only shuffles the per-pass request order. For
``ingest_refresh`` every pass starts on a fresh byte-identical copy of
the snapshot in a new directory, so views re-register and every
snapshot-keyed artifact is rebuilt inside the timed pass.
``--mix a,b`` serves only the named registry entries (the self-test
uses it to keep runs short).

``--trace 1`` serves at least one settle pass, then alternates whole
untraced and traced passes and reports the per-layer metrics of
``layers.py`` instead of the end-to-end ones; the same numbers, with
run context, go to ``perfbench/_out/trace_<workload>.json``.

The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is run context (cpus, parallelism, host steal, calibration probe,
failing queries, oracle mismatches, per-pass wall, CPU and steal times,
quartiles).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import multiprocessing  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
OUT = os.path.join(HERE, "_out")
DRIVER_MEM = "3g"
# whole timed passes a run serves at least, so every entry has two samples
MIN_PASSES = 2
# The host's speed swings by up to a factor of two between runs minutes
# apart, with little steal booked: the engine's CPU time per pass moves with its wall
# time. A calibration probe served before every pass tracks the swing, and
# ``setup_s`` and ``pass_s`` are the wall times scaled to a host on which
# the probe takes PROBE_REF_MS (see NOTES.md).
PROBE_PROCS = 3  # a pass keeps 2.2-2.9 of 4 cores busy
PROBE_LOOP = 300_000  # bench.py's loop, cut to 17-31 ms
PROBE_REF_MS = 25.0

# The reference's webhook entry points and its Monday operators: many
# sub-second requests whose fixed per-request cost (builder, Catalyst,
# job and task launch) is a large share of their latency.
WEBHOOK_OPS = (
    "flagship_depot_selection",
    "binary_pipeline",
    "media_pipeline",
    "s1_point_lookup",
    "s4_formula_routing",
    "p1_extract_pdf_asset_ids",
    "a1_next_start_id",
    "a2_success_counts",
    "a3_processed_counters",
    "w3_auto_increment",
    "f_naming_pipeline",
    "g1_structure_lot",
)
# What landing a new snapshot costs: a streaming replay (state-store
# commits) and the builder of a snapshot-keyed artifact (the embedding
# neighbour index), both redone on every new snapshot. Kept to the two
# cheapest such entries so a run holds enough passes for per-entry
# medians past the JIT warm-up (see NOTES.md).
INGEST_REFRESH = (
    "stream_tumbling_replay",
    "embed_near_dup",
)
# Warm relational, TPC-H and corpus-search reads: every artifact is
# built in the warm-up pass, so timed passes are scans, joins, shuffles
# and Python UDF stages. Not listed in BENCHMARK.json (see NOTES.md).
ANALYTICS_WARM = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q10_returned_customers",
    "tpch_extra",
    "rollup_returnflag",
    "cube_orders",
    "window_part_rank",
    "setops_customer_cohorts",
    "semi_anti_customers",
    "distinct_counts",
    "quantile_stats",
    "date_arithmetic",
    "fuzzy_name_match",
    "temporal_joins",
    "dedup_exact",
    "minhash_lsh_candidates",
    "simhash_near_pairs",
    "cosine_topk",
    "ann_lsh_topk",
    "ivf_topk",
    "embedding_centroids",
    "text_profile",
    "tfidf_top_terms",
    "lang_id",
)
# workload -> (mix, lands a new snapshot every pass, untimed settle passes
# served after the warm-up pass, reference pass time in s). A run times
# ``--seconds`` / reference pass time whole passes whatever the host's
# speed: the engine keeps warming up pass after pass, so a window that
# held more passes on a faster host would read lower by more than the
# host factor (see NOTES.md).
WORKLOADS = {
    "webhook_ops": (WEBHOOK_OPS, False, 1, 7.0),
    "ingest_refresh": (INGEST_REFRESH, True, 2, 3.2),
    "analytics_warm": (ANALYTICS_WARM, False, 0, 10.0),
}
# entries served by a streaming replay (``replay_p50_s`` in the context)
REPLAYS = frozenset(
    {"stream_tumbling_replay", "stream_sliding_replay", "stream_session_replay", "stateful_user_totals", "dead_letter_counts"}
)


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _launch_env(trace: bool) -> None:
    """Process environment the session and its Python workers start from:
    the package on PYTHONPATH (executor-side ``mapInPandas`` imports it),
    all temporary state inside the checkout, and the event log when traced."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # streaming checkpoints and shard dirs go through tempfile
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    conf = {
        # no hsperfdata file under /tmp either
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        events = os.path.join(WORK, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{events}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"
    sys.path.insert(0, ROOT)


def steal_s() -> float | None:
    """Cumulative hypervisor steal over all CPUs (/proc/stat field 8, 100 Hz)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / 100.0
    except (OSError, IndexError, ValueError):
        return None


def tree_cpu_s() -> float:
    """CPU time (user + system) of this process and every live descendant
    (the JVM, Python workers), with the reaped children each has waited for."""
    ticks = os.sysconf("SC_CLK_TCK")
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    tree = [os.getpid()]
    for pid in tree:  # grows while it is walked: breadth-first
        tree += children.get(pid, [])
    return sum(procs[p][1] for p in tree if p in procs) / ticks


def _spin(n: int) -> None:
    acc = 0
    for i in range(n):
        acc += i * i


class Calibration:
    """Fixed-work calibration probe: bench.py's loop, run at once on
    ``PROBE_PROCS`` processes forked before the JVM starts, so it meets the
    clock, SMT and cache conditions of a pass that keeps that many cores
    busy. A slower host reads higher."""

    def __init__(self):
        self.pool = multiprocessing.get_context("fork").Pool(PROBE_PROCS)

    def sample_ms(self) -> float:
        """Best of five: the run least disturbed by the engine's own
        background threads (JIT compiler, GC, context cleaner)."""
        best = float("inf")
        for _ in range(5):
            t0 = time.perf_counter()
            self.pool.map(_spin, [PROBE_LOOP] * PROBE_PROCS, chunksize=1)
            best = min(best, time.perf_counter() - t0)
        return best * 1000.0

    def close(self) -> None:
        self.pool.terminate()
        self.pool.join()


def quartiles(xs: list[float]) -> dict:
    if len(xs) < 2:
        return {"n": len(xs), "q1": xs[0], "median": xs[0], "q3": xs[0]} if xs else {"n": 0}
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return {"n": len(xs), "q1": q1, "median": q2, "q3": q3}


def tail(xs: list[float]) -> dict:
    """The highest whole percentile with at least ten samples beyond it."""
    if len(xs) < 20:
        return {}
    pct = (100 * (len(xs) - 10)) // len(xs)
    return {"pct": pct, "value": statistics.quantiles(xs, n=100)[pct - 1]}


class Bench:
    """One benchmark run over ``mix``; hooks let the self-test inject a
    failing request (``extra``) or tamper with collected rows (``tamper``)."""

    def __init__(self, spark, mix, refresh: bool, seed: int, extra=None, tamper=None):
        from monday_etl_automation_spark.plans import registry

        self.spark = spark
        self.builders = dict(registry.queries())
        self.builders.update(extra or {})
        self.oracles = registry.oracle_sql()
        self.mix = tuple(mix) + tuple(extra or {})
        self.refresh = refresh
        self.rng = random.Random(seed)
        self.tamper = tamper
        self.base = os.path.join(WORK, "data")
        self.data_dir = self.base
        self.snapshots: list[str] = []
        self.n_snapshots = 0
        self.rows: dict[str, tuple[list[str], list[tuple]]] = {}
        self.attempted = 0
        self.failures: dict[str, str] = {}
        self.failed = 0
        self.tracer = None
        self.calib = None  # Calibration, sampled before every pass once set

    def _new_snapshot(self) -> None:
        """Byte-identical copy of the base tables under a new path/mtime."""
        self.n_snapshots += 1
        dst = os.path.join(WORK, f"snapshot_{self.n_snapshots}")
        shutil.copytree(self.base, dst)
        self.snapshots.append(dst)
        while len(self.snapshots) > 2:
            shutil.rmtree(self.snapshots.pop(0), ignore_errors=True)
        self.data_dir = dst

    def _request(self, name: str, act, traced: bool) -> float | None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if traced:
                self.tracer.request(name, lambda: self.builders[name](self.spark, self.data_dir), lambda df: act(name, df))
            else:
                act(name, self.builders[name](self.spark, self.data_dir))
        except Exception as ex:  # noqa: BLE001 (counted, named, reported)
            self.failed += 1
            self.failures.setdefault(name, f"{type(ex).__name__}: {(str(ex).splitlines() or [''])[0][:200]}")
            return None
        return time.perf_counter() - t0

    def serve_pass(self, act, traced: bool = False) -> dict:
        """Serve the whole mix once in seeded order. A refresh pass first
        lands its new snapshot: the views are registered on it (which
        evicts the snapshot-keyed artifacts), so no request's latency
        depends on whether it came first. Returns the pass wall time, the
        host steal during it, the landing time and each entry's latency
        (None when the request failed)."""
        from monday_etl_automation_spark.sources import fixtures

        if self.refresh:
            self._new_snapshot()
        order = list(self.mix)
        self.rng.shuffle(order)
        calib = self.calib.sample_ms() if self.calib else None
        if traced:
            self.tracer.begin_pass()
        steal0 = steal_s()
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        if self.refresh:
            fixtures.register_fixture_views(self.spark, self.data_dir)
        land = time.perf_counter() - t0
        lat = {name: self._request(name, act, traced) for name in order}
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        steal1 = steal_s()
        if traced:
            self.tracer.end_pass()
        return {
            "wall_s": wall,
            "steal_s": None if steal0 is None or steal1 is None else steal1 - steal0,
            "land_s": land,
            "cpu_s": cpu,
            "calib_ms": calib,
            "latency_s": lat,
        }

    def collect(self, name: str, df) -> None:
        """Warm-up sink: keep each distinct query's rows for the oracle check."""
        got = (list(df.columns), [tuple(r) for r in df.collect()])
        self.rows[name] = self.tamper(name, got) if self.tamper else got

    def mismatches(self) -> dict[str, str]:
        """Distinct queries whose collected rows differ from their DuckDB
        oracle, compared the way the repository's oracle tests compare them."""
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        from oracle_compare import _normalize, duckdb_con

        con = duckdb_con(self.base)
        bad = {}
        for name in sorted(set(self.mix)):
            if name not in self.rows:
                bad[name] = "no output"
                continue
            if name not in self.oracles:
                bad[name] = "no oracle"
                continue
            cols, rows = self.rows[name]
            res = con.execute(self.oracles[name])
            o_cols = [d[0] for d in res.description]
            got, want = _normalize(cols, rows), _normalize(o_cols, res.fetchall())
            if sorted(cols) != sorted(o_cols):
                bad[name] = f"columns differ: {sorted(cols)} vs oracle {sorted(o_cols)}"
            elif got != want:
                diff = next(((a, b) for a, b in zip(got, want) if a != b), (len(got), len(want)))
                bad[name] = f"differs from oracle, first: {diff[0]} vs {diff[1]}"
        con.close()
        return bad


def noop(_name: str, df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cached_mb(spark) -> float:
    """RDD/checkpoint block bytes (memory + disk) the session holds, after GC."""
    gc.collect()
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    jvm.System.gc()
    time.sleep(1.0)  # ContextCleaner unpersists asynchronously
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)


def run(workload: str, seed: int, seconds: float, trace: bool, mix=None, extra=None, tamper=None):
    """Serve one benchmark run in this process; returns (result, context,
    tracer or None). The session is left running (``shutdown`` stops it)."""
    import datagen

    default_mix, refresh, settle, ref_pass_s = WORKLOADS[workload]
    shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
    for d in os.listdir(WORK):
        if d.startswith("snapshot_"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    datagen.write(os.path.join(WORK, "data"))

    from monday_etl_automation_spark.session import get_spark

    calibration = Calibration()  # before the JVM starts: forks cheaply
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t0
    b = Bench(spark, mix or default_mix, refresh, seed, extra, tamper)
    if trace:
        import layers

        b.tracer = layers.Tracer(spark)
        b.tracer.install()

    warmup_s = b.serve_pass(b.collect)["wall_s"]  # warm-up: JIT, codegen, Python workers, artifacts
    setup_wall_s = time.perf_counter() - T_PROCESS
    untraced: list[dict] = []  # whole untraced passes
    traced: list[dict] = []
    b.calib = calibration
    try:
        # the first passes after the warm-up run slow while the JVM still
        # compiles; traced runs always keep one out of the traced/untraced
        # comparison
        settled = [b.serve_pass(noop) for _ in range(max(settle, 1) if trace else settle)]
        steal0 = steal_s()
        t_measure = time.perf_counter()
        for i in range(max(MIN_PASSES, int(seconds // ref_pass_s))):
            on = trace and i % 2 == 1  # traced runs alternate untraced and traced passes
            (traced if on else untraced).append(b.serve_pass(noop, traced=on))
        measure_s = time.perf_counter() - t_measure
        steal1 = steal_s()
    finally:
        b.calib = None
        calibration.close()
    calib = [p["calib_ms"] for p in settled + untraced + traced]
    by_query: dict[str, list[float]] = {}
    for p in untraced:
        for name, x in p["latency_s"].items():
            if x is not None:
                by_query.setdefault(name, []).append(x)
    # every entry weighs the same whatever its sample count: a per-entry
    # median over the timed passes, then the median / sum over entries
    per_entry = {name: statistics.median(xs) for name, xs in sorted(by_query.items())}
    land_s = statistics.median(p["land_s"] for p in untraced)
    pass_wall_s = land_s + sum(per_entry.values())
    # how much slower than the reference host this run's host was
    factor = statistics.median(calib) / PROBE_REF_MS
    latencies = [x for xs in by_query.values() for x in xs]

    mismatches = b.mismatches()
    context = {
        "workload": workload,
        "seed": seed,
        "cpus": _cpus(),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "mix": list(b.mix),
        "measure_s": measure_s,
        "session_start_s": session_start_s,
        "warmup_s": warmup_s,
        "steal_s": None if steal0 is None or steal1 is None else steal1 - steal0,
        "calib": {"host_factor": factor, "samples_ms": calib},
        "setup_wall_s": setup_wall_s,
        "pass_wall_s": pass_wall_s,
        "failed_ratio": b.failed / b.attempted,
        "failed_queries": b.failures,
        "oracle_mismatches": len(mismatches),
        "mismatched_queries": mismatches,
        "passes": [{k: v for k, v in p.items() if k != "latency_s"} for p in untraced],
        "request_s": {**quartiles(latencies), "tail": tail(latencies)},
        "request_median_s": per_entry,
        "request_p50_s": statistics.median(per_entry.values()),
    }
    replays = [x for n, x in per_entry.items() if n in REPLAYS]
    if refresh:
        context["refresh_s"] = pass_wall_s
    if replays:
        context["replay_p50_s"] = statistics.median(replays)
    if trace:
        layer = b.tracer.layer_means()
        layer["session.start_s"] = session_start_s
        layer["trace.overhead_ratio"] = statistics.median(p["wall_s"] for p in traced) / statistics.median(
            p["wall_s"] for p in untraced
        )
        layer["cached_mb"] = cached_mb(spark)
        context["traced_pass_s"] = [p["wall_s"] for p in traced]
        metrics = layer
    else:
        metrics = {"setup_s": setup_wall_s / factor, "pass_s": pass_wall_s / factor}
    result = {
        # a failed request leaves its entry out of the figures, so the
        # run's figures are not comparable: the run is not correct
        "correct": not mismatches and not b.failed,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }
    return result, context, b.tracer


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM the session launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def unit_of(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mix", default="", help="comma-separated registry entries to serve instead of the workload's mix")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "monday_etl_automation_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    _launch_env(bool(args.trace))
    mix = [n for n in args.mix.split(",") if n] or None
    result, context, tracer = run(args.workload, args.seed, args.seconds, bool(args.trace), mix=mix)
    from pyspark.sql import SparkSession

    shutdown(SparkSession.getActiveSession())
    if args.trace:
        import layers

        result["metrics"].update(layers.event_log_metrics(os.path.join(WORK, "events"), tracer.windows_ms))
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"trace_{args.workload}.json"), "w") as fh:
            json.dump({"context": context, "layers": result["metrics"], "passes": tracer.passes}, fh, indent=1, sort_keys=True)
    result["metrics"] = {k: {"value": v, "unit": unit_of(k)} for k, v in result["metrics"].items()}
    print(json.dumps({"context": context}, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
