"""Per-entry layer trace of the registered queries on perfbench's Tracer.

Usage (from the repository root):

    python tools/trace.py [--dirs SF_DIR[:SF_DIR...]] [--queries a,b] [--passes N]

Every request (the registry builder call plus a ``noop`` sink write) is
served as its own traced window of ``perfbench/layers.py:Tracer``, so
each (entry, snapshot dir) gets one row holding every layer the tracer
measures: ``PASS_KEYS`` averaged over the timed passes, and the
event-log task metrics (``EVENT_KEYS``) of the jobs submitted inside
those windows. ``wall_s`` is the entry's fastest timed pass and
``wall_ratio`` its ratio to the previous dir's (a ratio far above the
data ratio between two snapshots is superlinear growth; the layers show
which part grew).

Warm-up: every entry once on the ``sf0.001`` snapshot beside the first
dir (JIT, codegen, Python workers), then one untimed pass per dir
(page cache and snapshot-keyed artifacts), then ``--passes`` timed
passes per dir. ``--dirs`` defaults to ``$SPARK_GRAFT_SF_DIR``;
``--queries`` to all registered entries. Run it alone: the rows are
wall times.

The event log is switched on at JVM launch, the way ``perfbench/run.py``
does it for a traced run, into a temporary dir that is parsed once the
session stops and then removed. Prints one JSON object: a header (dirs,
cpus, defaultParallelism, passes, host steal per dir, failed requests)
and the rows.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from layers import EVENT_KEYS, PASS_KEYS, Tracer, event_log_metrics  # noqa: E402
from run import steal_s  # noqa: E402


def _enable_event_log(events: str) -> None:
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{events}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def trace(qs: dict, names: list[str], dirs: list[str], passes: int, events: str) -> dict:
    """Serve ``names`` on each of ``dirs`` and return the report; the
    session's event log goes to ``events``."""
    from monday_etl_automation_spark.session import get_spark

    _enable_event_log(events)
    spark = get_spark("trace")
    tracer = Tracer(spark)
    tracer.install()
    tags = [os.path.basename(d) for d in dirs]
    failed: dict[str, str] = {}

    def serve(name: str, d: str, traced: bool) -> float | None:
        t0 = time.perf_counter()
        try:
            if traced:
                tracer.request(name, lambda: qs[name](spark, d), noop)
            else:
                noop(qs[name](spark, d))
        except Exception as ex:  # noqa: BLE001 (named in the header)
            traceback.print_exc()
            failed.setdefault(f"{os.path.basename(d)}/{name}", f"{type(ex).__name__}: {(str(ex).splitlines() or [''])[0][:200]}")
            return None
        return time.perf_counter() - t0

    tiny = os.path.join(os.path.dirname(dirs[0]), "sf0.001")
    if os.path.isdir(tiny) and tiny not in dirs:
        for name in names:
            serve(name, tiny, False)
    walls: dict[tuple[str, str], list[float]] = {}
    windows: dict[tuple[str, str], list[int]] = {}  # indexes into tracer.passes / windows_ms
    steal: dict[str, float | None] = {}
    for d, tag in zip(dirs, tags):
        for name in names:
            serve(name, d, False)
        s0 = steal_s()
        for _ in range(passes):
            for name in names:
                tracer.begin_pass()
                wall = serve(name, d, True)
                tracer.end_pass()
                windows.setdefault((name, tag), []).append(len(tracer.passes) - 1)
                if wall is not None:
                    walls.setdefault((name, tag), []).append(wall)
        s1 = steal_s()
        steal[tag] = None if s0 is None or s1 is None else round(s1 - s0, 2)
    header = {
        "dirs": tags,
        "cpus": len(os.sched_getaffinity(0)),
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "passes": passes,
        "steal_s": steal,
        "failed": failed,
    }
    spark.stop()  # flushes the event log

    rows = []
    for name in names:
        prev = None
        for tag in tags:
            idx = windows[(name, tag)]
            row = {"entry": name, "dir": tag}
            for k in PASS_KEYS:
                row[k] = round(sum(tracer.passes[i][k] for i in idx) / len(idx), 4)
            ev = event_log_metrics(events, [tracer.windows_ms[i] for i in idx])
            row.update({k: round(ev[k], 4) for k in EVENT_KEYS})
            wall = min(walls[(name, tag)]) if (name, tag) in walls else None
            row["wall_s"] = None if wall is None else round(wall, 3)
            row["wall_ratio"] = round(wall / prev, 2) if wall and prev else None
            prev = wall
            rows.append(row)
    return {"header": header, "rows": rows}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--dirs", default=os.environ.get("SPARK_GRAFT_SF_DIR"), help="colon-separated snapshot dirs")
    ap.add_argument("--queries", default="", help="comma-separated registry entries (default: all)")
    ap.add_argument("--passes", type=int, default=2)
    args = ap.parse_args(argv)
    if not args.dirs:
        ap.error("--dirs or $SPARK_GRAFT_SF_DIR is required")
    if args.passes < 1:
        ap.error("--passes must be at least 1")
    from monday_etl_automation_spark.plans import registry

    qs = registry.queries()
    names = [n for n in args.queries.split(",") if n] or list(qs)
    unknown = sorted(set(names) - set(qs))
    if unknown:
        ap.error(f"unknown entries: {unknown}")
    events = tempfile.mkdtemp(prefix="trace_events_")
    try:
        report = trace(qs, names, [os.path.abspath(d) for d in args.dirs.split(":")], args.passes, events)
    finally:
        shutil.rmtree(events, ignore_errors=True)
    print(json.dumps(report, indent=1))
    return 1 if report["header"]["failed"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
