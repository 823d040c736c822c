"""Self-test of the benchmark on its generated sf0.001-shaped snapshot.

Checks that:

1. ``run.py`` emits every metric BENCHMARK.json names, with its unit,
   on every workload: the end-to-end metrics untraced, the per-layer
   metrics traced. The traced runs also pin the artifact counters: every
   ``ingest_refresh`` pass builds artifacts, no ``analytics_warm`` pass
   does;
2. an injected failing request raises ``failed_ratio`` and is named;
3. a tampered output raises ``oracle_mismatches`` and is named.

Each run serves a two-entry mix (``--mix``) to keep the test short
(about five minutes on 4 cores).

Run from the repository root: python3 perfbench/selftest.py
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

# the second entry of ingest_refresh and analytics_warm is artifact-backed
SMALL_MIX = {
    "webhook_ops": "s1_point_lookup,a1_next_start_id",
    "ingest_refresh": "stream_tumbling_replay,embed_near_dup",
    "analytics_warm": "q6_forecast_revenue,ann_lsh_topk",
}


def _serve(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "0", "--seconds", "1"]
    cmd += ["--trace", str(trace), "--mix", SMALL_MIX[workload]]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode:
        raise RuntimeError(f"{' '.join(cmd[1:])} exited {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(spec: dict) -> list[str]:
    errors = []
    for workload in run.WORKLOADS:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            result = _serve(workload, trace)
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {name: m["unit"] for name, m in result["metrics"].items()}
            if got != want:
                errors.append(f"{workload} --trace {trace}: emitted {got}, BENCHMARK.json names {want}")
            if not result["correct"] or result["failed"]:
                errors.append(f"{workload} --trace {trace}: clean run not correct: {result}")
        with open(os.path.join(HERE, "_out", f"trace_{workload}.json")) as fh:
            builds = [p["sources.artifact_builds"] for p in json.load(fh)["passes"]]
        if workload == "ingest_refresh" and not all(builds):
            errors.append(f"ingest_refresh: a refresh pass built no artifacts: {builds}")
        if workload == "analytics_warm" and any(builds):
            errors.append(f"analytics_warm: a warm pass built artifacts: {builds}")
    return errors


def _failing(_spark, _sf_dir):
    raise RuntimeError("injected failure")


def _extra_row(_name: str, got: tuple[list[str], list[tuple]]) -> tuple[list[str], list[tuple]]:
    cols, rows = got
    return cols, rows + [tuple(None for _ in cols)]


def check_injection() -> list[str]:
    """Clean, failing and tampered runs of one entry in this process."""
    mix = ["s1_point_lookup"]
    run._launch_env(trace=False)  # noqa: SLF001
    _, clean, _ = run.run("webhook_ops", 0, 0, False, mix=mix)
    _, failing, _ = run.run("webhook_ops", 0, 0, False, mix=mix, extra={"injected_failure": _failing})
    _, tampered, _ = run.run("webhook_ops", 0, 0, False, mix=mix, tamper=_extra_row)
    from pyspark.sql import SparkSession

    run.shutdown(SparkSession.getActiveSession())
    errors = []
    if clean["failed_ratio"] or clean["oracle_mismatches"]:
        errors.append(f"clean run: failed_ratio {clean['failed_ratio']}, mismatches {clean['mismatched_queries']}")
    if not failing["failed_ratio"] > clean["failed_ratio"] or "injected_failure" not in failing["failed_queries"]:
        errors.append(f"injected failure not counted: {failing['failed_ratio']}, {failing['failed_queries']}")
    if not tampered["oracle_mismatches"] > clean["oracle_mismatches"] or "s1_point_lookup" not in tampered["mismatched_queries"]:
        errors.append(f"tampered output not caught: {tampered['mismatched_queries']}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors = check_metrics(spec) + check_injection()
    for e in errors:
        print(f"FAIL {e}")
    print("selftest: " + ("ok" if not errors else f"{len(errors)} failure(s)"))
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
