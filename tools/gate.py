"""End-of-round gate: run every check CLAUDE.md requires, in sequence,
and exit nonzero if any fails.

Usage: python tools/gate.py [--full]

Default (the per-change gate):
  1. driver_sim at sf0.01   (the driver's correctness pass)
  2. strict_compare at sf0.01 (driver-safe output representations)
  3. pytest tests/ -x -q

--full additionally spot-checks sf0.1 for both (one historical bug only
reproduced there) — run it before declaring a round done.

Round 5 shipped with temporal_joins broken because the gates existed
but were not re-run after the environment drifted; this script makes
"done" mechanical: the round's last commit should record its output.
Subprocess-per-step so each gets a fresh JVM (two concurrent Spark
workloads on one box skew timings and can deadlock the shuffle dirs).
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def run(label: str, args: list[str], timeout: int) -> bool:
    print(f"=== {label} ===", flush=True)
    t0 = time.time()
    try:
        rc = subprocess.run(args, timeout=timeout, cwd=REPO).returncode
    except subprocess.TimeoutExpired:
        print(f"GATE-TIMEOUT {label} after {timeout}s")
        return False
    print(f"=== {label}: {'OK' if rc == 0 else f'FAIL rc={rc}'} ({time.time() - t0:.0f}s) ===\n", flush=True)
    return rc == 0


def global_window_hits(pkg: str) -> list[str]:
    """Every ``Window.orderBy`` line under ``pkg``: a window with no
    partition spec funnels the whole relation through one task — use
    operators/indexing.py:with_global_index instead. tier-1 runs the
    same rule (tests/test_queries.py)."""
    bad: list[str] = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path, encoding="utf-8") as f:
                for i, line in enumerate(f, 1):
                    if "Window.orderBy" in line:
                        bad.append(f"{path}:{i}: {line.strip()}")
    return bad


def createdataframe_literal_hits(pkg: str) -> list[str]:
    """Every ``.createDataFrame(<list or tuple literal>, ...)`` call under
    ``pkg/plans``: a small parameter relation must be a VALUES relation
    (``spark.sql("SELECT * FROM VALUES ...")``). An RDD-backed relation
    has no size statistics, so its join may plan as a shuffle join, and
    every execution re-scans the driver-pickled rows. tier-1 runs the
    same rule (tests/test_queries.py)."""
    bad: list[str] = []
    for root, _dirs, files in os.walk(os.path.join(pkg, "plans")):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and node.args
                    and isinstance(node.args[0], (ast.List, ast.Tuple))
                ):
                    bad.append(f"{path}:{node.lineno}: {ast.unparse(node)[:120]}")
    return bad


def sink_commit_hits(pkg: str) -> list[str]:
    """Every ``partitionOverwriteMode`` write and every ``glob`` of a
    ``col=*`` partition dir under ``pkg`` outside the sinks' two helpers
    (``streaming/pipeline.py:_commit`` and ``_committed``): an
    exactly-once sink commits and reads its partitioned tables only
    through them. tier-1 runs the same rule (tests/test_queries.py)."""
    helpers = {"_commit", "_committed"}
    bad: list[str] = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            inside = set()
            if path.endswith(os.path.join("streaming", "pipeline.py")):
                for node in tree.body:
                    if isinstance(node, ast.FunctionDef) and node.name in helpers:
                        inside.update(range(node.lineno, node.end_lineno + 1))
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call) or node.lineno in inside:
                    continue
                name = getattr(node.func, "attr", getattr(node.func, "id", None))
                strs = [
                    c.value
                    for a in node.args
                    for c in ast.walk(a)
                    if isinstance(c, ast.Constant) and isinstance(c.value, str)
                ]
                overwrite = any(v.split(".")[-1] == "partitionOverwriteMode" for v in strs)
                part_glob = name in ("glob", "iglob") and any("=*" in v for v in strs)
                if overwrite or part_glob:
                    bad.append(f"{path}:{node.lineno}: {ast.unparse(node)[:120]}")
    return bad


def static_checks() -> bool:
    """Repo-rule scans that need no JVM: no global-sort window
    (``global_window_hits``) anywhere in the package, no literal
    ``createDataFrame`` relation in its plans
    (``createdataframe_literal_hits``), and no sink commit or partition
    glob outside the sinks' helpers (``sink_commit_hits``)."""
    print("=== static checks ===", flush=True)
    pkg = os.path.join(REPO, "monday_etl_automation_spark")
    bad = [f"GLOBAL-WINDOW {hit}" for hit in global_window_hits(pkg)]
    bad += [f"LITERAL-CREATEDATAFRAME {hit}" for hit in createdataframe_literal_hits(pkg)]
    bad += [f"SINK-COMMIT {hit}" for hit in sink_commit_hits(pkg)]
    for hit in bad:
        print(hit)
    print(f"=== static checks: {'OK' if not bad else 'FAIL'} ===\n", flush=True)
    return not bad


def main() -> int:
    args = sys.argv[1:]
    if args not in ([], ["--full"]):
        print("usage: python tools/gate.py [--full]", file=sys.stderr)
        return 2
    full = bool(args)
    steps = [
        ("driver_sim sf0.01", [sys.executable, f"{HERE}/driver_sim.py", "/root/testdata/sf0.01"], 900),
        ("strict_compare sf0.01", [sys.executable, f"{HERE}/strict_compare.py", "/root/testdata/sf0.01"], 900),
        ("pytest", [sys.executable, "-m", "pytest", "tests/", "-x", "-q"], 1500),
    ]
    if full:
        steps += [
            ("driver_sim sf0.1", [sys.executable, f"{HERE}/driver_sim.py", "/root/testdata/sf0.1"], 1200),
            ("strict_compare sf0.1", [sys.executable, f"{HERE}/strict_compare.py", "/root/testdata/sf0.1"], 1200),
        ]
    results = [("static checks", static_checks())]
    results += [(label, run(label, args, timeout)) for label, args, timeout in steps]
    print("GATE SUMMARY:")
    for label, ok in results:
        print(f"  {'PASS' if ok else 'FAIL'}  {label}")
    return 0 if all(ok for _, ok in results) else 1


if __name__ == "__main__":
    sys.exit(main())
