"""Aggregate benchmark results across runs.

Reads files holding ``run.py`` stdout (the context line, then the result
line) and prints, per workload and metric, the median, the quartiles and
the spread ``(q3 - q1) / median`` across runs, next to the metric's
bound from BENCHMARK.json; run context (host steal, calibration probe,
failures, oracle mismatches) is summarised the same way so a
contaminated run can be told from a regression.

Run: python3 perfbench/summarize.py out/*.txt
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _load(paths: list[str]) -> dict[str, list[tuple[dict, dict]]]:
    runs: dict[str, list[tuple[dict, dict]]] = {}
    for path in paths:
        lines = [ln for ln in open(path).read().splitlines() if ln.startswith("{")]
        if len(lines) < 2:
            print(f"{path}: no result", file=sys.stderr)
            continue
        context, result = json.loads(lines[-2])["context"], json.loads(lines[-1])
        runs.setdefault(context["workload"], []).append((context, result))
    return runs


def _stats(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def main(paths: list[str]) -> int:
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    for workload, runs in sorted(_load(paths).items()):
        print(f"== {workload}: {len(runs)} runs, correct {sum(r['correct'] for _, r in runs)}, failed {sum(r['failed'] for _, r in runs)}")
        series: dict[str, list[float]] = {}
        for context, result in runs:
            for name, m in result["metrics"].items():
                series.setdefault(name, []).append(m["value"])
            for name in ("setup_wall_s", "pass_wall_s", "request_p50_s"):
                if name in context:
                    series.setdefault(f"ctx.{name}", []).append(context[name])
            series.setdefault("ctx.steal_s", []).append(context.get("steal_s") or 0.0)
            series.setdefault("ctx.host_factor", []).append(context["calib"]["host_factor"])
            series.setdefault("ctx.oracle_mismatches", []).append(context["oracle_mismatches"])
        for name, xs in series.items():
            q1, med, q3 = _stats(xs)
            spread = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(name)
            flag = "" if bound is None else ("  ok" if spread < bound / 3 else "  WIDE" if spread >= bound else "  >1/3 bound")
            print(f"  {name:28s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:7.4f}  bound {bound}{flag}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
