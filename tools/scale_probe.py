"""Measured scale curve: time the top-cost bench queries at sf0.1 and
at the replicated sf1 snapshot (tools/make_sf1.py), print per-query
wall ratios. Evidence for SCALE.md's 100x posture — a query whose
ratio is far above the data ratio (10x) is superlinear and needs a
plan fix.

Methodology mirrors bench.py: warmup every query at sf0.001 (JIT,
Python workers, footer caches), then N timed passes per sf dir with
the noop sink, min per query. Run it ALONE (no concurrent Spark
workloads — CLAUDE.md bench rule).

Run: python tools/scale_probe.py [sf1_dir] [passes]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the bench's top cost centers + the flagship + one family rep each;
# r13 adds the rest of the vector family — the r12 probe caught
# cosine_topk's quadratic, and the r13 family sweep caught
# embed_near_dup's (fixed-bucket) one, so the whole family stays
# under measurement from now on
PROBE = (
    "text_profile",
    "stateful_user_totals",
    "tpch_extra",
    "flagship_depot_selection",
    "vector_extra",
    "q1_pricing_summary",
    "minhash_lsh_candidates",
    "dedup_exact",
    "cosine_topk",
    "ann_lsh_topk",
    "ivf_topk",
    "embed_near_dup",
    "stream_tumbling_replay",
    # r14: now that the word-band key bounds its candidate work,
    # fuzzy_name_match gets a measured curve (it was "not probed,
    # known output-bound" — the one top-line query without one)
    "fuzzy_name_match",
    # r15: the skew-lever + zorder contract sections are new work —
    # the salted two-path join and the z-range agg get a curve
    "distinct_counts",
    # r15: the timer-sessionizer section's cost is per-(group, batch)
    # protocol calls — users scale with data, so it stays measured
    "stream_session_replay",
    # r16 (r15 verdict item 4): the scd2 + range_stream sections and
    # the sketch-contract sections had no measured curve
    "temporal_joins",
    "quantile_stats",
)


def main() -> int:
    """Usage: scale_probe.py [sf1_dir] [passes] [--dirs a:b:c] [--queries x,y]

    Positional form (back-compat) probes sf0.1 -> sf1_dir. ``--dirs``
    probes an arbitrary ladder (r17 verdict item 2: a SECOND decade —
    sf0.1:sf1:sf10 — catches compounding growth one decade hides);
    ratios are printed per consecutive rung. ``--queries`` restricts
    the probe set (the sf10 rung times ~100x sf0.1 walls — probe the
    top cost centers, not all 18)."""
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = {
        a.split("=", 1)[0]: a.split("=", 1)[1]
        for a in sys.argv[1:]
        if a.startswith("--") and "=" in a
    }
    sf1_dir = args[0] if args else "/tmp/sf1"
    passes = int(args[1]) if len(args) > 1 else 2
    if "--dirs" in opts:
        dirs = [(d, os.path.basename(d.rstrip("/"))) for d in opts["--dirs"].split(":")]
    else:
        dirs = [("/root/testdata/sf0.1", "sf0.1"), (sf1_dir, "sf1")]

    from monday_etl_automation_spark.plans import registry
    from monday_etl_automation_spark.session import get_spark

    spark = get_spark("scale_probe")
    qs = registry.queries()
    probe = tuple(opts["--queries"].split(",")) if "--queries" in opts else PROBE
    names = [n for n in probe if n in qs]

    def run(name: str, d: str) -> None:
        qs[name](spark, d).write.format("noop").mode("overwrite").save()

    def steal_s() -> float:
        try:
            with open("/proc/stat") as fh:
                return int(fh.readline().split()[8]) / 100.0
        except Exception:  # noqa: BLE001
            return 0.0

    for name in names:  # warmup: compile/JIT at tiny scale
        try:
            run(name, "/root/testdata/sf0.001")
        except Exception as ex:  # noqa: BLE001
            print(f"warmup {name}: {type(ex).__name__}", file=sys.stderr)

    results: dict[str, dict[str, float]] = {n: {} for n in names}
    steal: dict[str, float] = {}
    for d, tag in dirs:
        # one untimed pass: page cache + snapshot-keyed index training
        # (vector_extra etc. price warm search, same posture as bench)
        for name in names:
            try:
                run(name, d)
            except Exception as ex:  # noqa: BLE001
                print(f"warm {tag} {name}: {type(ex).__name__}: {ex}", file=sys.stderr)
        s0 = steal_s()
        for _ in range(passes):
            for name in names:
                t0 = time.time()
                try:
                    run(name, d)
                except Exception as ex:  # noqa: BLE001
                    print(f"{tag} {name}: FAIL {type(ex).__name__}", file=sys.stderr)
                    continue
                dt = time.time() - t0
                cur = results[name].get(tag)
                results[name][tag] = dt if cur is None else min(cur, dt)
        steal[tag] = round(steal_s() - s0, 1)

    out = {}
    tags = [t for _, t in dirs]
    for name in names:
        rec = {}
        for t in tags:
            v = results[name].get(t)
            rec[f"{t}_sec"] = round(v, 2) if v else None
        for prev, cur in zip(tags, tags[1:]):
            a, b = results[name].get(prev), results[name].get(cur)
            rec[f"ratio_{cur}/{prev}"] = round(b / a, 2) if a and b else None
        out[name] = rec
    out["_steal_cpu_s"] = steal  # host-noise attribution (bench.py rule)
    print(json.dumps(out, indent=2))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
