"""Physical-plan audit: one row of plan properties per registered query.

Extracts, from each query's executed plan string:
  - n_exchange   — shuffle Exchanges (the scale-limiting operator)
  - n_broadcast  — BroadcastExchanges / broadcast joins (good: dims)
  - pushed       — whether any parquet scan carries PushedFilters
  - n_codegen    — WholeStageCodegen spans (JVM-compiled pipelines)
  - python_eval  — Arrow/pandas evaluation operators (the deliberate
                   Python surface: mapInPandas/applyInPandas/UDAF)
  - sort_no_part — Sort operators without a partition-local marker is
                   approximated by Exchange rangepartitioning (global
                   sorts; expected only in final ORDER BY)

Writes PLANS.md (repo root): a table plus the raw formatted plan for
the flagship query. Run after plan-shape changes; the point is to make
"is this the plan I'd want at 100 TB" a reviewable artifact instead of
a one-off .explain() in a REPL.

Note: streaming/iterative queries (stream_*, stateful_user_totals,
dead_letter_counts, event_hygiene, the near-dup/LSH pair builders,
vector_extra's index training) execute work inside their builder; their final frame's plan describes
the last stage only — the audit marks them `(post)` for post-hoc.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# queries whose builder runs streaming replays / iterative jobs; the
# returned frame is a residue of materialized state, not the real plan
POST_HOC = {
    "stream_tumbling_replay",
    "stream_sliding_replay",
    "stream_session_replay",
    "stateful_user_totals",
    "dead_letter_counts",
    "event_hygiene",
    "near_dup_components",
    "minhash_lsh_candidates",
    "ngram_jaccard_pairs",
    "simhash_near_pairs",
    "embed_near_dup",
    # trains PQ + IVF-PQ + BM25 postings eagerly (snapshot-cached);
    # the audited plan is the search-side union over the indexes
    "vector_extra",
}


def audit_plan(plan: str) -> dict:
    # the final adaptive plan string appends the pre-AQE plan under an
    # "== Initial Plan ==" header — audit only the final plan
    plan = plan.split("== Initial Plan ==")[0]
    return {
        "n_exchange": len(re.findall(r"\bExchange hashpartitioning", plan)),
        "n_range_exchange": len(re.findall(r"\bExchange rangepartitioning", plan)),
        "n_broadcast": len(re.findall(r"BroadcastExchange|BroadcastHashJoin", plan)),
        "pushed": "PushedFilters: [" in plan
        and bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        # executedPlan().toString() marks codegen stages "*(n) Op";
        # formatted explain spells it "WholeStageCodegen (n)" — count both
        "n_codegen": len(
            set(re.findall(r"\*\((\d+)\)", plan))
            | set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
        ),
        "python_eval": bool(
            re.search(r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas|AggregateInPandas", plan)
        ),
    }


def final_plan(df) -> str:
    """``df``'s AQE-final physical plan string, after running an action
    on THIS DataFrame: under AQE the plan (and its codegen stages) is
    only final after an action on the same plan instance."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    return plan.split("== Initial Plan ==")[0]


def explain_str(df) -> str:
    """``df``'s formatted explain text."""
    jvm = df.sparkSession.sparkContext._jvm  # noqa: SLF001
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")  # noqa: SLF001


def _pytest_only_queries() -> dict:
    """Non-registered operators worth auditing (registry is capped at
    50; these are verified by pytest twins but their plan shapes are
    as scale-relevant as the registered ones)."""
    from monday_etl_automation_spark.plans.ivfpq_ops import ivfpq_topk
    from monday_etl_automation_spark.plans.pq_ops import pq_topk
    from monday_etl_automation_spark.plans.search_ops import bm25_topk

    return {"pq_topk": pq_topk, "bm25_topk": bm25_topk, "ivfpq_topk": ivfpq_topk}


def main() -> int:
    from monday_etl_automation_spark.plans import registry
    from monday_etl_automation_spark.session import get_spark

    spark = get_spark("plan_audit")
    qs = dict(registry.queries())
    qs.update(_pytest_only_queries())
    rows = []
    flagship_plan = ""
    for name in sorted(qs):
        try:
            df = qs[name](spark, SF_DIR)
            props = audit_plan(final_plan(df))
            if name == "flagship_depot_selection":
                flagship_plan = explain_str(df)
        except Exception as ex:  # noqa: BLE001
            rows.append((name, f"ERROR {type(ex).__name__}"))
            continue
        tag = " (post)" if name in POST_HOC else ""
        rows.append(
            (
                name + tag,
                f"| {props['n_exchange']} | {props['n_range_exchange']} "
                f"| {props['n_broadcast']} | {'y' if props['pushed'] else '-'} "
                f"| {props['n_codegen']} | {'y' if props['python_eval'] else '-'} |",
            )
        )

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan audit per registered query\n\n"
            f"Generated by `python tools/plan_audit.py` at {os.path.basename(SF_DIR)}"
            f" on {spark.sparkContext.defaultParallelism} cores.\n\n"
            "Columns: hash Exchanges (shuffles), range Exchanges (global\n"
            "sorts — expected only as final ORDER BY), broadcasts, parquet\n"
            "filter pushdown present, WholeStageCodegen span count, Python\n"
            "(Arrow) eval present. `(post)` = the builder executes streaming\n"
            "replays / iterative jobs eagerly, so the audited plan is the\n"
            "final-stage residue, not the whole pipeline.\n\n"
            "| query | hashEx | rangeEx | bcast | pushed | codegen | py |\n"
            "|---|---|---|---|---|---|---|\n"
        )
        for name, line in rows:
            if line.startswith("ERROR"):
                f.write(f"| {name} | {line} | | | | | |\n")
            else:
                f.write(f"| {name} {line}\n")
        if flagship_plan:
            f.write("\n## flagship_depot_selection — formatted plan\n\n```\n")
            f.write(flagship_plan)
            f.write("\n```\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
