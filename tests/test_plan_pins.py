"""Enforced physical-plan pins (r8 verdict item 8): PLANS.md records
plan properties but nothing failed when a plan regressed. For the
highest-value queries, pin max shuffle count, min broadcast count, and
parquet filter pushdown on the EXECUTED (post-AQE) plan — a lost
broadcast hint, a new unnecessary exchange, or a filter that stopped
reaching the scan now fails pytest instead of surfacing as a silent
bench regression.

Pins are measured at the pytest SF (sf0.001) and hold headroom of
exactly 0 — plans here are deterministic per SF (fixed session confs,
fixed data, AQE included in the audit), so any drift is a real plan
change that deserves a conscious re-pin.

Sabotage check (run manually to see a pin fire): drop the
``F.broadcast`` hint in operators/joins.py:23 — flagship's broadcast
count falls and this file fails.
"""

from __future__ import annotations

import os
import sys

import pytest

from monday_etl_automation_spark.plans import registry

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from plan_audit import audit_plan, final_plan  # noqa: E402

# query -> (max hash exchanges, min broadcasts, pushdown required)
_PINS: dict[str, tuple[int, int, bool]] = {
    "flagship_depot_selection": (2, 6, True),
    "q1_pricing_summary": (1, 0, True),
    "q3_shipping_priority": (1, 4, True),
    "q5_region_revenue": (1, 10, True),
    "q10_returned_customers": (1, 6, True),
    "cosine_topk": (1, 1, True),
    "ivf_topk": (2, 3, True),
    # quantile/dedup/profile scan derived relations or whole tables —
    # no pushable predicate, so pushdown is not required.
    # r14: + the hll sketch section — one (event_type) grouping
    # carrying estimate AND exact distinct (countDistinct expands to
    # two exchanges) plus the merge-law (event_type, shard) grouping
    # and its event_type re-group (2 more); joins broadcast
    # (the quantile half alone was (2, 0): histogram agg + the
    # cumulative window's re-partition, over ~150 rows).
    # r16: +1 exchange, deliberately — the gk section's rank-verify
    # aggregation over lineitem (its approx_percentile agg rides the
    # same grouping; the 3-row ap relation joins BROADCAST, enforced by
    # the floor 2 -> 4). cms/hh are driver-side KB sketches — local
    # relations, zero plan exchanges.
    "quantile_stats": (7, 4, True),
    "dedup_exact": (1, 0, False),
    # r15: distinct_counts grew the skew + zorder contract sections —
    # exact (Expand countDistinct), salted_distinct (distinct + regroup),
    # salted_agg (partial/merge pair), salted_join (hot probe agg + the
    # two-path join's cold-side shuffle), zorder (stats agg + z-range
    # agg). Broadcasts: the hot-key semi/anti splits + the dim joins +
    # the zstats scalar join all stay broadcast.
    "distinct_counts": (8, 11, True),
    # r13: decon/PII columns added at ZERO new hash exchanges — the
    # corpus side is a row-local gram-hash array intersect against the
    # broadcast bench set (the exploded equi-join draft cost +3
    # exchanges and 2.6x the wall). r14: the decon/PII doc_id LEFT
    # JOINs are GONE (the columns ride the fingerprint pass's single
    # corpus scan), so the broadcast floor drops 9 -> 5 (bench set +
    # rates); the shuffle cap stays 1 — fewer joins, same exchanges.
    "text_profile": (1, 5, True),
    "semi_anti_customers": (1, 2, True),
    # r15: +3 exchanges, deliberately — the scd2 section (touched-key
    # distinct + the rebuilt changelog's user_id window shuffle; the
    # base build is materialized behind its localCheckpoint) and the
    # range_stream section's count agg over the replayed memory sink.
    # Broadcast floor 4 -> 8: the merge's semi/anti joins against the
    # small touched-key set broadcast, as they should.
    "temporal_joins": (6, 8, True),
    # includes the rrf shape (r12): fusion rides the persisted
    # postings/IVF artifacts, so no new hash exchange entered the plan.
    # r15: broadcast floor 7 -> 5, deliberately — the bm25 idf chain
    # and the pq/ivfpq LUT/code-norm derivations moved into persisted
    # index metadata (their broadcast joins now run once at build time,
    # not in the search plan); exchanges dropped 4 -> measured 4 max.
    # r16: the relr/pack/tokp sections enter at ZERO pin delta (still
    # 4 exchanges, 5 broadcasts measured): the report rides scalar
    # subqueries, the packer's shard grouping reuses its own exchange
    # budget, and tokp reads the snapshot-cached shard artifact.
    "vector_extra": (4, 5, True),
    # r12 additions: pins now cover every top-10 bench cost center
    # 16 union-tagged TPC-H shapes: ~1.5 hash exchanges per shape,
    # broadcasts enforced on every dim join across the union.
    # r19: broadcast floor 99 -> 97 — q21's single-pass rewrite
    # REMOVED two joins outright (the second lineitem scan's fo-semi +
    # per_order-semi chain), so two broadcasts legitimately left the
    # plan; nothing degraded to a shuffle join (tpch_extra still plans
    # exactly one SortMergeJoin, q20's supplier-bounded semi).
    "tpch_extra": (24, 97, True),
    # three Python surfaces (stateful replay + grouped-map + UDAF),
    # all shuffling on user_id once each
    "stateful_user_totals": (3, 4, True),
    # one scan + one mapInPandas: no page-reassembly hash exchange
    # (the unsplittable-layout spread is round-robin), and no filter
    # to push
    "binary_pipeline": (0, 0, False),
    # one scan + one mapInPandas routing by doc_id % 3 in-process:
    # ZERO hash exchanges and no kind filter left to push
    "media_pipeline": (0, 0, False),
    "a2_success_counts": (2, 4, True),
    # dedup half + props half + VARIANT half, joined on event_type
    "event_hygiene": (4, 4, True),
}


@pytest.mark.parametrize("name", sorted(_PINS))
def test_plan_pin(spark, sf_dir, name):
    max_shuffle, min_bcast, need_pushdown = _PINS[name]
    props = audit_plan(final_plan(registry.queries()[name](spark, sf_dir)))
    assert props["n_exchange"] <= max_shuffle, (
        f"{name}: {props['n_exchange']} hash exchanges (pinned <= {max_shuffle})"
        " — a new shuffle entered the plan"
    )
    assert props["n_broadcast"] >= min_bcast, (
        f"{name}: {props['n_broadcast']} broadcasts (pinned >= {min_bcast})"
        " — a broadcast join degraded to a shuffle join"
    )
    if need_pushdown:
        assert props["pushed"], f"{name}: parquet scan lost its PushedFilters"


def test_cosine_topk_fixed_query_plan(spark, sf_dir):
    """Post-r13 shape of the exact search (the quadratic fix): the
    query side is the FIXED 40-id literal set, pushed to the parquet
    scan as an In filter, broadcast against the corpus — O(k·n) by
    construction. The <> join is the intended one broadcast
    nested-loop of a 40-row side; a CartesianProduct (both sides
    unbounded) or a shuffle join here means the fixed side stopped
    being broadcast and the plan no longer caps work at k·n."""
    plan = final_plan(registry.queries()["cosine_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "In(vec_id" in plan, "fixed query-id IN list no longer pushed to the scan"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_vector_extra_corpus_scan_budget(spark, sf_dir):
    """Driver-entry-level no-corpus-rescan pin (r13): in vector_extra's
    plan the documents table is scanned exactly for (a) the bm25i
    ingest batch tokenize — the ONE O(batch) pass incremental
    maintenance is allowed — and (b) the drift monitor's snapshot
    sides (4 total); the embeddings table only for the PQ/IVF-PQ
    query/re-rank sides (~9 with subquery-print variance). BM25/bm25i scoring reads
    snapshot-persisted postings checkpoints and rrf reads materialized
    rank lists: 0 further corpus scans. A higher count means an index
    build or retrieval subtree leaked back into the per-query plan
    (what made r12's entry 5.8s warm) — sabotage-verified: un-
    checkpointing _rrf_input_ranks raises the embeddings count.

    Measured on the PRE-EXECUTION physical plan: after an action, AQE
    prints materialized stages by reference and scan counts silently
    undercount (the cached entry frame may already be executed, hence
    the cache clear + fresh build). Scans are classified by attribute
    markers, not file paths — paths get truncated out of plan strings."""
    from monday_etl_automation_spark.sources.tables import clear_artifact_caches

    clear_artifact_caches(spark)
    df = registry.queries()["vector_extra"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    n_docs = sum("doc_id#" in ln for ln in scans)
    n_emb = sum("vec_id#" in ln for ln in scans)
    clear_artifact_caches(spark)
    # Scan INVENTORY (r18, r17 verdict item 7) — measured per shape via
    # compose_frames(frames, (shape,)) at sf0.001; per-shape counts sum
    # exactly to the union's. A relaxation request must name ITS shape
    # and scan below, not bump the number.
    #
    # doc_id-carrying scans, pinned <= 8 (measured 8):
    #   drift 2 — snapshot A + simulated snapshot B sides
    #   relr  4 — release report's LINEAR passes: facts base, splits,
    #             decontam corpus side, broadcast bench-gram set (the
    #             corpus_prep DAG itself is materialized behind
    #             _prep_source; inlining it measured 31 docs scans)
    #   pack  1 — the train-split chunker pass
    #   eperm 1 — SHIPPED split-writer parquet read-back (KB artifact;
    #             its rows carry doc_id, the TABLE is only scanned at
    #             artifact build)
    #   bm25/bm25i/tokp 0 — snapshot-persisted postings / shipped-shard
    #             read-backs are localCheckpointed (no doc_id scans in
    #             the per-query plan; the bm25i O(batch) ingest pass
    #             happens once at artifact build)
    assert n_docs <= 8, f"{n_docs} documents scans (pinned <= 8)"
    # vec_id-carrying scans, pinned <= 12 (measured 11 + 1
    # subquery-print-variance headroom):
    #   pq      3 — query side + codes read + exact re-rank side
    #   ivfpq   3 — query side + codes read + exact re-rank side
    #   vstream 5 — the sink's five SHIPPED index tables (vec, bucket,
    #               ivf assignment, pq codes, ivfpq codes; KB parquet)
    #   rrf     0 — materialized rank lists (checkpointed)
    assert n_emb <= 12, f"{n_emb} embeddings scans (pinned <= 12)"


def test_fuzzy_name_match_blocks_on_word_band(spark, sf_dir):
    """r14: the candidate join's equi-key must include the name-derived
    word band, not just (p_brand, p_size) — the fixed-cardinality key
    alone gives 1,250 blocks forever, so candidate work (and the
    levenshtein spend) grows n^2/1250 regardless of output size.
    Sabotage-verified: dropping the `w` equality from the join
    condition in plans/relational.py fails this test.

    Runs at sf0.01, not the fixture SF: sf0.001 has zero fuzzy pairs,
    and AQE's empty-relation propagation replaces the whole join
    subtree with EmptyRelation — no Join node survives to inspect."""
    plan = final_plan(registry.queries()["fuzzy_name_match"](spark, "/root/testdata/sf0.01"))
    join_lines = [
        ln
        for ln in plan.splitlines()
        if "Join" in ln and "p_brand#" in ln and "p_size#" in ln
    ]
    assert join_lines, "fuzzy self-join not found in plan"
    for ln in join_lines:
        assert "w#" in ln, (
            "fuzzy_name_match joins on (brand, size) without the word band key:\n"
            + ln
        )
