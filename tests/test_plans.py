"""Physical-plan shape assertions (SURVEY.md §4, 100 TB posture).

Correctness tests prove the answers; these prove the *plans* — that
the properties we rely on at scale actually hold:

- filter/projection pushdown reaches the parquet scan (S1/S2's manual
  GraphQL pushdown, free via Catalyst — SURVEY §4.1),
- dimension joins broadcast (J1/J2/J3 — no fact-side shuffle),
- aggregations are partial+final (map-side combine),
- no accidental cartesian products anywhere in the registry.
"""

from __future__ import annotations

import os
import sys

import pytest

from monday_etl_automation_spark.plans import registry

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from plan_audit import audit_plan, final_plan  # noqa: E402


def _plan(spark, sf_dir, name: str) -> str:
    df = registry.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_point_lookup_pushdown(spark, sf_dir):
    plan = _plan(spark, sf_dir, "s1_point_lookup")
    assert "PushedFilters: [In(o_orderkey" in plan, plan[:2000]


def test_scan_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "s1_point_lookup")
    # items view projects 4 of orders' 9 columns; the scan must not
    # read the rest (ReadSchema shows the pruned struct)
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "o_totalprice" not in read_schema
    assert "o_orderkey" in read_schema


def test_flagship_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "flagship_depot_selection")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q5_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_region_revenue")
    assert "BroadcastHashJoin" in plan


def test_q1_partial_aggregation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    # map-side combine: a partial_sum before the exchange
    assert "partial_sum" in plan or "partial_count" in plan


def test_merged_pipelines_scan_once_per_stage(spark, sf_dir):
    """binary_pipeline and media_pipeline read documents ONCE: all
    stages (presets, kinds) run inside one Arrow pass — not once per
    stage (3 scans) or per preset branch (11 scans, the round-2
    regression the per-row preset refactor fixed); text_profile
    computes every per-doc feature in ONE scan plus one compact
    per-source token-totals scan for the merged mixture-rate
    columns (the rates side is weights-bounded and broadcast; r8
    z-as-window fix in sampling_ops.rates_ctes). r13 adds exactly 3
    more column-pruned (doc_id, text) scans for the driver-hashed
    decon/PII columns: corpus-side grams, bench-side grams, PII-aug —
    the decontam job's own passes merged into this audit query. A 6th
    scan would mean dc_flags' all-corpus left join stopped being
    pruned (its zeros are CASE expressions over hs instead)."""
    for name, max_scans in (("binary_pipeline", 1), ("media_pipeline", 1), ("text_profile", 5)):
        plan = _plan(spark, sf_dir, name)
        n = plan.count("Scan parquet")
        assert n <= max_scans, f"{name}: {n} parquet scans (max {max_scans})"


@pytest.mark.parametrize("name", ["binary_pipeline", "media_pipeline"])
def test_multimodal_entries_run_one_python_pass(spark, sf_dir, name):
    """Each multimodal entry is one parquet scan feeding ONE
    MapInPandas (every per-document codec composition runs inside that
    Arrow pass), and no hash exchange reassembles derived page bytes."""
    plan = final_plan(registry.queries()[name](spark, sf_dir))
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("Scan parquet") == 1, plan
    assert audit_plan(plan)["n_exchange"] == 0, plan


def test_global_index_windows_are_partitioned(spark, sf_dir):
    """W3/G1 auto-increment must never funnel the table through a
    single-task global window (round-1 scale-killer): the two-pass
    index partitions its row_number window by spark_partition_id."""
    for name in ("w3_auto_increment", "g1_structure_lot"):
        plan = _plan(spark, sf_dir, name)
        for line in plan.splitlines():
            if "Window" in line and "row_number" in line:
                assert "_pid" in line, f"{name}: unpartitioned window: {line}"


def test_f_naming_shuffles_narrow(spark, sf_dir):
    """The naming pipeline must shuffle exactly once (the shared hash
    exchange for both windows — r18 removed the cosmetic final range
    exchange: the driver compare is order-insensitive, so the trailing
    sort only re-shuffled all ten derived strings) and the
    regexp-derived strings must not be window-shuffle payload: the
    hash exchange's input is the pre-derivation projection, so none of
    the derived output columns may appear below it."""
    plan = _plan(spark, sf_dir, "f_naming_pipeline")
    exchanges = [l for l in plan.splitlines() if "Exchange" in l and "Broadcast" not in l]
    assert len(exchanges) == 1, f"expected 1 data exchange, got {len(exchanges)}: {exchanges}"
    hash_exchange_at = plan.index("Exchange hashpartitioning")
    below_window_shuffle = plan[hash_exchange_at:]
    for derived in ("safe_name", "signed_name", "upload_name"):
        assert derived not in below_window_shuffle, (
            f"derived column {derived!r} computed below the window exchange "
            "(wide shuffle payload — the round-6 narrow-shuffle fix regressed)"
        )


def test_range_join_is_bucketed_equi_join(spark, sf_dir):
    """The sliding-lookback range join must stay an equi-join on
    (key, bucket) — never a nested-loop over the range predicate."""
    plan = _plan(spark, sf_dir, "temporal_joins")
    assert "BroadcastNestedLoopJoin" not in plan
    join_lines = [l for l in plan.splitlines() if "Join" in l and "_rbucket" in l]
    assert join_lines, "no join keyed on the time bucket found"


@pytest.mark.parametrize("name", sorted(registry.queries()))
def test_no_cartesian_product(spark, sf_dir, name):
    """No registered query may degenerate to a cartesian product.
    (BroadcastNestedLoopJoin is tolerated only where the build side is
    a bounded query/dim set — cosine/near-dup brute-force baselines.)"""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, f"{name} has a cartesian product"


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_fuzzy_word_band_retention(sf):
    """The word-band blocking key drops only pairs whose EVERY name
    word was edited — pin its measured pair retention vs the pure
    (brand, size) blocking (the pytest SF has zero fuzzy pairs).
    Pure DuckDB: this is a data property of the blocking design, not
    a Spark plan property. Measured 224/227 = 98.7% at sf0.01 and
    21438/21739 = 98.6% at sf0.1 (r14). Parametrized over BOTH driver
    SFs in r15 (verdict item 4): the repo's history has one bug that
    only ever reproduced at sf0.1."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW part AS SELECT * FROM '/root/testdata/{sf}/part.parquet'"
    )
    n_exact, n_blocked = con.sql(
        """
WITH exact AS (
  SELECT a.p_partkey pa, b.p_partkey pb FROM part a JOIN part b
    ON a.p_brand = b.p_brand AND a.p_size = b.p_size AND a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) <= 4),
k AS (SELECT p_partkey, p_brand, p_size, p_name,
             unnest(string_split(p_name, ' ')) w FROM part),
cand AS (
  SELECT DISTINCT a.p_partkey pa, b.p_partkey pb FROM k a JOIN k b
    ON a.p_brand = b.p_brand AND a.p_size = b.p_size AND a.w = b.w
   AND a.p_partkey < b.p_partkey),
blocked AS (
  SELECT c.* FROM cand c
  JOIN part a ON c.pa = a.p_partkey JOIN part b ON c.pb = b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) <= 4)
SELECT (SELECT count(*) FROM exact), (SELECT count(*) FROM blocked)
"""
    ).fetchone()
    con.close()
    assert n_exact > 0, f"{sf} lost its fuzzy pairs — re-measure the blocking"
    assert n_blocked / n_exact >= 0.95, f"retention {n_blocked}/{n_exact}"
