"""Product-quantization search: DuckDB twin parity + recall floor.

Pytest-only operator (driver registry capped at 50 per CLAUDE.md);
the DuckDB twin here is the same differential oracle the driver runs
for registered queries.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.errors import PySparkException

from monday_etl_automation_spark.plans.embed_ops import _query_pred, cosine_topk
from monday_etl_automation_spark.plans.pq_ops import (
    _CAND,
    _K,
    _M,
    _pq_ex_sql,
    _pq_search_arrays,
    _pq_search_sql,
    _pq_sql,
    _train_pq,
    pq_topk,
)
from tests.oracle_compare import assert_matches_oracle

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from plan_audit import audit_plan, final_plan  # noqa: E402

# the folded search's ONLY hash exchange is the per-query candidate
# window's (the final re-rank window reuses its partitioning); measured
# 1 at sf0.001 and sf0.01, while the exploded body plans 4
FOLD_EXCHANGES = 1

# recall is statistical: measure where the query set is large enough
# for stable floors (same rationale as tests/test_ann_recall.py)
_RECALL_SF = "/root/testdata/sf0.01"


def test_pq_matches_oracle(spark, sf_dir):
    assert_matches_oracle(pq_topk(spark, sf_dir), _pq_sql("duckdb"), sf_dir)


def test_pq_matches_oracle_sf001(spark):
    assert_matches_oracle(pq_topk(spark, _RECALL_SF), _pq_sql("duckdb"), _RECALL_SF)


def test_pq_recall_floor(spark):
    exact = {}
    for r in cosine_topk(spark, _RECALL_SF).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in pq_topk(spark, _RECALL_SF).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(approx.get(q, set()) & nbrs) for q, nbrs in exact.items())
    total = sum(len(nbrs) for nbrs in exact.values())
    r = hits / total
    # 16 x 4-dim subspaces, 16-entry codebooks, 100 ADC candidates
    # exact-re-ranked: measured 0.96 (sf0.01) / 0.865 (sf0.1) on the
    # near-uniform synthetic embeddings. Floor 0.80 matches the
    # LSH/IVF floors and catches any recall-gutting refactor.
    assert r >= 0.80, f"PQ recall {r:.3f} below design floor"


def test_pq_codes_are_compact(spark, sf_dir):
    """The scale contract: every vector encodes to exactly _M codes,
    each in [0, _K) — the 8-byte-per-vector representation the ADC
    scan reads instead of the 256-byte float vectors."""
    codes, cent = _train_pq(spark, sf_dir)
    rows = codes.groupBy("vec_id").count().collect()
    assert rows and all(r["count"] == _M for r in rows)
    bad = codes.where(f"code < 0 OR code >= {_K}").count()
    assert bad == 0
    # result shape: top-5 per query, never more
    n = pq_topk(spark, sf_dir).groupBy("query_id").count().collect()
    assert n and all(r["count"] <= 5 for r in n)


def test_pq_folded_search_plan(spark, sf_dir):
    """r19 fold pin: the folded ADC search shuffles only for the
    per-query window — no hash-partitioning exchange from an
    exploded-codes aggregation (guide §2.4), no CartesianProduct (the
    bounded query side must broadcast), no SortMergeJoin of the
    KB-sized artifact relations. Audited on the AQE-final plan after an
    action (tools/plan_audit.py), and shown able to fail: the exploded
    _pq_search_sql body over the same quantizer exceeds the cap."""
    plan = final_plan(pq_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert audit_plan(plan)["n_exchange"] == FOLD_EXCHANGES

    codes, cent = _train_pq(spark, sf_dir)
    codes.createOrReplaceTempView("_t_pq_codes")
    cent.createOrReplaceTempView("_t_pq_cent")
    qex = f"SELECT * FROM ({_pq_ex_sql('spark')}) exq WHERE {_query_pred()}"
    exploded = spark.sql("WITH " + _pq_search_sql("spark", "", "_t_pq_codes", "_t_pq_cent", qex=qex))
    assert audit_plan(final_plan(exploded))["n_exchange"] > FOLD_EXCHANGES


def test_pq_fold_rejects_missing_code(spark, sf_dir):
    """A vector lacking one (sub, code) row must fail the artifact
    build, not carry a NULL code that silently ranks it last."""
    codes, cent = _train_pq(spark, sf_dir)
    v = codes.agg({"vec_id": "min"}).first()[0]
    broken = codes.where(f"NOT (vec_id = {v} AND sub = 0)")
    with pytest.raises(PySparkException, match=r"lacks a \(sub, code\) row"):
        _pq_search_arrays(spark, broken, cent)
