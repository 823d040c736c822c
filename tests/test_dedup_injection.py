"""Non-vacuousness checks for the dedup family: the synthetic corpus
contains zero exact duplicates (and few natural near-dups), so the
driver-oracle parity of `dedup_exact` holds even for a broken keeper
rule. These tests inject engineered duplicates and assert each
operator actually detects and resolves them."""

from __future__ import annotations

from pyspark.sql import functions as F

from monday_etl_automation_spark.sources.tables import register_views

_OFFSET = 20_000_000


def _with_clones(spark, sf_dir, n=3, mutate=None):
    """Temp-view documents with the first ``n`` docs cloned at
    doc_id + _OFFSET (optionally perturbed by ``mutate``)."""
    from monday_etl_automation_spark.sources.tables import clear_artifact_caches

    register_views(spark, sf_dir)
    clear_artifact_caches(spark)  # view override invalidates file-keyed artifacts
    base = spark.table("documents")
    ids = [r.doc_id for r in base.orderBy("doc_id").limit(n).collect()]
    clones = base.where(F.col("doc_id").isin(ids)).withColumn(
        "doc_id", F.col("doc_id") + _OFFSET
    )
    if mutate is not None:
        clones = mutate(clones)
    base.unionByName(clones).createOrReplaceTempView("documents")
    return ids


def _restore(spark, sf_dir):
    from monday_etl_automation_spark.sources.tables import clear_artifact_caches

    spark._mea_views_sf_dir = None  # noqa: SLF001
    register_views(spark, sf_dir)
    clear_artifact_caches(spark)  # artifacts built from the clone view are stale


def test_dedup_exact_detects_injected_duplicates(spark, sf_dir):
    from monday_etl_automation_spark.plans.dedup_ops import dedup_exact

    ids = _with_clones(spark, sf_dir)
    try:
        rows = {r.keep_doc_id: r.n_copies for r in dedup_exact(spark, sf_dir).collect()}
        for i in ids:
            assert rows[i] == 2, f"doc {i}: expected 2 copies, got {rows.get(i)}"
            assert i + _OFFSET not in rows  # keeper is the min doc_id
    finally:
        _restore(spark, sf_dir)


def test_dedup_exact_normalization_folds_case_and_whitespace(spark, sf_dir):
    """The 'exact' hash is over NORMALIZED text: an uppercased,
    re-whitespaced copy still collapses."""
    from monday_etl_automation_spark.plans.dedup_ops import dedup_exact

    def shout(df):
        return df.withColumn(
            "text", F.upper(F.regexp_replace(F.col("text"), " ", "   "))
        )

    ids = _with_clones(spark, sf_dir, n=2, mutate=shout)
    try:
        rows = {r.keep_doc_id: r.n_copies for r in dedup_exact(spark, sf_dir).collect()}
        for i in ids:
            assert rows[i] == 2
    finally:
        _restore(spark, sf_dir)


def test_minhash_lsh_finds_injected_near_duplicates(spark, sf_dir):
    """A lightly-perturbed clone (one word changed) must surface as an
    LSH candidate pair with its original."""
    from monday_etl_automation_spark.plans.dedup_ops import minhash_lsh_candidates

    def tweak(df):
        # change one token: replace the first occurrence of 'table'
        return df.withColumn(
            "text", F.regexp_replace(F.col("text"), "table", "tables")
        )

    ids = _with_clones(spark, sf_dir, n=3, mutate=tweak)
    try:
        pairs = {
            (r.doc_id_a, r.doc_id_b)
            for r in minhash_lsh_candidates(spark, sf_dir).collect()
        }
        found = sum((i, i + _OFFSET) in pairs or (i + _OFFSET, i) in pairs for i in ids)
        assert found >= 2, f"only {found}/3 injected near-dup pairs surfaced: {pairs}"
    finally:
        _restore(spark, sf_dir)


def test_components_long_chain_converges_logarithmically(spark):
    """Adversarial worst case for connected components: a 130-vertex
    path graph (A~B~C~...~Z) has diameter 129, so naive min-label
    propagation needs ~129 rounds. Pointer doubling must collapse it
    in O(log diameter): reach at least doubles per hop+jump step, so
    ceil(log2(129)) = 8 steps suffice; the loop materializes every
    _CC_STEPS_PER_ROUND steps, so ceil(8 / steps_per_round) rounds
    (+1 to observe the fixed point) is the bound. Pins both the
    correctness of the fixed point and the round bound — a refactor
    that silently drops the pointer jump fails here, not at 100 TB."""
    import math

    from monday_etl_automation_spark.plans.dedup_ops import (
        _CC_STEPS_PER_ROUND,
        _converge_components,
    )

    n = 130
    pairs = [(i, i + 1) for i in range(n - 1)]
    edges = (
        spark.createDataFrame(pairs, "src BIGINT, dst BIGINT")
        .unionByName(spark.createDataFrame([(b, a) for a, b in pairs], "src BIGINT, dst BIGINT"))
        .localCheckpoint(eager=True)
    )
    # local_max_edges=0 forces the DISTRIBUTED loop — this test pins
    # the pointer-doubling round bound, which the sub-threshold
    # union-find fast path would bypass
    labels, rounds = _converge_components(edges, local_max_edges=0)
    got = {r.doc_id: r.label for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}, "chain did not fully collapse to min id"
    max_steps = math.ceil(math.log2(n - 1))
    max_rounds = math.ceil(max_steps / _CC_STEPS_PER_ROUND) + 1  # +1: fixed-point round
    assert rounds <= max_rounds, (
        f"{rounds} rounds (steps/round={_CC_STEPS_PER_ROUND}) for a {n}-chain —"
        " pointer doubling broken?"
    )


def test_local_and_distributed_components_agree(spark):
    """The two-level switch must be invisible: single-task union-find
    (sub-threshold path) and the pointer-doubling loop must produce
    identical labels on the same random graph — seeded, with multiple
    components, chains, and a star."""
    import random

    from monday_etl_automation_spark.plans.dedup_ops import _converge_components

    rnd = random.Random(13)
    pairs = set()
    # three chains, one star, plus random noise edges
    for base in (0, 200, 400):
        for i in range(base, base + 40):
            pairs.add((i, i + 1))
    pairs.update((600, 600 + i) for i in range(1, 25))
    pairs.update(
        (rnd.randrange(700, 900), rnd.randrange(700, 900)) for _ in range(80)
    )
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = (
        spark.createDataFrame(pairs, "src BIGINT, dst BIGINT")
        .unionByName(spark.createDataFrame([(b, a) for a, b in pairs], "src BIGINT, dst BIGINT"))
        .localCheckpoint(eager=True)
    )
    local, lr = _converge_components(edges)  # under threshold -> union-find
    dist, dr = _converge_components(edges, local_max_edges=0)  # forced loop
    assert lr == 1 and dr >= 1
    l = {r.doc_id: r.label for r in local.collect()}
    d = {r.doc_id: r.label for r in dist.collect()}
    assert l == d

