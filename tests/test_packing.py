"""Sequence packing invariants: budget respected, nothing lost,
deterministic, and fill efficiency worthy of the name."""

from __future__ import annotations

from pyspark.sql import functions as F

from monday_etl_automation_spark.plans.packing_ops import pack_sequences, packing_stats
from monday_etl_automation_spark.plans.text_ops import chunk_documents

_BUDGET = 256


def test_packing_respects_budget_and_loses_nothing(spark, sf_dir):
    packed = pack_sequences(spark, sf_dir, budget=_BUDGET).localCheckpoint(eager=True)
    # every sequence fits the budget
    over = (
        packed.groupBy("shard", "seq_idx")
        .agg(F.sum("n_chunk_tokens").alias("t"))
        .where(F.col("t") > _BUDGET)
        .count()
    )
    assert over == 0
    # exactly the chunker's output, no dupes, no drops
    chunks = chunk_documents(spark, sf_dir).select("doc_id", "chunk_idx", "n_chunk_tokens")
    assert packed.count() == chunks.count()
    assert (
        packed.select("doc_id", "chunk_idx")
        .exceptAll(chunks.select("doc_id", "chunk_idx"))
        .count()
        == 0
    )
    tok_in = chunks.agg(F.sum("n_chunk_tokens")).collect()[0][0]
    tok_out = packed.agg(F.sum("n_chunk_tokens")).collect()[0][0]
    assert tok_in == tok_out


def test_packing_is_deterministic(spark, sf_dir):
    a = sorted(map(tuple, pack_sequences(spark, sf_dir, budget=_BUDGET).collect()))
    b = sorted(map(tuple, pack_sequences(spark, sf_dir, budget=_BUDGET).collect()))
    assert a == b and len(a) > 0


def test_packing_fill_efficiency(spark, sf_dir):
    """FFD with chunks <= 64 tokens into a 256 budget: waste should be
    far below one chunk per sequence on average. 0.85 is a loose floor
    (measured ~0.97) that still catches a degenerate
    one-chunk-per-sequence regression."""
    packed = pack_sequences(spark, sf_dir, budget=_BUDGET)
    stats = packing_stats(packed).collect()[0]
    assert stats.max_seq_tokens <= _BUDGET
    assert stats.fill_ratio >= 0.85, f"fill ratio {stats.fill_ratio:.3f}"


def test_packing_rejects_oversize_chunk(spark, sf_dir):
    import pytest

    with pytest.raises(Exception, match="exceeds budget"):
        pack_sequences(spark, sf_dir, budget=32, chunk_size=64).collect()
