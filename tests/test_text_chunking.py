"""Chunking + within-doc repetition removal: DuckDB SQL-twin parity
plus structural invariants (coverage, overlap, reassembly)."""

from __future__ import annotations

from pyspark.sql import functions as F

from monday_etl_automation_spark.plans.text_ops import (
    chunk_documents,
    chunk_oracle,
    dedup_repeated_blocks,
    repdedup_oracle,
)
from oracle_compare import assert_matches_oracle


def test_chunk_documents_matches_oracle(spark, sf_dir):
    assert_matches_oracle(chunk_documents(spark, sf_dir), chunk_oracle(), sf_dir)


def test_chunk_invariants(spark, sf_dir):
    """Every token is covered; consecutive chunks overlap by exactly
    `overlap` tokens (except a short final chunk); chunk sizes are
    bounded by `size`."""
    size, overlap, stride = 64, 16, 48
    chunks = chunk_documents(spark, sf_dir, size)
    bad_size = chunks.where((F.col("n_chunk_tokens") > size) | (F.col("n_chunk_tokens") <= 0))
    assert bad_size.count() == 0
    # coverage: last chunk must reach the doc's token count
    docs = spark.sql("SELECT doc_id, size(split(trim(coalesce(text,'')), '\\\\s+')) AS n FROM documents")
    last = chunks.groupBy("doc_id").agg(
        F.max(F.col("chunk_idx") * stride + F.col("n_chunk_tokens")).alias("covered")
    )
    uncovered = last.join(docs, "doc_id").where(F.col("covered") != F.col("n"))
    assert uncovered.count() == 0


def test_dedup_repeated_blocks_matches_oracle(spark, sf_dir):
    assert_matches_oracle(dedup_repeated_blocks(spark, sf_dir), repdedup_oracle(), sf_dir)


def test_dedup_repeated_blocks_drops_injected_repeats(spark, sf_dir):
    """A document whose text is the same block repeated N times must
    collapse to one block."""
    from monday_etl_automation_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    base = spark.sql("SELECT doc_id, text FROM documents LIMIT 1").collect()[0]
    block = " ".join(["alpha beta gamma delta eps zeta eta theta"])  # exactly 8 tokens
    repeated = " ".join([block] * 5)
    df = spark.createDataFrame([(999999, repeated)], "doc_id BIGINT, text STRING")
    df.createOrReplaceTempView("documents")
    try:
        out = dedup_repeated_blocks(spark, sf_dir).collect()
        row = [r for r in out if r.doc_id == 999999][0]
        assert row.n_total_blocks == 5
        assert row.n_kept_blocks == 1
        assert row.deduped_text == block
    finally:
        # restore the real view for subsequent tests in this session
        spark._mea_views_sf_dir = None  # noqa: SLF001
        register_views(spark, sf_dir)
    assert base.doc_id is not None
