"""DedupIngestSink: continuous corpus ingestion with exact dedup —
arrival-ordered keepers, exactly-once under at-least-once redelivery,
crash-safe across half-committed writes, and a DuckDB twin for the
final corpus."""

from __future__ import annotations

import duckdb
import pandas as pd

from monday_etl_automation_spark.streaming.pipeline import DedupIngestSink

_SCHEMA = "doc_id BIGINT, text STRING"


def _b(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def test_ingest_dedups_across_batches(spark, tmp_path):
    sink = DedupIngestSink(spark, str(tmp_path / "s1"))
    sink.process_batch(_b(spark, [(1, "alpha"), (2, "beta"), (3, "alpha")]), 0)
    sink.process_batch(_b(spark, [(4, "beta"), (5, "gamma"), (6, "gamma")]), 1)
    sink.process_batch(_b(spark, [(7, "alpha"), (8, "delta")]), 2)
    got = {r.doc_id: r.text for r in sink.corpus().collect()}
    # within-batch min keeps; cross-batch first arrival keeps
    assert got == {1: "alpha", 2: "beta", 5: "gamma", 8: "delta"}
    idx = {r.text_hash: r.keeper_doc_id for r in sink.index().collect()}
    assert sorted(idx.values()) == [1, 2, 5, 8]


def test_ingest_redelivery_is_exactly_once(spark, tmp_path):
    """foreachBatch is at-least-once: the SAME batch_id delivered again
    must overwrite its own partitions with identical content, never
    append duplicates — including when LATER batches already landed."""
    sink = DedupIngestSink(spark, str(tmp_path / "s2"))
    b0 = _b(spark, [(1, "alpha"), (2, "beta")])
    b1 = _b(spark, [(3, "alpha"), (4, "gamma")])
    sink.process_batch(b0, 0)
    sink.process_batch(b1, 1)
    want_corpus = sorted(map(tuple, sink.corpus().collect()))
    want_index = sorted(map(tuple, sink.index().collect()))
    sink.process_batch(b1, 1)  # redelivery of the last batch
    sink.process_batch(b0, 0)  # very late redelivery of an old batch
    assert sorted(map(tuple, sink.corpus().collect())) == want_corpus
    assert sorted(map(tuple, sink.index().collect())) == want_index


def test_ingest_crash_between_writes_recovers(spark, tmp_path):
    """Crash AFTER the index partition committed but BEFORE the corpus
    partition: the replayed delivery must still write the corpus docs
    (its dedup decision reads only batch_id < current, so the
    half-committed partition cannot poison it)."""
    sink = DedupIngestSink(spark, str(tmp_path / "s3"))
    sink.process_batch(_b(spark, [(1, "alpha")]), 0)

    b1 = _b(spark, [(2, "alpha"), (3, "beta")])
    # simulate the crash: run the batch's index write only
    from pyspark.sql import functions as F

    hashed = b1.withColumn("text_hash", F.expr(DedupIngestSink._HASH))
    keepers = hashed.groupBy("text_hash").agg(F.min("doc_id").alias("keeper_doc_id"))
    fresh = keepers.join(
        sink._index_before(1).select("text_hash"), "text_hash", "left_anti"
    ).withColumn("batch_id", F.lit(1).cast("bigint"))
    (
        fresh.localCheckpoint(eager=True)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(sink.index_path)
    )
    # restart: full redelivery of batch 1
    sink.process_batch(b1, 1)
    got = {r.doc_id: r.text for r in sink.corpus().collect()}
    assert got == {1: "alpha", 3: "beta"}
    idx = {r.keeper_doc_id for r in sink.index().collect()}
    assert idx == {1, 3}


def test_ingest_stream_replay_matches_batch_dedup(spark, sf_dir, tmp_path):
    """Full availableNow replay over the documents table in 4 real
    micro-batches == the batch dedup answer (monotone ids make
    arrival-order and global-min keepers coincide), cross-checked
    against a DuckDB twin."""
    from monday_etl_automation_spark.streaming.pipeline import run_dedup_ingest

    sink = DedupIngestSink(spark, str(tmp_path / "s4"))
    corpus = run_dedup_ingest(spark, sf_dir, sink=sink)
    got_ids = sorted(r.doc_id for r in corpus.select("doc_id").collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = [
        r[0]
        for r in con.execute(
            r"""
SELECT min(doc_id) AS keeper
FROM (SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h
      FROM documents)
GROUP BY h ORDER BY keeper
"""
        ).fetchall()
    ]
    assert got_ids == want
    # the index maps exactly one keeper per distinct hash
    idx = sink.index().toPandas()
    assert idx["text_hash"].is_unique
    assert sorted(idx["keeper_doc_id"]) == want
