"""Exactly-once streaming maintenance of the embedding indexes.

``VectorIngestSink`` is a `foreachBatch` consumer that takes a stream
of (vec_id, embedding, label) rows and keeps the FIVE index tables a
similarity-search service reads — the vectors themselves, LSH bucket
rows, the IVF inverted-list assignment, PQ codes, and IVF-PQ residual
codes — continuously up to date against the FROZEN quantizers trained
on the base corpus snapshot (`plans/embed_ingest.py`).

Exactly-once the way ``streaming.pipeline.DedupIngestSink`` is:
every output is PARTITIONED BY batch_id and written through the sinks'
one commit path (``_commit``), and the only cross-batch decision —
skipping vec_ids already ingested — reads the vectors table through
``_committed`` RESTRICTED to batch_id < current, so a replay after a
partial commit re-derives the same fresh set (encoding against a
frozen quantizer is deterministic) and overwrites every partition.
Within a batch, a duplicated vec_id resolves to the min (label,
embedding) struct — a total, deterministic pick (Spark arrays are
orderable), so retries of a dirty batch converge too.

Scale shape: per batch O(|batch|) encoding (the quantizers are
KB-sized broadcasts) + one anti-join against the ids already ingested
(column-pruned scan of vec_id only; at 100 TB the vectors table is
bucketed on vec_id so the join co-locates). The corpus and the index
tables are never rescanned or rewritten — only the batch's own
partitions are touched.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monday_etl_automation_spark.plans.embed_ingest import (
    ann_assign_batch,
    ivf_assign_batch,
    ivfpq_encode_batch,
    pq_encode_batch,
)
from monday_etl_automation_spark.streaming.pipeline import _commit, _committed

_VEC_SCHEMA = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"


class VectorIngestSink:
    def __init__(self, spark: SparkSession, sf_dir: str, base_path: str):
        self.spark = spark
        self.sf_dir = sf_dir  # the snapshot whose trained quantizers encode every batch
        self.vectors_path = os.path.join(base_path, "vectors")
        self.buckets_path = os.path.join(base_path, "buckets")
        self.ivf_path = os.path.join(base_path, "ivf")
        self.codes_path = os.path.join(base_path, "codes")
        self.ivfpq_path = os.path.join(base_path, "ivfpq")

    def _ids_before(self, batch_id: int) -> DataFrame:
        # crash-replay safety: this delivery's own (possibly partial)
        # partitions must never influence its own fresh-set decision
        return (
            _committed(self.spark, self.vectors_path, "batch_id", "vec_id BIGINT, batch_id BIGINT")
            .where(F.col("batch_id") < batch_id)
            .select("vec_id")
        )

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        # deterministic within-batch unique pick: min (label, embedding)
        # struct per vec_id — retries of a dirty batch converge
        unique = (
            batch.groupBy("vec_id")
            .agg(F.min(F.struct("label", "embedding")).alias("s"))
            .select("vec_id", F.col("s.embedding").alias("embedding"), F.col("s.label").alias("label"))
        )
        fresh = unique.join(
            self._ids_before(batch_id), "vec_id", "left_anti"
        ).localCheckpoint(eager=True)

        # score the batch against the centroids ONCE; the IVF output
        # and the IVF-PQ residual encode both derive from it
        asg = ivf_assign_batch(self.spark, self.sf_dir, fresh).localCheckpoint(
            eager=True
        )
        outputs = (
            (fresh, self.vectors_path),
            (ann_assign_batch(self.spark, self.sf_dir, fresh), self.buckets_path),
            (asg.where("rc = 1").drop("rc"), self.ivf_path),
            (pq_encode_batch(self.spark, self.sf_dir, fresh), self.codes_path),
            (
                ivfpq_encode_batch(self.spark, self.sf_dir, fresh, asg=asg),
                self.ivfpq_path,
            ),
        )
        for df, path in outputs:
            _commit(df.withColumn("batch_id", F.lit(batch_id).cast("bigint")), path, "batch_id")

    def _read(self, path: str, empty_schema: str) -> DataFrame:
        return _committed(self.spark, path, "batch_id", empty_schema).drop("batch_id")

    def vectors(self) -> DataFrame:
        return self._read(self.vectors_path, _VEC_SCHEMA)

    def buckets(self) -> DataFrame:
        return self._read(self.buckets_path, "vec_id BIGINT, s INT, bucket INT")

    def ivf_assignment(self) -> DataFrame:
        return self._read(self.ivf_path, "vec_id BIGINT, cid INT")

    def codes(self) -> DataFrame:
        return self._read(self.codes_path, "vec_id BIGINT, sub INT, code INT")

    def ivfpq_codes(self) -> DataFrame:
        return self._read(
            self.ivfpq_path, "vec_id BIGINT, cid INT, sub INT, code INT"
        )
