"""The composed RELEASE pipeline: corpus in, training shards out
(SURVEY.md §2.12 — the end-to-end run a data team ships).

Chains every individually-verified stage into one callable:

  1. corpus_prep        — quality gate, lang gate, exact dedup,
                          near-dup dedup (dispositions)
  2. eval-set exclusion — the benchmark slice (doc_id % BENCH_MOD = 0,
                          the same convention decontam_ops tests
                          against) never ships in training data
  3. decontamination    — remaining docs with >= HIT_MIN distinct
                          5-gram collisions against the eval set drop
  4. PII scrub          — released text passes through the shared
                          redaction patterns; the released corpus
                          carries ZERO residual PII by construction
  5. splits             — leakage-safe hash train/val/test assignment
  6. pack + shard       — the train split packs into fixed-token
                          sequences and lands as size-targeted parquet
                          shard files with a manifest

Output layout under ``out_dir``:
  released/split=train|val|test/  (doc_id, source, text [scrubbed],
                                   n_tokens)
  shards/shard=S/file_seq=F/      packed train sequences
and the returned summary frame is the run report (one row per stage
counter), cross-checked in tests/test_release.py against independent
recomputation of every stage.

Scale: pure composition — every stage keeps its own documented 100 TB
posture (row-local gates, hash/band dedup joins, broadcast n-gram
table, hash splits, shard-local packing); the pipeline adds joins on
doc_id only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monday_etl_automation_spark.plans.corpus_ops import corpus_prep
from monday_etl_automation_spark.plans.decontam_ops import (
    _BENCH_CAP,
    _BENCH_MOD,
    _HIT_MIN,
    _NGRAM,
    _gram_hash_array_sql,
    _ngram_hash_cte,
    scrub_expr,
)
from monday_etl_automation_spark.plans.packing_ops import pack_sequences
from monday_etl_automation_spark.plans.sampling_ops import corpus_splits
from monday_etl_automation_spark.sources.shard_writer import write_training_shards
from monday_etl_automation_spark.sources.tables import register_views

_TOKENS_PER_FILE = 2048  # shard file payload target


def _contaminated_ids(spark: SparkSession) -> DataFrame:
    """Corpus docs sharing >= {_HIT_MIN} distinct word-{_NGRAM}-grams
    with the eval slice — the real-text form of decontam_ops'
    benchmark_overlap (same hash family, no planted sentinels; r13:
    same row-local array-intersect shape — the bench-gram set is
    collected once and broadcast, the corpus side is map-only)."""
    return spark.sql(
        f"""
WITH corpus AS (
  SELECT doc_id, coalesce(text, '') AS text FROM documents
  WHERE doc_id % {_BENCH_MOD} <> 0
),
bench AS (
  -- the FIXED eval set (decontam_ops._BENCH_CAP): the gram table a
  -- decontam job holds is benchmark-sized, not a corpus share; the
  -- release EXCLUSION below still drops every % {_BENCH_MOD} doc
  SELECT doc_id, coalesce(text, '') AS text FROM documents
  WHERE doc_id % {_BENCH_MOD} = 0 AND doc_id < {_BENCH_CAP}
),
{_ngram_hash_cte('spark', 'bench', 'bg')},
bset AS (SELECT collect_set(h) AS hs FROM bg),
gha AS ({_gram_hash_array_sql('spark', 'corpus')}),
hits AS (
  SELECT doc_id, coalesce(size(array_intersect(gh, hs)), 0) AS n_hits
  FROM gha CROSS JOIN bset
)
SELECT doc_id FROM hits WHERE n_hits >= {_HIT_MIN}
""".strip()
    )


def release_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    pack_budget: int = 128,
    tokenizer: str = "ws",
    merges=None,
    eod: bool = False,
) -> DataFrame:
    register_views(spark, sf_dir)
    prep = corpus_prep(spark, sf_dir).localCheckpoint(eager=True)
    kept = prep.where("disposition = 'kept'").select("doc_id")
    bench = spark.sql(f"SELECT doc_id FROM documents WHERE doc_id % {_BENCH_MOD} = 0")
    contam = _contaminated_ids(spark).localCheckpoint(eager=True)

    released_ids = (
        kept.join(bench, "doc_id", "left_anti")
        .join(contam, "doc_id", "left_anti")
        .localCheckpoint(eager=True)
    )

    splits = corpus_splits(spark, sf_dir).select("doc_id", "split")
    released = (
        spark.table("documents")
        .join(released_ids, "doc_id", "left_semi")
        .join(splits, "doc_id")
        .withColumn("text", F.expr(scrub_expr("spark", "text")))  # ship scrubbed text only
        .selectExpr(
            "doc_id",
            "source",
            "text",
            # token count of the RELEASED (scrubbed) text
            "CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) AS n_tokens",
            "split",
        )
    )
    (
        released.repartition("split")
        .write.mode("overwrite")
        .partitionBy("split")
        .parquet(f"{out_dir}/released")
    )

    # read the just-written parquet back: filtering the lazy `released`
    # frame would re-execute the scrub/split/join plan over every
    # document a second time — the written artifact IS the cheap source
    back = spark.read.parquet(f"{out_dir}/released")
    train_ids = back.where("split = 'train'").select("doc_id")
    # no caller-side checkpoint: the shard writers materialize their
    # input themselves (self-join guard) — checkpointing here would
    # store the packed corpus twice.
    # tokenizer='bpe' ships TOKENIZED shards: sequences packed on real
    # BPE budgets with input_ids arrays (what a dataloader actually
    # streams) — size pack_budget for subword counts (>= word counts).
    if tokenizer == "bpe":
        from monday_etl_automation_spark.plans.tokenize_ops import (
            packed_token_sequences,
        )
        from monday_etl_automation_spark.sources.shard_writer import (
            write_tokenized_shards,
        )

        # any non-frozen merges table selects the vectorized
        # production-vocab tokenizer (functions/bpe_fast.py)
        seqs = packed_token_sequences(
            spark,
            sf_dir,
            budget=pack_budget,
            doc_ids=train_ids,
            merges=merges,
            eod=eod,
        )
        manifest = write_tokenized_shards(
            seqs, f"{out_dir}/shards", tokens_per_file=_TOKENS_PER_FILE
        ).localCheckpoint(eager=True)
    else:
        packed = pack_sequences(spark, sf_dir, budget=pack_budget, doc_ids=train_ids)
        manifest = write_training_shards(
            packed, f"{out_dir}/shards", tokens_per_file=_TOKENS_PER_FILE
        ).localCheckpoint(eager=True)
    stage_rows = [
        ("total_docs", spark.table("documents").count()),
        ("kept_after_prep", kept.count()),
        ("excluded_benchmark", kept.join(bench, "doc_id", "left_semi").count()),
        (
            "dropped_contaminated",
            kept.join(bench, "doc_id", "left_anti")
            .join(contam, "doc_id", "left_semi")
            .count(),
        ),
        ("released_total", back.count()),
        ("shard_files", manifest.count()),
        ("shard_tokens", manifest.agg(F.sum("n_tokens")).collect()[0][0] or 0),
    ]
    for split_name in sorted(r.split for r in back.select("split").distinct().collect()):
        stage_rows.append(
            (f"released_{split_name}", back.where(F.col("split") == split_name).count())
        )
    return spark.createDataFrame(stage_rows, "stage STRING, n BIGINT")
