"""Training-shard writer: materialize packed sequences as
size-targeted parquet shards (SURVEY.md §2.12 — the last hop of the
pretraining data pipeline: chunk → pack → SHARD FILES that the
training job streams).

Trainers want shard files of roughly equal token payload: file count
drives dataloader parallelism, and a long-tail file stalls the final
wave of an epoch. The writer assigns whole packed sequences to output
files by a SHARD-LOCAL greedy token cumsum — file f of a shard takes
the sequences whose exclusive running total lands in
[f·budget, (f+1)·budget) — so:

- assignment is deterministic (ordered by seq_idx inside the md5
  shard; no rand(), retry-stable);
- no global state: each packing shard maps independently onto its own
  file sequence, parallelism = n_shards, identical at 100 TB;
- a file's payload overshoots the budget by at most one sequence
  (< the pack budget, i.e. bounded by construction — never by data).

Physical layout: ``out_dir/shard=S/file_seq=F/part-*.parquet`` with
EXACTLY ONE parquet file per (shard, file_seq): the frame is hash-
repartitioned on precisely the partition keys before a partitionBy
write, so each group lands in one task and each task writes one file
per directory it owns — the standard one-file-per-partition recipe.

Returns the manifest (shard, file_seq, n_seqs, n_tokens) — the
dataloader's index, KB-sized at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def plan_shard_files(packed: DataFrame, tokens_per_file: int) -> DataFrame:
    """(shard, seq_idx) -> file_seq by shard-local greedy cumsum."""
    per_seq = packed.groupBy("shard", "seq_idx").agg(
        F.sum("n_chunk_tokens").cast("bigint").alias("seq_tokens")
    )
    w = Window.partitionBy("shard").orderBy("seq_idx")
    cum_excl = F.coalesce(
        F.sum("seq_tokens").over(w) - F.col("seq_tokens"), F.lit(0)
    )
    return per_seq.withColumn(
        "file_seq", (cum_excl / F.lit(tokens_per_file)).cast("bigint")
    )


def write_training_shards(
    packed: DataFrame, out_dir: str, tokens_per_file: int = 4096
) -> DataFrame:
    """Write ``packed`` (pack_sequences output) as size-targeted
    parquet shard files; returns the manifest DataFrame."""
    # CLAUDE.md: materialize before self-joins — `assign` is an
    # aggregate of `packed`, and joining them unmaterialized would
    # execute the caller's plan twice (for pack_sequences output, that
    # is the full Python packing UDF, once per join side)
    packed = packed.localCheckpoint(eager=True)
    assign = plan_shard_files(packed, tokens_per_file)
    rows = packed.join(assign.select("shard", "seq_idx", "file_seq"), ["shard", "seq_idx"])
    # one task per (shard, file_seq) group -> exactly one file per dir
    (
        rows.repartition("shard", "file_seq")
        .sortWithinPartitions("shard", "file_seq", "seq_idx", "doc_id", "chunk_idx")
        .write.mode("overwrite")
        .partitionBy("shard", "file_seq")
        .parquet(out_dir)
    )
    return (
        assign.groupBy("shard", "file_seq")
        .agg(
            F.count("*").cast("bigint").alias("n_seqs"),
            F.sum("seq_tokens").cast("bigint").alias("n_tokens"),
        )
        .orderBy("shard", "file_seq")
    )


def read_training_shards(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read a shard directory back; partition columns come from paths."""
    return spark.read.parquet(out_dir)


# per-epoch salted shuffle hash: deterministic for (epoch, doc_id),
# decorrelated across epochs — every epoch is a fresh reproducible
# global permutation (same md5-derived construction as the sampling
# gate / split hashes in plans/sampling_ops.py)
_EPOCH_SHUF = (
    "CAST(conv(substr(md5(concat('order:', CAST({e} AS STRING), ':',"
    " CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
)

# shuffle keys are 15 hex digits of an md5 — uniform on [0, 16^15)
_SHUF_KEY_SPACE = 16**15


def shuffled_file_width(n_files: int) -> int:
    """Key-space width of one output file: fixed-width ranges over the
    uniform md5 key space. ceil keeps the top key inside file
    n_files - 1."""
    return -(-_SHUF_KEY_SPACE // n_files)


def write_shuffled_split(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    epoch: int = 0,
    n_files: int = 8,
) -> DataFrame:
    """Write the train split in reproducible globally-shuffled order —
    the materialization of SCALE.md's claim that "training order =
    ORDER BY shuffle_key is a distributed range write, not a sort on
    one machine": bucket rows by FIXED-WIDTH ranges of the epoch-salted
    shuffle key (file_id = key div width — row-local, deterministic,
    balanced because md5 keys are uniform by construction), shuffle
    once on file_id, and sort within each file, so concatenating the
    files in file_id order IS the epoch's global permutation. Epoch k
    and epoch k+1 are independent permutations; the same epoch
    re-writes byte-identical order (hash order, never rand()).

    r17: fixed-width key ranges replaced repartitionByRange — the
    sampled range boundaries were per-execution (CLAUDE.md), so file
    CONTENTS were nondeterministic even though the concatenated order
    was not. With uniform keys, fixed ranges keep the same balance
    (file populations are Binomial(n, 1/n_files) — tight at any scale),
    drop the sampling pass entirely, and make every per-file statistic
    reproducible — which is what lets the driver hash pin this writer
    (plans/eperm_extra.py). repartition(n_files, file_id) + partitionBy
    is the one-task-per-group recipe: exactly one parquet file per
    file_id directory.

    Returns the written frame read back (with its file lineage)."""
    from monday_etl_automation_spark.plans.sampling_ops import corpus_splits

    width = shuffled_file_width(n_files)
    df = (
        corpus_splits(spark, sf_dir)
        .where(F.col("split") == F.lit("train"))
        .drop("shuffle_key")
        .withColumn("shuffle_key", F.expr(_EPOCH_SHUF.format(e=epoch)))
        .withColumn("file_id", F.expr(f"shuffle_key DIV {width}"))
    )
    (
        df.repartition(n_files, "file_id")
        .sortWithinPartitions("file_id", "shuffle_key", "doc_id")
        .write.mode("overwrite")
        .partitionBy("file_id")
        .parquet(out_dir)
    )
    return spark.read.parquet(out_dir)


def write_tokenized_shards(
    seqs: DataFrame, out_dir: str, tokens_per_file: int = 4096
) -> DataFrame:
    """Write TOKENIZED training sequences (packed_token_sequences
    output: shard, seq_idx, token_ids, n_tokens) as size-targeted
    parquet shard files — the input_ids form a dataloader memory-maps
    directly. Same shard-local greedy cumsum, same
    one-file-per-(shard, file_seq) layout, same manifest contract as
    write_training_shards; the only difference is that rows carry the
    id arrays instead of (doc_id, chunk_idx) references."""
    seqs = seqs.localCheckpoint(eager=True)  # materialize before the self-join
    w = Window.partitionBy("shard").orderBy("seq_idx")
    cum_excl = F.coalesce(F.sum("n_tokens").over(w) - F.col("n_tokens"), F.lit(0))
    assign = seqs.select("shard", "seq_idx", "n_tokens").withColumn(
        "file_seq", (cum_excl / F.lit(tokens_per_file)).cast("bigint")
    )
    rows = seqs.join(assign.select("shard", "seq_idx", "file_seq"), ["shard", "seq_idx"])
    (
        rows.repartition("shard", "file_seq")
        .sortWithinPartitions("shard", "file_seq", "seq_idx")
        .write.mode("overwrite")
        .partitionBy("shard", "file_seq")
        .parquet(out_dir)
    )
    return (
        assign.groupBy("shard", "file_seq")
        .agg(
            F.count("*").cast("bigint").alias("n_seqs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .orderBy("shard", "file_seq")
    )
