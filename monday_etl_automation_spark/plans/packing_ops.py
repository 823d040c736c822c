"""Sequence packing: fill fixed-token-budget training sequences from
document chunks with minimal padding (SURVEY.md §2.12 — the step
between chunking and batch assembly in a pretraining data pipeline;
the reference has no analog, this is north-star surface).

Padding is pure waste at training time: a 2048-token sequence carrying
a single 64-token chunk burns 97% of its FLOPs on pad tokens. Packing
concatenates chunks (with the usual attention-mask reset between
documents) until the budget is full.

Operator shape (the 100 TB posture):

- **Shard, then pack.** Chunks are hash-sharded (deterministic md5 of
  doc_id — retry-stable, never ``rand()``); each shard packs
  INDEPENDENTLY, so parallelism = n_shards and no global state exists.
  Cross-shard packing could at best save < one sequence per shard of
  padding, which is noise at any real shard size.
- **Greedy first-fit-decreasing inside a shard** via ``applyInPandas``
  (grouped map, Arrow): sort by (tokens DESC, doc_id, chunk_idx),
  drop each chunk into the first open sequence with room, else open a
  new one. FFD is the textbook near-optimal bin-packing heuristic
  (≤ 11/9·OPT + 1); the per-shard loop is pure pandas — this is
  exactly the custom-operator case built-ins cannot express (stateful
  bin list per group), so the Pandas-UDF route is the design, not a
  fallback.
- Determinism: the sort key is total and the bin scan order is
  creation order, so task retries and re-runs produce identical
  assignments (pinned by tests/test_packing.py).

Chunks larger than the budget raise — the upstream chunker
(text_ops.chunk_documents) caps chunk size, so an oversize chunk here
is a pipeline-wiring bug, not data.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monday_etl_automation_spark.plans.text_ops import CHUNK_SIZE, chunk_documents

# deterministic cross-engine shard hash (same md5 trick as _SPARK_H60)
_SHARD = "pmod(CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT), {n})"

PACKED_SCHEMA = (
    "shard INT, seq_idx INT, doc_id BIGINT, chunk_idx BIGINT, n_chunk_tokens BIGINT"
)


def first_fit_assign(toks, budget: int) -> list[int]:
    """First-fit bin assignment over an already-sorted size sequence,
    via an implicit max-segment-tree over bin residuals: leaf b = open
    sequence b's remaining budget, inner node = max of its children, so
    "leftmost bin with room >= tok" is one root-to-leaf descent —
    O(log n) per chunk instead of the linear bin scan (full bins are
    never evicted from a first-fit bin list, so the naive scan is
    O(n_bins) per chunk and a 100k-chunk shard pays ~n^2/2 probes;
    r16). Assignments are IDENTICAL to the linear scan: same
    leftmost-fit rule, same creation order — pinned against the
    textbook reference in tests/test_release_extra.py — so determinism
    and the FFD guarantee carry unchanged."""
    n = len(toks)
    cap = 1
    while cap < max(1, n):
        cap <<= 1
    tree = [0] * (2 * cap)
    n_bins = 0
    out_seq = [0] * n
    for j in range(n):
        tok = int(toks[j])
        if tok > budget:
            raise ValueError(f"chunk of {tok} tokens exceeds budget {budget}")
        if n_bins > 0 and tree[1] >= tok:
            i = 1
            while i < cap:
                i <<= 1  # left child; +1 moves to the right sibling
                if tree[i] < tok:
                    i += 1
            b = i - cap
        else:
            b = n_bins
            n_bins += 1
            i = cap + b
            tree[i] = budget
        tree[i] -= tok
        i >>= 1
        while i:
            left, right = tree[2 * i], tree[2 * i + 1]
            tree[i] = left if left >= right else right
            i >>= 1
        out_seq[j] = b
    return out_seq


def pack_sequences(
    spark: SparkSession,
    sf_dir: str,
    budget: int = 256,
    n_shards: int = 8,
    chunk_size: int = CHUNK_SIZE,
    doc_ids: DataFrame | None = None,
    counter: str = "ws",
    chunks: DataFrame | None = None,
) -> DataFrame:
    """Assign every chunk to a (shard, seq_idx) training sequence whose
    token total never exceeds ``budget``. ``doc_ids`` (a one-column
    doc_id frame) restricts packing to those documents — the release
    pipeline packs only the released train split. ``counter='bpe'``
    budgets on REAL frozen-merges BPE counts (functions/bpe.py) — what
    a model's context window actually measures; size the budget for
    subword counts (a chunk's BPE count is >= its word count).
    ``chunks`` overrides the chunk source with a caller-prebuilt frame
    carrying (doc_id, chunk_idx, n_chunk_tokens) — tokenize-once reuse
    (plans/tokenize_ops.py); ``chunk_size``/``counter`` are ignored
    when it is given."""
    if chunks is None:
        # ordered=False: packing is order-independent — pack() sorts
        # each shard group deterministically before assigning seq_idx,
        # so the chunker's global ORDER BY only added a range exchange
        # + sort of every chunk row per execution (r18).
        chunks = chunk_documents(spark, sf_dir, chunk_size, counter=counter, ordered=False)
    chunks = chunks.select("doc_id", "chunk_idx", "n_chunk_tokens")
    if doc_ids is not None:
        chunks = chunks.join(doc_ids.select("doc_id"), "doc_id", "left_semi")
    sharded = chunks.withColumn("shard", F.expr(_SHARD.format(n=n_shards)).cast("int"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_chunk_tokens", "doc_id", "chunk_idx"], ascending=[False, True, True]
        )
        out_seq = first_fit_assign(pdf["n_chunk_tokens"].to_numpy(), budget)
        pdf = pdf.assign(seq_idx=pd.Series(out_seq, index=pdf.index, dtype="int32"))
        return pdf[["shard", "seq_idx", "doc_id", "chunk_idx", "n_chunk_tokens"]]

    return sharded.groupBy("shard").applyInPandas(pack, PACKED_SCHEMA)


def packing_stats(packed: DataFrame, budget: int = 256) -> DataFrame:
    """Per-run fill report: sequences, tokens, padding waste."""
    per_seq = packed.groupBy("shard", "seq_idx").agg(
        F.sum("n_chunk_tokens").alias("seq_tokens"),
        F.count(F.lit(1)).alias("n_chunks"),
    )
    return per_seq.agg(
        F.count(F.lit(1)).alias("n_sequences"),
        F.sum("seq_tokens").alias("total_tokens"),
        F.max("seq_tokens").alias("max_seq_tokens"),
        (F.sum("seq_tokens") / (F.count(F.lit(1)) * budget)).alias("fill_ratio"),
    )
