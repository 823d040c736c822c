"""Corpus tokenization to token IDS (SURVEY.md §2.12 extension): the
step a real pretraining pipeline runs between text and tensors. Builds
on the frozen-merges BPE (functions/bpe.py) — same row-local
expression chain, so encoding is a map stage at any corpus size.

- ``encode_documents``: (doc_id, pos, token_id) long format — one row
  per token, 1-based ids into the deterministic vocab
  (36 base chars + 48 merge products). Long format keeps the DuckDB
  twin strict-comparable (BIGINT rows, no array columns in the hash).
- ``packed_token_sequences``: the packing assignment
  (plans/packing_ops.py, BPE budgets) joined back to per-chunk token
  ids and assembled into per-(shard, seq) id arrays in the exact FFD
  visit order — what a shard writer would serialize as input_ids.
  Assembly is one grouped collect over the packing's own deterministic
  order; the heavy work (tokenize, pack) happened upstream.

Cross-engine: ids are array positions in a shared literal vocab;
everything else is the proven BPE chain — integer-exact throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monday_etl_automation_spark.functions.bpe import (
    bpe_token_ids_expr,
    bpe_unit_string_expr,
)
from monday_etl_automation_spark.sources.tables import register_views


def _use_fast_path(merges) -> bool:
    """Tokenizer-path selection for a caller-supplied merges table:
    None -> the frozen 48-merge expression chain (the cross-engine
    oracle path); ANY other table -> the vectorized Arrow path
    (functions/bpe_fast.py, which handles any vocab size). The old
    rule (fast only above a size threshold) silently IGNORED a small
    non-frozen table — tokenizing with the frozen chain while
    eod_token_id() was computed from the passed table, so for
    len(merges) < 48 the EOD id collided with real frozen-vocab ids
    (round-12 advice, medium). Equality with the frozen table still
    rides the expression chain so the oracle twin stays exact."""
    if merges is None:
        return False
    from monday_etl_automation_spark.functions.bpe import _MERGES

    return tuple(tuple(p) for p in merges) != _MERGES


def eod_token_id(merges=None) -> int:
    """The reserved end-of-document token id for a merges table: one
    past the text vocab (36 base chars + one product per merge), so it
    can never collide with a text token. Same scheme at any vocab."""
    from monday_etl_automation_spark.functions.bpe import _MERGES

    return 36 + len(merges if merges is not None else _MERGES) + 1


def _encode_sql(dialect: str) -> str:
    u = bpe_unit_string_expr(dialect, "text")
    ids = bpe_token_ids_expr(dialect, "bpe_u")
    if dialect == "spark":
        ex = "SELECT doc_id, posexplode(ids) AS (pos, token_id) FROM ids_t"
        pos = "CAST(pos AS BIGINT) AS pos, CAST(token_id AS BIGINT) AS token_id"
    else:
        ex = (
            "SELECT doc_id, unnest(generate_series(1, len(ids))) - 1 AS pos, ids"
            " FROM ids_t"
        )
        pos = "CAST(pos AS BIGINT) AS pos, CAST(ids[pos + 1] AS BIGINT) AS token_id"
    return f"""
WITH t AS (
  SELECT doc_id, {u} AS bpe_u FROM documents
),
ids_t AS (
  SELECT doc_id, {ids} AS ids FROM t
),
ex AS ({ex})
SELECT doc_id, {pos}
FROM ex
ORDER BY doc_id, pos
""".strip()


def encode_documents(spark: SparkSession, sf_dir: str, merges=None) -> DataFrame:
    """(doc_id, pos, token_id) long-format encoding. Any non-frozen
    ``merges`` table selects the vectorized Arrow path
    (functions/bpe_fast.py) — identical output shape, production
    vocab; the default stays on the cross-engine expression chain the
    DuckDB oracle mirrors."""
    register_views(spark, sf_dir)
    if _use_fast_path(merges):
        from monday_etl_automation_spark.functions.bpe_fast import with_bpe_ids_fast

        docs = spark.table("documents").select("doc_id", "text")
        ids = with_bpe_ids_fast(docs, "text", "ids", merges=merges)
        return (
            ids.select("doc_id", F.posexplode("ids").alias("pos", "token_id"))
            .select(
                "doc_id",
                F.col("pos").cast("long").alias("pos"),
                F.col("token_id").cast("long").alias("token_id"),
            )
            .orderBy("doc_id", "pos")
        )
    return spark.sql(_encode_sql("spark"))


def encode_oracle() -> str:
    return _encode_sql("duckdb")


def packed_token_sequences(
    spark: SparkSession,
    sf_dir: str,
    budget: int = 512,
    n_shards: int = 8,
    doc_ids: DataFrame | None = None,
    merges=None,
    eod: bool = False,
) -> DataFrame:
    """(shard, seq_idx, token_ids, n_tokens): training sequences with
    REAL token ids, assembled in the packer's deterministic FFD visit
    order (tokens DESC, doc_id, chunk_idx) so re-runs byte-match.
    ``doc_ids`` restricts to those documents (the release pipeline
    passes its released train split).

    The chunk's ids derive from the SAME materialized unit string the
    packer's counter used — assignment and content cannot drift.

    ``merges`` selects the tokenizer path: None (default) uses the
    frozen 48-merge expression chain; any non-frozen table routes
    through the vectorized Arrow path
    (functions/bpe_fast.py) — one tokenize pass computes
    BOTH the packing budget counts and the ids, so budgets and content
    come from the same array and cannot drift at production vocab
    either.

    ``eod=True`` appends the reserved end-of-document id
    (``eod_token_id(merges)``, one past the text vocab) after every
    chunk's ids — what a causal-LM dataloader expects so attention
    resets on a literal token, not only on span metadata. The EOD
    token counts against the packing budget (n_chunk_tokens is bumped
    BEFORE the FFD assignment) and each doc_span covers its chunk's
    ids plus its terminator, so cumulative span boundaries land
    exactly ON the EOD ids."""
    from monday_etl_automation_spark.plans.packing_ops import pack_sequences
    from monday_etl_automation_spark.plans.text_ops import chunk_documents

    fast = _use_fast_path(merges)
    if fast:
        from monday_etl_automation_spark.functions.bpe_fast import bpe_ids_udf

        udf = bpe_ids_udf(spark, merges)
        chunks = chunk_documents(spark, sf_dir, counter="ws")
        chunks = chunks.withColumn("chunk_ids", udf(F.col("chunk_text"))).withColumn(
            "n_chunk_tokens", F.size("chunk_ids").cast("int")
        )
    else:
        # ONE tokenize pass: the chunker computes the merged unit
        # string per chunk (with_units=True) and is materialized before
        # its two consumers (packer + id derivation) — without this,
        # the packer, the chunk re-read, and a unit-string
        # re-derivation each re-ran the 48-replace BPE chain over every
        # chunk (3x the corpus cost; round-9 code-review finding).
        chunks = chunk_documents(spark, sf_dir, counter="bpe", with_units=True)
    if eod:
        # the terminator costs one budget slot per chunk — bump BEFORE
        # packing so no sequence exceeds the budget after EOD insertion
        chunks = chunks.withColumn(
            "n_chunk_tokens", (F.col("n_chunk_tokens") + F.lit(1)).cast("int")
        )
    if doc_ids is not None:
        chunks = chunks.join(doc_ids.select("doc_id"), "doc_id", "left_semi")
    chunks = chunks.localCheckpoint(eager=True)
    if eod:
        # fail with an EOD-aware message BEFORE the packer: a chunk
        # whose token count already equals the budget is bumped past it
        # by the terminator, and the packer's generic overflow error
        # never mentions EOD (round-12 advice). One agg over the
        # already-checkpointed chunks — no extra corpus pass.
        mx = chunks.agg(F.max("n_chunk_tokens")).first()[0]
        if mx is not None and mx > budget:
            raise ValueError(
                f"eod=True charges 1 budget slot per chunk: largest chunk has "
                f"{mx - 1} text tokens + EOD > budget {budget}; raise budget"
            )
    packed = pack_sequences(
        spark, sf_dir, budget=budget, n_shards=n_shards, chunks=chunks
    )
    if fast:
        ids = chunks.select("doc_id", "chunk_idx", "chunk_ids")
    else:
        chunks.createOrReplaceTempView("_tok_chunks")
        ids = spark.sql(
            "SELECT doc_id, chunk_idx, "
            + bpe_token_ids_expr("spark", "bpe_u")
            + " AS chunk_ids FROM _tok_chunks"
        )
    if eod:
        # match the element type per path (fast UDF yields bigint ids,
        # the expression chain yields int) — concat requires it
        elem = "bigint" if fast else "int"
        ids = ids.withColumn(
            "chunk_ids",
            F.concat(
                "chunk_ids", F.array(F.lit(eod_token_id(merges)).cast(elem))
            ),
        )
    return (
        packed.join(ids, ["doc_id", "chunk_idx"])
        .groupBy("shard", "seq_idx")
        .agg(
            F.flatten(
                # array_sort on (DESC-able key via negation, then asc
                # tie-breaks) reproduces the FFD visit order exactly
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                (-F.col("n_chunk_tokens")).alias("k1"),
                                F.col("doc_id").alias("k2"),
                                F.col("chunk_idx").alias("k3"),
                                F.col("chunk_ids").alias("ids"),
                            )
                        )
                    ),
                    lambda s: s["ids"],
                )
            ).alias("token_ids"),
            # per-chunk lengths in the same visit order: the attention
            # mask resets at each boundary — cumulative sums of
            # doc_spans are the segment starts inside token_ids
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("n_chunk_tokens")).alias("k1"),
                            F.col("doc_id").alias("k2"),
                            F.col("chunk_idx").alias("k3"),
                            F.col("n_chunk_tokens").alias("n"),
                        )
                    )
                ),
                lambda s: s["n"],
            ).alias("doc_spans"),
            F.sum("n_chunk_tokens").alias("n_tokens"),
        )
        .orderBy("shard", "seq_idx")
    )
