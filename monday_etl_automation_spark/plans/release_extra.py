"""Driver-hash exposure of the packing → tokenized-shard → release
family (SURVEY.md §2.12; r15 verdict item 1 — the engine's flagship
LLM deliverable, previously pytest-only).

Three union-tagged sections ride ``vector_extra``'s (shape, qid,
i1..i7, score, rk) relation:

- ``relr`` — the release pipeline's run report recomputed as ONE lazy
  dialect-templated SQL (no file writes): corpus_prep dispositions →
  eval-set exclusion → n-gram decontamination → hash splits. Every
  stage counter (total/kept/excluded/contaminated/released per split)
  is integer-exact in both engines, so the driver hash pins the entire
  released-id set construction end to end. The decontamination uses
  the PLANTED-sentinel form (decontam_ops.overlap_flags_ctes — the
  repo-wide non-vacuity pattern: the synthetic corpus has no real
  overlaps, so the raw form of plans/release_ops.py:_contaminated_ids
  would make dropped_contaminated a vacuous 0; the plant guarantees
  the stage actually drops docs in every run, and the raw form stays
  covered by tests/test_release.py).
- ``pack`` — the REAL first-fit-decreasing packer
  (plans/packing_ops.py, applyInPandas) runs per pass over the
  released train split's chunks; per-shard rows carry chunk-count /
  token-sum / md5-checksum conservation columns the oracle recomputes
  from the chunker alone (packing must lose, duplicate, and mutate
  nothing — the checksum pins the exact (doc_id, chunk_idx, tokens)
  multiset per md5 shard), the seq-count lower bound
  ceil(tokens/budget), plus two theorem-backed flags: budget_ok
  (no sequence exceeds the budget) and halffill_ok (first-fit leaves
  at most one bin ≤ half full ⇒ 2·tokens ≥ (n_seqs−1)·budget). The
  FFD assignment itself is inherently sequential per shard and not
  SQL-expressible — the flags + conservation checksum are exactly the
  contracts that survive an oracle (the quantile_stats-hll pattern).
- ``tokp`` — the tokenized-shard deliverable round-trip: BPE-budget
  packing (frozen merges, eod=True) → ``write_tokenized_shards`` to a
  snapshot-cached directory (a release is a build-once artifact, the
  persisted-index posture of the pq/ivfpq sections) → read the SHIPPED
  parquet back and aggregate per shard: total tokens (= Σ chunk BPE
  count + 1 EOD each), id-array lengths, doc_span counts, EOD
  occurrences, and a content checksum Σ(token ids) — the oracle
  recomputes every one from the DuckDB BPE expression chain over the
  train chunks, so the hash pins that the BYTES ON DISK carry exactly
  the ids the tokenizer owes. The files_ok column carries the writer
  contracts (per-file token payload < tokens_per_file + budget,
  manifest == shipped files) verified against the shipped files,
  pinned 1. The BPE budget itself is corpus-adaptive
  (max(512, largest chunk + EOD)) so a regenerated corpus with longer
  words can never turn the entry red — the exposed aggregates are
  budget-independent, so the oracle needs no mirror.

Scale: the report chain is the release pipeline's own posture (gates
row-local, bench-gram set broadcast, splits hash-local); the packer is
shard-local Python over Arrow batches with the O(n log n) segment-tree
first-fit; the shard writer is one partitionBy write. Reference: the
reference has no training-data surface at all — this is north-star
§2.12 capability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monday_etl_automation_spark.plans.corpus_ops import _corpus_prep_sql
from monday_etl_automation_spark.plans.decontam_ops import (
    _BENCH_MOD,
    overlap_flags_ctes,
)
from monday_etl_automation_spark.plans.sampling_ops import _split_sql
from monday_etl_automation_spark.plans.text_ops import _chunk_sql
from monday_etl_automation_spark.sources.tables import owned_tempdir, register_views

_PACK_BUDGET = 128  # release_ops default (ws counter)
_TOK_BUDGET = 512  # BPE budget (subword counts >= word counts)
_TOKENS_PER_FILE = 2048
_N_SHARDS = 8
_FRACS = {"train": 0.90, "val": 0.05, "test": 0.05}
_CK_MOD = 1_000_000_000_000  # checksum modulus: n * 1e12 << 2^63

# deterministic md5 shard of doc_id — MUST equal packing_ops._SHARD
_SHARD_EXPR = {
    "spark": (
        "pmod(CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10)"
        f" AS BIGINT), {_N_SHARDS})"
    ),
    "duckdb": (
        "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"
        f" % {_N_SHARDS}"
    ),
}


def _pack_checksum_expr(dialect: str) -> str:
    """60-bit md5 of 'pk:<doc>:<chunk>:<tokens>' mod 1e12 — summed per
    shard it pins the exact chunk multiset that survived packing."""
    if dialect == "spark":
        key = (
            "concat('pk:', CAST(doc_id AS STRING), ':',"
            " CAST(chunk_idx AS STRING), ':', CAST(n_chunk_tokens AS STRING))"
        )
        return (
            f"pmod(CAST(conv(substr(md5({key}), 1, 15), 16, 10) AS BIGINT),"
            f" {_CK_MOD})"
        )
    key = (
        "'pk:' || CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_idx AS VARCHAR)"
        " || ':' || CAST(n_chunk_tokens AS VARCHAR)"
    )
    return f"CAST('0x' || substr(md5({key}), 1, 15) AS BIGINT) % {_CK_MOD}"


def _prep_source(spark: SparkSession, sf_dir: str) -> str:
    """Snapshot-unique temp-view name over the MATERIALIZED corpus_prep
    dispositions. Catalyst inlines WITH CTEs, and corpus_prep's CTE DAG
    references survivors/after_exact multiply — inlined into a consumer
    it explodes to ~25 documents scans with the quality/lang/simhash
    expressions re-evaluated per scan (measured; release_ops
    localCheckpoints prep for the same reason). The dispositions are a
    build-once release artifact, so they persist per (session,
    documents snapshot) like every index; the DuckDB oracle still
    derives prep inline each compare, pinning materialized == derived.
    The view name embeds the snapshot digest (CLAUDE.md: a cached
    artifact's SQL must never resolve a reusable view name a later
    snapshot rebinds)."""
    import hashlib

    from monday_etl_automation_spark.plans.corpus_ops import corpus_prep
    from monday_etl_automation_spark.sources.tables import snapshot_key, snapshot_memo

    key = (snapshot_key(sf_dir, "documents"),)

    def build() -> tuple[DataFrame, str]:
        df = corpus_prep(spark, sf_dir).localCheckpoint(eager=True)
        name = "_rel_prep_" + hashlib.md5(repr(key).encode()).hexdigest()[:12]
        df.createOrReplaceTempView(name)
        return df, name

    return snapshot_memo(spark, "release_prep", key, build)[1]


def _released_ctes(
    dialect: str, prep_src: str | None = None, corp_spread: int | None = None
) -> str:
    """WITH-fragment ending in ``rel(doc_id, split)`` — the released
    corpus: prep-kept ∧ not benchmark ∧ not contaminated, with its
    hash-split assignment. Mirrors release_ops.release_training_corpus
    stage for stage (raw-text decontamination, same thresholds).
    ``prep_src``: a relation name carrying the materialized prep
    dispositions (the Spark executor passes _prep_source's view); None
    derives them inline — the oracle path. ``corp_spread``: Spark-only
    REPARTITION width for the decontam gram chain over an unsplittable
    scan (sources/tables.py:spread_n)."""
    splits = _split_sql(dialect, _FRACS).replace("\nORDER BY doc_id", "")
    if prep_src is None:
        prep = _corpus_prep_sql(dialect).replace("\nORDER BY doc_id", "")
        prep_rel = f"(SELECT * FROM ({prep}) p0)"
    else:
        prep_rel = prep_src
    return f"""prep AS (SELECT * FROM {prep_rel} pp),
kept AS (SELECT doc_id FROM prep WHERE disposition = 'kept'),
{overlap_flags_ctes(dialect, "r", corp_spread=corp_spread)},
rcontam AS (SELECT doc_id FROM rflags WHERE is_contaminated = 1),
rsplits AS (SELECT * FROM ({splits}) s0),
rel AS (
  SELECT k.doc_id, s.split
  FROM kept k
  JOIN rsplits s ON k.doc_id = s.doc_id
  LEFT JOIN rcontam c ON k.doc_id = c.doc_id
  WHERE k.doc_id % {_BENCH_MOD} <> 0 AND c.doc_id IS NULL
)"""


def _report_sql(
    dialect: str, prep_src: str | None = None, corp_spread: int | None = None
) -> str:
    """(stage, n) — the run report, one lazy query, both engines.

    Shape: ONE per-doc facts relation (kept/bench/contam flags + the
    split), one conditional aggregation, and an 8-row VALUES unpivot.
    The first draft computed each stage as its own scalar subquery —
    neither engine dedupes those, so the corpus_prep chain (simhash
    self-join included) executed ~8x per pass (measured 12.8s of the
    warm vector_extra pass at sf0.1; this shape is ~1.6s).

    facts reads FROM rsplits (r18): rsplits is row-local and exactly
    1:1 with documents (doc_id is unique), so the old
    ``documents JOIN rsplits`` scanned the corpus twice and paid a join
    for rows rsplits already carries — one scan and one join fewer in
    both engines, bit-identical counters."""
    stages = (
        "total_docs",
        "kept_after_prep",
        "excluded_benchmark",
        "dropped_contaminated",
        "released_total",
        "released_train",
        "released_val",
        "released_test",
    )
    vals = ", ".join(f"('{s}')" for s in stages)
    src = (
        f"VALUES {vals} AS sg(stage)"
        if dialect == "spark"
        else f"(VALUES {vals}) sg(stage)"
    )
    picks = " ".join(f"WHEN '{s}' THEN c_{s}" for s in stages)
    return f"""
WITH {_released_ctes(dialect, prep_src, corp_spread)},
facts AS (
  SELECT s.doc_id,
         CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS kept,
         CASE WHEN s.doc_id % {_BENCH_MOD} = 0 THEN 1 ELSE 0 END AS bench,
         CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS contam,
         s.split
  FROM rsplits s
  LEFT JOIN kept k ON s.doc_id = k.doc_id
  LEFT JOIN rcontam c ON s.doc_id = c.doc_id
),
agg AS (
  SELECT
    count(*) AS c_total_docs,
    sum(kept) AS c_kept_after_prep,
    sum(kept * bench) AS c_excluded_benchmark,
    sum(kept * (1 - bench) * contam) AS c_dropped_contaminated,
    sum(kept * (1 - bench) * (1 - contam)) AS c_released_total,
    sum(kept * (1 - bench) * (1 - contam)
        * CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS c_released_train,
    sum(kept * (1 - bench) * (1 - contam)
        * CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS c_released_val,
    sum(kept * (1 - bench) * (1 - contam)
        * CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS c_released_test
  FROM facts
)
SELECT sg.stage, CAST(CASE sg.stage {picks} END AS BIGINT) AS n
FROM agg CROSS JOIN {src}
""".strip()


def _train_chunks_sql(dialect: str, counter: str) -> str:
    """WITH-prefix + final relation ``tck`` — the released train
    split's chunks with their md5 shard (the packer's exact input)."""
    with_units = counter == "bpe"
    chunk = _chunk_sql(dialect, 64, 16, counter, with_units=with_units).replace(
        "\nORDER BY doc_id, chunk_idx", ""
    )
    units = ", c.bpe_u" if with_units else ""
    return f"""{_released_ctes(dialect)},
tid AS (SELECT doc_id FROM rel WHERE split = 'train'),
tck AS (
  SELECT c.doc_id, c.chunk_idx, c.n_chunk_tokens,
         {_SHARD_EXPR[dialect].replace("doc_id", "c.doc_id")} AS shard{units}
  FROM ({chunk}) c
  JOIN tid ON c.doc_id = tid.doc_id
)"""


def release_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from monday_etl_automation_spark.sources.tables import spread_n

    register_views(spark, sf_dir)
    return spark.sql(
        _report_sql(
            "spark",
            _prep_source(spark, sf_dir),
            corp_spread=spread_n(spark, sf_dir, "documents"),
        )
    )


def train_doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The released train-split id set, materialized ONCE per (session,
    documents snapshot): a release job computes its released-id set
    once and every downstream stage (pack, tokenize, shard) consumes
    it — the persisted-artifact posture of the signature/ANN/postings
    indexes. The ``relr`` section still executes the chain's LINEAR
    passes (decontam flags, splits, the facts join) lazily per pass
    over the materialized prep, so the pipeline's per-release read
    cost stays priced under the hash; consumers hold the returned
    HANDLE (CLAUDE.md)."""
    from monday_etl_automation_spark.sources.tables import snapshot_key, snapshot_memo

    register_views(spark, sf_dir)
    return snapshot_memo(
        spark,
        "release_train_ids",
        (snapshot_key(sf_dir, "documents"),),
        lambda: spark.sql(
            f"WITH {_released_ctes('spark', _prep_source(spark, sf_dir))}"
            " SELECT doc_id FROM rel WHERE split = 'train'"
        ).localCheckpoint(eager=True),
    )


def pack_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard FFD conservation + contract flags — one aggregation
    pass over the packer's output (no self-join, no checkpoint: the
    seq-level and shard-level aggregates compose in one tree)."""
    from monday_etl_automation_spark.plans.packing_ops import pack_sequences

    packed = pack_sequences(
        spark,
        sf_dir,
        budget=_PACK_BUDGET,
        n_shards=_N_SHARDS,
        doc_ids=train_doc_ids(spark, sf_dir),
    )
    return _pack_agg(packed)


def _pack_agg(packed: DataFrame) -> DataFrame:
    """The aggregation the hash rides, factored so the tamper tests can
    re-run the IDENTICAL expressions over a tampered released-id set
    (tests/test_artifact_tamper.py — the eperm/tokp/vstream pattern)."""
    per_seq = packed.groupBy("shard", "seq_idx").agg(
        F.count(F.lit(1)).alias("nc"),
        F.sum("n_chunk_tokens").alias("st"),
        F.sum(F.expr(_pack_checksum_expr("spark"))).alias("ck"),
    )
    b = _PACK_BUDGET
    return per_seq.groupBy("shard").agg(
        F.sum("nc").cast("bigint").alias("n_chunks"),
        F.sum("st").cast("bigint").alias("sum_tokens"),
        F.sum("ck").cast("bigint").alias("checksum"),
        F.expr(f"CAST((sum(st) + {b - 1}) div {b} AS BIGINT)").alias("lb_seqs"),
        F.expr(f"CAST(CASE WHEN max(st) <= {b} THEN 1 ELSE 0 END AS BIGINT)").alias(
            "budget_ok"
        ),
        F.expr(
            f"CAST(CASE WHEN 2 * sum(st) >= (count(*) - 1) * {b} THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("halffill_ok"),
    )


PACK_ORACLE_BODY = f"""
WITH {_train_chunks_sql("duckdb", "ws")}
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(n_chunk_tokens) AS BIGINT) AS sum_tokens,
       CAST(sum({_pack_checksum_expr("duckdb")}) AS BIGINT) AS checksum,
       CAST((sum(n_chunk_tokens) + {_PACK_BUDGET - 1}) // {_PACK_BUDGET} AS BIGINT)
         AS lb_seqs,
       CAST(1 AS BIGINT) AS budget_ok,
       CAST(1 AS BIGINT) AS halffill_ok
FROM tck
GROUP BY shard
""".strip()


# --- tokenized shard artifact -------------------------------------------------

def _tokenized_shard_artifact(spark: SparkSession, sf_dir: str) -> tuple:
    """(shard dir, manifest DataFrame) — built ONCE per (session,
    documents snapshot), like every persisted index: a release is a
    build-once artifact; per-pass cost is the read path. Superseded
    snapshots' directories are rmtree'd on eviction (the r15 timer-
    replay-source lesson, applied from birth here)."""
    from monday_etl_automation_spark.sources.tables import snapshot_key, snapshot_memo

    key = (snapshot_key(sf_dir, "documents"),)
    return snapshot_memo(spark, "tokp_shards", key, lambda: _build_tokenized_shards(spark, sf_dir))


def _build_tokenized_shards(spark: SparkSession, sf_dir: str) -> tuple:
    """_tokenized_shard_artifact's cache-miss body: pack, tokenize and
    write the train split's shards into a fresh temp directory."""
    from monday_etl_automation_spark.plans.tokenize_ops import packed_token_sequences
    from monday_etl_automation_spark.sources.shard_writer import write_tokenized_shards

    out = owned_tempdir("tokp_shards_")
    # corpus-adaptive budget: BPE counts of a 64-word chunk ride the
    # corpus's word lengths, and the testdata REGENERATES between
    # rounds — a fixed 512 would turn the whole entry red the round a
    # draw ships longer words (packed_token_sequences raises on a
    # chunk over budget, by design). The exposed tokp aggregates are
    # budget-INDEPENDENT (per-chunk token sums), so the oracle needs
    # no mirror; only the Spark-side files_ok bound uses the value,
    # which is why the artifact carries it.
    from monday_etl_automation_spark.plans.text_ops import chunk_documents

    mx = (
        chunk_documents(spark, sf_dir, counter="bpe")
        .agg(F.max("n_chunk_tokens"))
        .collect()[0][0]
        or 0
    )
    budget = max(_TOK_BUDGET, int(mx) + 1)  # +1: the EOD slot per chunk
    seqs = packed_token_sequences(
        spark,
        sf_dir,
        budget=budget,
        n_shards=_N_SHARDS,
        doc_ids=train_doc_ids(spark, sf_dir),
        eod=True,
    )
    manifest = write_tokenized_shards(
        seqs, out, tokens_per_file=_TOKENS_PER_FILE
    ).localCheckpoint(eager=True)
    return out, manifest, budget


def tokp_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard aggregates of the SHIPPED tokenized shards (read back
    from parquet — the bytes a dataloader would stream), plus the
    writer contracts verified against the manifest."""
    out, manifest, budget = _tokenized_shard_artifact(spark, sf_dir)
    back = spark.read.parquet(out)
    return _tokp_agg(back, manifest, budget)


def _tokp_agg(back: DataFrame, manifest: DataFrame, budget: int) -> DataFrame:
    """The aggregation the hash rides, factored so the tamper tests can
    re-run the IDENTICAL expressions over a corrupted copy of the
    shipped sequences (tests/test_artifact_tamper.py)."""
    from monday_etl_automation_spark.plans.tokenize_ops import eod_token_id

    eod = eod_token_id(None)
    per_seq = back.select(
        "shard",
        "file_seq",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.size("token_ids").cast("bigint").alias("n_ids"),
        F.size("doc_spans").cast("bigint").alias("n_docs"),
        F.expr("aggregate(token_ids, CAST(0 AS BIGINT), (acc, x) -> acc + x)").alias(
            "ids_sum"
        ),
        F.expr(f"size(filter(token_ids, x -> x = {eod}))").cast("bigint").alias(
            "n_eod"
        ),
    )
    per_file = per_seq.groupBy("shard", "file_seq").agg(
        F.count(F.lit(1)).alias("fn"),
        F.sum("n_tokens").alias("ft"),
        F.sum("n_ids").alias("fi"),
        F.sum("n_docs").alias("fd"),
        F.sum("ids_sum").alias("fs"),
        F.sum("n_eod").alias("fe"),
    )
    joined = per_file.join(manifest, ["shard", "file_seq"])
    files_ok = (
        f"CASE WHEN ft < {_TOKENS_PER_FILE + budget}"
        " AND ft = n_tokens AND fn = n_seqs THEN 1 ELSE 0 END"
    )
    return joined.groupBy("shard").agg(
        F.sum("ft").cast("bigint").alias("tok_total"),
        F.sum("fi").cast("bigint").alias("ids_total"),
        F.sum("fd").cast("bigint").alias("span_total"),
        F.sum("fs").cast("bigint").alias("ids_sum"),
        F.sum("fe").cast("bigint").alias("eod_total"),
        F.expr(f"CAST(min({files_ok}) AS BIGINT)").alias("files_ok"),
    )


def _tokp_oracle_body() -> str:
    from monday_etl_automation_spark.functions.bpe import bpe_token_ids_expr
    from monday_etl_automation_spark.plans.tokenize_ops import eod_token_id

    eod = eod_token_id(None)
    ids = bpe_token_ids_expr("duckdb", "bpe_u")
    # +1 everywhere: every chunk ships its EOD terminator (eod=True)
    return f"""
WITH {_train_chunks_sql("duckdb", "bpe")},
tid2 AS (
  SELECT shard, n_chunk_tokens + 1 AS n_tok,
         coalesce(list_sum({ids}), 0) + {eod} AS ids_sum
  FROM tck
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(sum(n_tok) AS BIGINT) AS tok_total,
       CAST(sum(n_tok) AS BIGINT) AS ids_total,
       CAST(count(*) AS BIGINT) AS span_total,
       CAST(sum(ids_sum) AS BIGINT) AS ids_sum,
       CAST(count(*) AS BIGINT) AS eod_total,
       CAST(1 AS BIGINT) AS files_ok
FROM tid2
GROUP BY shard
""".strip()
