"""End-to-end corpus preparation: the composed training-data pipeline.

Chains the individually-verified §2.12 operators into the pipeline a
pre-training data team actually runs, with per-document dispositions:

  1. quality gate    — text_profile's quality_score >= 55
  2. language gate   — lang_id's marker heuristic != 'unknown'
  3. exact dedup     — md5-of-normalized-text; keep min doc_id among
                       the gate survivors
  4. near-dup dedup  — simhash pair graph restricted to survivors;
                       drop any doc with a smaller-id surviving
                       neighbor (the one-step assignment rule of
                       dedup_ops._assign_frame)
  5. chunking        — kept docs fan out to 64-token/16-overlap chunks
                       (reported as n_chunks)

Dispositions are priority-ordered (a doc dropped by an earlier gate is
not re-judged by later ones), and dedup stages are scoped to gate
survivors — dropping a low-quality doc must not also drop its
surviving near-duplicate twin.

Scale shape: gates are row-local (codegen), exact dedup shuffles
16-byte hashes, the near-dup stage is the banded simhash equi-join
(never all-pairs), chunk counting is arithmetic on token counts (the
chunks themselves are never materialized here). One corpus scan per
stage input, no driver state — the composition inherits every
component's 100 TB posture.

Verified two ways (tests/test_corpus_prep.py): full-relation parity
with the DuckDB twin of the same composition, and a cross-check that
the inlined quality/lang expressions stay identical to text_profile's
and lang_id's (the formulas are deliberately shared constants).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from monday_etl_automation_spark.plans.dedup_ops import _simhash_pairs_sql
from monday_etl_automation_spark.plans.text_ops import (
    _DUCK_TOKS,
    _LANG_MARKERS,
    _SPARK_TOKS,
    _STOP_EN,
    _hits,
)
from monday_etl_automation_spark.sources.tables import register_views

QUALITY_MIN = 55
CHUNK_SIZE, CHUNK_OVERLAP = 64, 16


def _quality_cte(dialect: str) -> str:
    """Per-doc quality score — SAME formula as text_profile's
    quality_score (pinned equal by test_corpus_quality_matches_profile)."""
    spark = dialect == "spark"
    toks = _SPARK_TOKS if spark else _DUCK_TOKS
    stop_list = ", ".join(f"'{w}'" for w in _STOP_EN)
    if spark:
        n_toks = "size(toks)"
        sum_len = "CAST(aggregate(toks, 0, (acc, x) -> acc + length(x)) AS BIGINT)"
        n_stop = f"size(filter(toks, x -> x IN ({stop_list})))"
        n_dist = "size(array_distinct(toks))"
    else:
        n_toks = "CAST(len(toks) AS INT)"
        sum_len = "CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)"
        n_stop = f"CAST(len(list_filter(toks, x -> x IN ({stop_list}))) AS INT)"
        n_dist = "CAST(len(list_distinct(toks)) AS INT)"
    return f"""
qt AS (SELECT doc_id, text, {toks} AS toks FROM documents),
qs AS (
  SELECT doc_id, text, toks,
         {n_toks} AS n_tokens, {sum_len} AS sum_token_len,
         {n_stop} AS n_stopwords, {n_dist} AS n_distinct_tokens
  FROM qt
),
quality AS (
  SELECT doc_id, text, toks, n_tokens,
    CAST(
      CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 40 ELSE 0 END
      + CASE WHEN n_tokens > 0 AND sum_token_len * 10 BETWEEN n_tokens * 30 AND n_tokens * 80 THEN 30 ELSE 0 END
      + CASE WHEN n_stopwords * 100 >= n_tokens * 2 THEN 15 ELSE 0 END
      + CASE WHEN n_distinct_tokens * 100 >= n_tokens * 30 THEN 15 ELSE 0 END
    AS INT) AS quality_score
  FROM qs
)
""".strip()


def _lang_cte(dialect: str) -> str:
    """Per-doc language guess — same marker heuristic as lang_id."""
    hits = {lg: _hits(dialect, ws) for lg, ws in _LANG_MARKERS.items()}
    return f"""
lh AS (
  SELECT doc_id,
    {hits['en']} AS h_en, {hits['fr']} AS h_fr,
    {hits['es']} AS h_es, {hits['de']} AS h_de
  FROM quality
),
langg AS (
  SELECT doc_id,
    CASE
      WHEN h_en >= h_fr AND h_en >= h_es AND h_en >= h_de AND h_en > 0 THEN 'en'
      WHEN h_fr >= h_es AND h_fr >= h_de AND h_fr > 0 THEN 'fr'
      WHEN h_es >= h_de AND h_es > 0 THEN 'es'
      WHEN h_de > 0 THEN 'de'
      ELSE 'unknown'
    END AS guessed
  FROM lh
)
""".strip()


def _corpus_prep_sql(dialect: str) -> str:
    spark = dialect == "spark"
    ws = "'\\\\s+'" if spark else "'\\s+'"
    stride = CHUNK_SIZE - CHUNK_OVERLAP
    pairs = _simhash_pairs_sql(dialect).replace("\nORDER BY doc_id_a, doc_id_b", "")
    return f"""
WITH {_quality_cte(dialect)},
{_lang_cte(dialect)},
gated AS (
  SELECT q.doc_id, q.text, q.n_tokens, q.quality_score, l.guessed,
    CASE
      WHEN q.quality_score < {QUALITY_MIN} THEN 'dropped_quality'
      WHEN l.guessed = 'unknown' THEN 'dropped_lang'
      ELSE NULL
    END AS gate_drop
  FROM quality q JOIN langg l ON q.doc_id = l.doc_id
),
survivors AS (SELECT * FROM gated WHERE gate_drop IS NULL),
exact_keep AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY md5(regexp_replace(trim(lower(text)), {ws}, ' '))) AS keep_id
  FROM survivors
),
after_exact AS (
  SELECT s.doc_id, s.n_tokens,
         CASE WHEN e.keep_id <> s.doc_id THEN 'dropped_exact_dup' ELSE NULL END AS exact_drop
  FROM survivors s JOIN exact_keep e ON s.doc_id = e.doc_id
),
nd_pairs AS ({pairs}),
nd_edges AS (
  SELECT doc_id_a AS doc_id, doc_id_b AS nbr FROM nd_pairs
  UNION ALL
  SELECT doc_id_b AS doc_id, doc_id_a AS nbr FROM nd_pairs
),
final AS (
  SELECT a.doc_id, a.n_tokens,
    CASE
      WHEN a.exact_drop IS NOT NULL THEN a.exact_drop
      WHEN min(CASE WHEN b.doc_id IS NOT NULL AND b.exact_drop IS NULL THEN e.nbr END) < a.doc_id THEN 'dropped_near_dup'
      ELSE 'kept'
    END AS disposition
  FROM after_exact a
  LEFT JOIN nd_edges e ON a.doc_id = e.doc_id
  LEFT JOIN after_exact b ON e.nbr = b.doc_id
  GROUP BY a.doc_id, a.n_tokens, a.exact_drop
)
SELECT doc_id, disposition,
  CAST(CASE WHEN disposition = 'kept' AND n_tokens > 0
            THEN greatest(CAST(ceil((n_tokens - {CHUNK_OVERLAP}) / {stride}.0) AS BIGINT), 1)
            ELSE 0 END AS BIGINT) AS n_chunks
FROM final
UNION ALL
SELECT doc_id, gate_drop AS disposition, CAST(0 AS BIGINT) AS n_chunks
FROM gated WHERE gate_drop IS NOT NULL
ORDER BY doc_id
""".strip()


def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_corpus_prep_sql("spark"))


def corpus_prep_oracle() -> str:
    return _corpus_prep_sql("duckdb")


def corpus_prep_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-disposition doc counts + total chunks — the run report."""
    from pyspark.sql import functions as F

    return (
        corpus_prep(spark, sf_dir)
        .groupBy("disposition")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chunks").alias("n_chunks"),
        )
        .orderBy("disposition")
    )
