"""Deterministic mixture sampling: hit per-source token-share targets
(SURVEY.md §2.12 — the "data mixing" step of a pretraining pipeline:
upweight curated sources, downsample the crawl, cap any one domain).

Two operators, both pure SQL with DuckDB twins (exact cross-engine
parity — tests/test_sampling.py):

- ``mixture_rates`` — per-source keep-rates from target weights:
  rate_s = min(1, weight_s * T / tokens_s) where T is the total token
  budget. A source short of its target keeps everything (rate 1);
  oversupplied sources are thinned. One aggregation over the corpus
  (or a sample of it at 100 TB — shares survive sampling).
- ``mixture_sample`` — the row filter: keep doc iff
  md5_hash(doc_id) % 1e6 < rate * 1e6. Hash-gated, not ``rand()``:
  the SAME docs are kept on every run, task retry, and engine —
  reproducible data mixes are what make training runs comparable —
  and the filter is row-local (zero shuffle, fully pushable).

Expected-token accuracy: the hash gate keeps each doc independently
with probability ~rate, so realized tokens concentrate around the
target (law of large numbers over docs); the test pins a ±20% band at
test scale and exactness at rate 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from monday_etl_automation_spark.sources.tables import register_views

# 6-digit deterministic gate in [0, 1e6) from doc_id — same md5-derived
# construction as text_ops._SPARK_H60 / _DUCK_H60, identical value in
# both engines
_SPARK_GATE = "pmod(CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT), 1000000)"
_DUCK_GATE = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000"

_TOKS = {
    "spark": "size(split(trim(coalesce(text, '')), '\\\\s+'))",
    "duckdb": "len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'))",
}


def _weights_cte(weights: dict[str, float]) -> str:
    rows = ", ".join(f"('{s}', CAST({w} AS DOUBLE))" for s, w in sorted(weights.items()))
    return f"(VALUES {rows}) AS w(source, weight)"


def rates_ctes(
    dialect: str, weights: dict[str, float], total_tokens: int, prefix: str = ""
) -> str:
    """CTE chain computing per-source keep-rates, composable into a
    larger WITH statement (text_ops.text_profile embeds it under the
    ``mr_`` prefix for driver-oracle exposure). Final relation:
    ``{prefix}rates(source, n_tokens, target_tokens, keep_rate)``.

    Weights drive the join (LEFT JOIN from wt): a weighted source
    absent from the corpus (or present with zero tokens) must NOT
    silently inflate the normalizer z — that would thin every present
    source below its intended share and underfill the token budget.
    Such sources surface as explicit rows (n_tokens=0, keep_rate=0)
    and their weight is excluded from z; the division is guarded by
    the n_tokens > 0 branch so no zero-divide can occur.
    """
    toks = _TOKS[dialect]
    p = prefix
    return f"""{p}per_source AS (
  SELECT source, CAST(sum({toks}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
{p}wt AS (SELECT * FROM {_weights_cte(weights)}),
{p}eff AS (
  SELECT w.source, w.weight, CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
         -- z as a window over eff, not a separate aggregate CTE: a
         -- second eff reference would re-expand per_source (Spark
         -- inlines CTEs) and scan documents twice. The unpartitioned
         -- window is bounded by |weights| — a config literal, never
         -- data-sized
         CAST(sum(CASE WHEN p.n_tokens > 0 THEN w.weight ELSE 0.0 END)
              OVER () AS DOUBLE) AS z
  FROM {p}wt w LEFT JOIN {p}per_source p ON w.source = p.source
),
{p}rates AS (
  SELECT e.source,
         e.n_tokens,
         CAST(round(CASE WHEN e.n_tokens > 0 THEN e.weight / e.z * {total_tokens}
                         ELSE 0.0 END, 0) AS BIGINT) AS target_tokens,
         CASE WHEN e.n_tokens > 0
              THEN least(CAST(1.0 AS DOUBLE), (e.weight / e.z * {total_tokens}) / e.n_tokens)
              ELSE CAST(0.0 AS DOUBLE) END AS keep_rate
  FROM {p}eff e
)"""


def _rates_sql(dialect: str, weights: dict[str, float], total_tokens: int) -> str:
    return f"""
WITH {rates_ctes(dialect, weights, total_tokens)}
SELECT source, n_tokens, target_tokens, keep_rate
FROM rates
ORDER BY source
""".strip()


def _sample_sql(dialect: str, weights: dict[str, float], total_tokens: int) -> str:
    gate = _SPARK_GATE if dialect == "spark" else _DUCK_GATE
    toks = _TOKS[dialect]
    return f"""
WITH {rates_ctes(dialect, weights, total_tokens)},
gated AS (
  SELECT d.doc_id, d.source, CAST({toks} AS BIGINT) AS n_tokens,
         {gate} AS gate, r.keep_rate
  FROM documents d JOIN rates r ON d.source = r.source
)
SELECT doc_id, source, n_tokens
FROM gated
-- floor() explicitly: Spark CAST(double AS BIGINT) truncates, DuckDB
-- rounds — without it a fractional threshold >= .5 splits the engines
WHERE gate < CAST(floor(keep_rate * 1000000) AS BIGINT)
ORDER BY doc_id
""".strip()


def mixture_rates(
    spark: SparkSession, sf_dir: str, weights: dict[str, float], total_tokens: int
) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_rates_sql("spark", weights, total_tokens))


def mixture_rates_oracle(weights: dict[str, float], total_tokens: int) -> str:
    return _rates_sql("duckdb", weights, total_tokens)


def mixture_sample(
    spark: SparkSession, sf_dir: str, weights: dict[str, float], total_tokens: int
) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_sample_sql("spark", weights, total_tokens))


def mixture_sample_oracle(weights: dict[str, float], total_tokens: int) -> str:
    return _sample_sql("duckdb", weights, total_tokens)


# ---------------------------------------------------------------------------
# temperature_rates — weights FROM the corpus: w_s = n_s^alpha
# ---------------------------------------------------------------------------


def _temperature_rates_sql(dialect: str, alpha_pow2: int, total_tokens: int) -> str:
    """Temperature-scaled mixture rates (UniMax/mT5-style): instead of
    hand-set weights, w_s = n_s^alpha derived from the corpus itself —
    alpha = 1 reproduces natural token shares, alpha -> 0 approaches
    uniform-per-source, intermediate alphas damp the head sources
    without starving the tail (Xue et al., mT5, 2021 §3.1).

    Parity constraint: ``pow(x, alpha)`` goes through libm and drifts
    by last-ulp across engines (the `ln` lesson, text_ops.py:234).
    alpha is therefore restricted to 2^-k and computed as a k-deep
    ``sqrt`` chain — IEEE sqrt is CORRECTLY ROUNDED in every
    conforming implementation, so both engines produce bit-identical
    weights. k=0 -> alpha 1, k=1 -> 0.5, k=2 -> 0.25 (the common
    practical range).

    Same single-scan shape as ``rates_ctes``: one aggregation over the
    corpus, a |sources|-row window for the normalizer z.
    """
    if alpha_pow2 < 0:
        raise ValueError("alpha_pow2 must be >= 0 (alpha = 2^-alpha_pow2)")
    toks = _TOKS[dialect]
    w = "CAST(n_tokens AS DOUBLE)"
    for _ in range(alpha_pow2):
        w = f"sqrt({w})"
    return f"""
WITH per_source AS (
  SELECT source, CAST(sum({toks}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
eff AS (
  SELECT source, n_tokens, {w} AS w,
         CAST(sum({w}) OVER () AS DOUBLE) AS z
  FROM per_source WHERE n_tokens > 0
)
SELECT source, n_tokens,
       CAST(round(w / z * {total_tokens}, 0) AS BIGINT) AS target_tokens,
       least(CAST(1.0 AS DOUBLE), (w / z * {total_tokens}) / n_tokens) AS keep_rate
FROM eff
ORDER BY source
""".strip()


def temperature_rates(
    spark: SparkSession, sf_dir: str, alpha_pow2: int, total_tokens: int
) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_temperature_rates_sql("spark", alpha_pow2, total_tokens))


def temperature_rates_oracle(alpha_pow2: int, total_tokens: int) -> str:
    return _temperature_rates_sql("duckdb", alpha_pow2, total_tokens)


# ---------------------------------------------------------------------------
# quality_floor_sample — keep the top q% of each source by quality
# ---------------------------------------------------------------------------


def _quality_floor_sql(dialect: str, keep_ppm: int) -> str:
    """Per-source quality curation: keep the best ceil(q * n) documents
    of EVERY source (quality_score desc, doc_id tiebreak) — a global
    quality floor would silently delete entire weak sources, while the
    per-source floor preserves the mixture and trims each source's
    tail (the practical form of quality filtering when the mixture is
    chosen separately, cf. mixture_rates).

    Exactness: the keep decision is (rn - 1) * 1e6 < keep_ppm * n —
    pure BIGINT, no float thresholds, and CEIL semantics: rank 1
    always passes for any keep_ppm > 0, so a 1-doc source keeps its
    doc instead of vanishing (the `<=` floor form would delete every
    source with n < 1/q docs — exactly the failure this operator
    exists to prevent). One window over (source) — the same single
    keyed shuffle a groupBy would cost."""
    from monday_etl_automation_spark.plans.corpus_ops import _quality_cte

    return f"""
WITH {_quality_cte(dialect)},
ranked AS (
  SELECT d.doc_id, d.source, q.quality_score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY d.source ORDER BY q.quality_score DESC, d.doc_id ASC
         ) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY d.source) AS BIGINT) AS n
  FROM quality q JOIN documents d ON q.doc_id = d.doc_id
)
SELECT doc_id, source, quality_score, CAST(rn AS BIGINT) AS quality_rank
FROM ranked
WHERE (rn - 1) * 1000000 < {keep_ppm} * n
ORDER BY doc_id
""".strip()


def quality_floor_sample(
    spark: SparkSession, sf_dir: str, keep_frac: float = 0.5
) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_quality_floor_sql("spark", int(round(keep_frac * 1_000_000))))


def quality_floor_sample_oracle(keep_frac: float = 0.5) -> str:
    return _quality_floor_sql("duckdb", int(round(keep_frac * 1_000_000)))


# ---------------------------------------------------------------------------
# corpus_splits — deterministic train/val/test assignment + shuffle key
# ---------------------------------------------------------------------------

# Split and shuffle use per-purpose salted hashes, NOT the sampling
# gate's hash: reusing one hash for several decisions correlates them
# (every sampled doc would land in the same split region).
_SPARK_SPLIT_H = (
    "pmod(CAST(conv(substr(md5('split:' || CAST(doc_id AS STRING)), 1, 15), 16, 10)"
    " AS BIGINT), 1000000)"
)
_DUCK_SPLIT_H = (
    "CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"
    " % 1000000"
)
_SPARK_SHUF_H = "CAST(conv(substr(md5('order:' || CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
_DUCK_SHUF_H = "CAST('0x' || substr(md5('order:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"


_SPLIT_FRACS = {"train": 0.90, "val": 0.05, "test": 0.05}


def _split_sql(dialect: str, fracs: dict[str, float]) -> str:
    """Hash-range split assignment + deterministic shuffle key.

    - ``split``: the doc's salted hash falls into cumulative
      [0, f_train), [f_train, f_train+f_val), ... ranges of 1e6. Hash
      assignment (vs rand()) is what makes splits LEAKAGE-SAFE under
      corpus growth: a doc's split never depends on which other docs
      exist, so re-running after ingest moves nothing across the
      train/eval boundary (pinned in tests).
    - ``shuffle_key``: an independent salted hash; training order =
      ORDER BY shuffle_key is a reproducible global shuffle that needs
      no state — at 100 TB it is a repartitionByRange write, not a
      sort on one machine.

    Row-local (zero shuffles before any final ORDER BY), identical in
    both engines.
    """
    gate = _SPARK_SPLIT_H if dialect == "spark" else _DUCK_SPLIT_H
    shuf = _SPARK_SHUF_H if dialect == "spark" else _DUCK_SHUF_H
    total = sum(fracs.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    cases, lo = [], 0
    items = list(fracs.items())
    for name, frac in items[:-1]:
        hi = lo + int(round(frac * 1_000_000))
        cases.append(f"WHEN g < {hi} THEN '{name}'")
        lo = hi
    case = "CASE " + " ".join(cases) + f" ELSE '{items[-1][0]}' END"
    return f"""
WITH gated AS (
  SELECT doc_id, source, {gate} AS g, {shuf} AS shuffle_key FROM documents
)
SELECT doc_id, source, {case} AS split, shuffle_key
FROM gated
ORDER BY doc_id
""".strip()


def corpus_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_split_sql("spark", _SPLIT_FRACS))


def corpus_splits_oracle() -> str:
    return _split_sql("duckdb", _SPLIT_FRACS)
