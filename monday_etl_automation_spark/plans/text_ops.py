"""Text-analysis operators over the ``documents`` table (SURVEY.md §2.12).

Large-scale training-data pipeline surface: token statistics, quality
scoring, stopword-based language ID, BPE-ish token counting, and
chunking. Everything is row-local array/string compute
(whole-stage codegen, zero shuffles except final ordering) — the shape
that scales linearly to 100 TB: no UDFs, no driver state, no
cross-row dependencies.

Numeric policy: all outputs are ints / strings / exact ratios kept as
(numerator, denominator) int pairs, so the DuckDB oracle matches
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from monday_etl_automation_spark.sources.tables import register_views

# Shared token expressions (Spark SQL and DuckDB dialects)
_SPARK_TOKS = "split(trim(coalesce(text, '')), '\\\\s+')"
_DUCK_TOKS = "regexp_split_to_array(trim(coalesce(text, '')), '\\s+')"

_STOP_EN = ("the", "a", "of", "and", "to", "in")

# Spark SQL string literals process backslash escapes; DuckDB's do not.
_BPE_RE_SPARK = "[a-z]+|[0-9]+|[^a-z0-9\\\\s]"
_BPE_RE_DUCK = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


# ---------------------------------------------------------------------------
# lang_id — n-gram/stopword-heuristic language guess + accuracy rollup
# ---------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "y"),
    "de": ("der", "die", "und"),
}


def _hits(dialect_len: str, words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    if dialect_len == "spark":
        return f"size(filter(toks, x -> x IN ({lst})))"
    return f"CAST(len(list_filter(toks, x -> x IN ({lst}))) AS INT)"


def _lang_id_sql(dialect: str) -> str:
    toks = _SPARK_TOKS if dialect == "spark" else _DUCK_TOKS
    hits = {lg: _hits(dialect, ws) for lg, ws in _LANG_MARKERS.items()}
    return f"""
WITH t AS (SELECT doc_id, lang, {toks} AS toks FROM documents),
h AS (
  SELECT doc_id, lang,
    {hits['en']} AS h_en, {hits['fr']} AS h_fr,
    {hits['es']} AS h_es, {hits['de']} AS h_de
  FROM t
),
g AS (
  SELECT doc_id, lang, h_en, h_fr, h_es, h_de,
    CASE
      WHEN h_en >= h_fr AND h_en >= h_es AND h_en >= h_de AND h_en > 0 THEN 'en'
      WHEN h_fr >= h_es AND h_fr >= h_de AND h_fr > 0 THEN 'fr'
      WHEN h_es >= h_de AND h_es > 0 THEN 'es'
      WHEN h_de > 0 THEN 'de'
      ELSE 'unknown'
    END AS guessed
  FROM h
)
SELECT lang, guessed, count(*) AS n_docs
FROM g
GROUP BY lang, guessed
""".strip()


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_lang_id_sql("spark"))


# ---------------------------------------------------------------------------
# token_count_bpe — REAL frozen-merges BPE (functions/bpe.py; round 9
# replaced the earlier "BPE-ish" regex). The regex count stays as a
# third column: the two counts disagreeing is itself a useful signal
# (regex counts alnum runs + symbols; BPE counts subword units).
# ---------------------------------------------------------------------------


def _token_count_sql(dialect: str) -> str:
    from monday_etl_automation_spark.functions.bpe import (
        bpe_count_from_units_expr,
        bpe_unit_string_expr,
    )

    spark = dialect == "spark"
    toks = _SPARK_TOKS if spark else _DUCK_TOKS
    regex_cnt = (
        f"size(regexp_extract_all(coalesce(text, ''), '{_BPE_RE_SPARK}', 0))"
        if spark
        else f"CAST(len(regexp_extract_all(coalesce(text, ''), '{_BPE_RE_DUCK}', 0)) AS INT)"
    )
    ws_cnt = f"size({toks})" if spark else f"CAST(len({toks}) AS INT)"
    return f"""
WITH t AS (
  SELECT doc_id, text, {bpe_unit_string_expr(dialect, 'text')} AS bpe_u FROM documents
)
SELECT
  doc_id,
  {bpe_count_from_units_expr(dialect, 'bpe_u')} AS n_bpe_tokens,
  {regex_cnt} AS n_regex_tokens,
  {ws_cnt} AS n_ws_tokens
FROM t
ORDER BY doc_id
""".strip()


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_token_count_sql("spark"))


TOKEN_COUNT_ORACLE = _token_count_sql("duckdb")


# 60-bit hash of a shingle from its md5 hex prefix — identical in both
# engines: Spark conv(hex,16,10), DuckDB CAST('0x'||hex AS BIGINT);
# dedup_ops builds its shingle signatures on it.
_SPARK_H60 = "CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)"
_DUCK_H60 = "CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)"


# ---------------------------------------------------------------------------
# tfidf_top_terms — corpus-relative term relevance, integer-exact ranking
# ---------------------------------------------------------------------------

_TFIDF_K = 3


def _tfidf_sql(dialect: str) -> str:
    """Top-K most corpus-distinctive terms per document.

    Relevance = tf / df (term frequency over document frequency) —
    monotone in tf·idf for any monotone idf, but computable as ONE
    IEEE double division of two ints, identical in every engine;
    ln-based idf would hash-flake on last-ulp libm differences.
    Ties break on the term string. Terms shorter than 3 chars are
    noise-filtered.
    """
    if dialect == "spark":
        ex = f"SELECT doc_id, explode({_SPARK_TOKS}) AS term FROM documents"
        lower = "lower(term)"
    else:
        ex = f"SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents"
        lower = "lower(term)"
    return f"""
WITH ex AS ({ex}),
terms AS (SELECT doc_id, {lower} AS term FROM ex WHERE length(term) >= 3),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM terms GROUP BY term),
scored AS (
  SELECT
    tf.doc_id, tf.term, tf.tf, df.df,
    CAST(tf.tf AS DOUBLE) / df.df AS score,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY tf.doc_id
      ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term ASC
    ) AS INT) AS rk
  FROM tf JOIN df ON tf.term = df.term
)
SELECT doc_id, term, tf, df, round(score, 6) AS score, rk
FROM scored WHERE rk <= {_TFIDF_K}
""".strip()


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_tfidf_sql("spark"))


# ---------------------------------------------------------------------------
# text_profile — stats + quality + BPE counts + fingerprints in ONE scan
# (merged in round 2 so every text operator sits inside the driver's
# 50-entry correctness window; at scale this is also the shape you
# want: one pass over 100 TB computing every per-doc feature at once)
# ---------------------------------------------------------------------------


# canonical mixture-sampling config folded into text_profile for
# driver-oracle exposure (registry is capped at 50 entries — CLAUDE.md
# merge pattern): upweight src0, thin src1-src3, exclude the rest; the
# ghost source exercises the z-exclusion edge under the driver gate.
_MIX_WEIGHTS = {"src0": 6.0, "src1": 2.0, "src2": 1.0, "src3": 1.0, "ghost_source": 5.0}
# sized so the driver-gate corpus (sf0.01: ~1.4k tokens/source) shows
# BOTH regimes: src0 keeps everything (rate 1), src1-src3 are thinned
_MIX_BUDGET = 4_000


def _text_profile_sql(dialect: str, corpus: str = "documents") -> str:
    from monday_etl_automation_spark.plans.decontam_ops import (
        _BENCH_MOD,
        _HIT_MIN,
        bench_set_ctes,
        dc_corpus_toks_expr,
        gram_hash_expr,
        overlap_hits_expr,
        pii_counts_exprs,
        pii_text_expr,
        scrub_expr,
    )
    from monday_etl_automation_spark.plans.sampling_ops import (
        _DUCK_GATE,
        _SPARK_GATE,
        rates_ctes,
    )

    from monday_etl_automation_spark.functions.bpe import (
        bpe_count_from_units_expr,
        bpe_unit_string_expr,
    )

    spark = dialect == "spark"
    toks = _SPARK_TOKS if spark else _DUCK_TOKS
    mix_gate = _SPARK_GATE if spark else _DUCK_GATE
    stop_list = ", ".join(f"'{w}'" for w in _STOP_EN)
    # REAL frozen-merges BPE (round 9; was a "BPE-ish" regex count):
    # the unit string materializes once per row in CTE t, the count is
    # pure length arithmetic on it
    bpe = bpe_count_from_units_expr(dialect, "bpe_u")
    bpe_u = bpe_unit_string_expr(dialect, "text")
    pii_found, pii_residual = pii_counts_exprs(dialect, 'pz_text', scrubbed='pz_scrub')
    if spark:
        shingles = (
            "CASE WHEN size(toks) >= 3 THEN transform(sequence(0, size(toks) - 3),"
            " i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])) ELSE array(coalesce(text, '')) END"
        )
        hashes = f"transform(shingles, s -> {_SPARK_H60})"
        fp_min = "array_min(hashes)"
        fp_xor = "aggregate(hashes, CAST(0 AS BIGINT), (acc, h) -> acc ^ h)"
        n_toks = "size(toks)"
        sum_len = "CAST(aggregate(toks, 0, (acc, x) -> acc + length(x)) AS BIGINT)"
        n_stop = f"size(filter(toks, x -> x IN ({stop_list})))"
        n_dist = "size(array_distinct(toks))"
    else:
        shingles = (
            "CASE WHEN len(toks) >= 3 THEN [toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]"
            " for i in range(1, len(toks) - 1)] ELSE [coalesce(text, '')] END"
        )
        hashes = f"list_transform(shingles, s -> {_DUCK_H60})"
        fp_min = "list_min(hashes)"
        fp_xor = "reduce(hashes, (acc, h) -> xor(acc, h))"
        n_toks = "CAST(len(toks) AS INT)"
        sum_len = "CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)"
        n_stop = f"CAST(len(list_filter(toks, x -> x IN ({stop_list}))) AS INT)"
        n_dist = "CAST(len(list_distinct(toks)) AS INT)"
    return f"""
WITH t AS (
  SELECT doc_id, lang, source, n_chars, text, {toks} AS toks,
         {bpe_u} AS bpe_u
  FROM {corpus}
),
s AS (
  SELECT
    doc_id, lang, source, n_chars, text, toks,
    {n_toks} AS n_tokens,
    {sum_len} AS sum_token_len,
    {n_stop} AS n_stopwords,
    {n_dist} AS n_distinct_tokens,
    {bpe} AS n_bpe_tokens
  FROM t
),
sh AS (SELECT *, {shingles} AS shingles FROM s),
hs AS (SELECT *, {hashes} AS hashes FROM sh),
{rates_ctes(dialect, _MIX_WEIGHTS, _MIX_BUDGET, prefix="mr_")},
{bench_set_ctes(dialect, prefix="dc_")},
-- decontamination + PII audit columns ride the SAME corpus pass as
-- the fingerprints (round 14: one documents scan instead of three,
-- no corpus-sized doc_id joins — at 100 TB the r13 dc_flags/pz_pii
-- LEFT JOINs were corpus x corpus shuffles; now the only non-map
-- work left is the tiny broadcast bench set and mr_rates). The
-- expressions are the decontam_ops builders the standalone audits
-- and the release pipeline share; the sentinel plant happens at
-- TOKEN level, reusing the t-CTE token pass instead of a second
-- tokenize.
hw AS (
  -- helper columns MATERIALIZED as multi-referenced aliases so the
  -- optimizer's project-collapse can't inline them into the lambdas
  -- below (an inlined dc_toks re-evaluates the CASE+concat PER GRAM
  -- inside the transform — measured +1.6s at sf0.1; same shape as the
  -- r13 narrow-subtree form, without its extra scans/joins)
  SELECT hs.*,
         {dc_corpus_toks_expr(dialect, "toks")} AS dc_toks,
         {pii_text_expr(dialect)} AS pz_text
  FROM hs
),
hx AS (
  SELECT hw.*,
         {gram_hash_expr(dialect, "dc_toks")} AS dc_gh,
         {scrub_expr(dialect, "pz_text")} AS pz_scrub,
         CAST({pii_found} AS BIGINT) AS pii_found
  FROM hw
),
hy AS (
  SELECT hx.*, CAST({overlap_hits_expr(dialect, "dc_gh")} AS BIGINT) AS dc_n_hits,
         CAST({pii_residual} AS BIGINT) AS residual_pii
  FROM hx CROSS JOIN dc_bset
)
SELECT
  hy.doc_id, lang, hy.source, n_chars, hy.n_tokens, sum_token_len, n_stopwords, n_distinct_tokens,
  CAST(
    CASE WHEN hy.n_tokens BETWEEN 20 AND 1000 THEN 40 ELSE 0 END
    + CASE WHEN hy.n_tokens > 0 AND sum_token_len * 10 BETWEEN hy.n_tokens * 30 AND hy.n_tokens * 80 THEN 30 ELSE 0 END
    + CASE WHEN n_stopwords * 100 >= hy.n_tokens * 2 THEN 15 ELSE 0 END
    + CASE WHEN n_distinct_tokens * 100 >= hy.n_tokens * 30 THEN 15 ELSE 0 END
  AS INT) AS quality_score,
  n_bpe_tokens,
  hy.n_tokens AS n_ws_tokens,
  {fp_min} AS fp_min,
  {fp_xor} AS fp_xor,
  -- decon_* are NULL for benchmark docs (doc_id % {_BENCH_MOD} == 0)
  -- — they're the eval set, not candidates
  CASE WHEN hy.doc_id % {_BENCH_MOD} = 0 THEN CAST(NULL AS BIGINT)
       ELSE dc_n_hits END AS decon_hits,
  CASE WHEN hy.doc_id % {_BENCH_MOD} = 0 THEN CAST(NULL AS BIGINT)
       ELSE CAST(CASE WHEN dc_n_hits >= {_HIT_MIN} THEN 1 ELSE 0 END AS BIGINT)
       END AS decon_flag,
  pii_found,
  residual_pii,
  coalesce(r.keep_rate, CAST(0.0 AS DOUBLE)) AS mix_keep_rate,
  -- floor() explicitly: Spark's CAST(double AS BIGINT) truncates but
  -- DuckDB's ROUNDS — a keep_rate*1e6 with fraction >= 0.5 would give
  -- the two engines different gate thresholds (driver hash mismatch)
  CAST(CASE WHEN {mix_gate} < CAST(floor(coalesce(r.keep_rate, 0.0) * 1000000) AS BIGINT)
       THEN 1 ELSE 0 END AS BIGINT) AS mix_kept
FROM hy
LEFT JOIN mr_rates r ON hy.source = r.source
ORDER BY hy.doc_id
""".strip()


def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus rows are RANGE-REPARTITIONED on doc_id before any
    derivation (r14): the query's one range exchange (it always ended
    with ORDER BY doc_id) moves from after the heavy expressions to
    before them, so the exchange carries the NARROW raw columns and
    every expensive per-row expression (tokenize, shingle/gram hashing,
    PII regex cascade, BPE unit build) runs on shuffle-partition-many
    tasks — the SCALE.md "shuffle narrow, derive wide after" shape.
    Locally this is the difference between 1 and 32 working cores: the
    testdata parquet ships ONE row group, so the scan itself is
    unsplittable and everything upstream of an exchange is a single
    task (measured 6.7s -> ~2s warm at sf0.1). The final ORDER BY's
    distribution requirement is already satisfied by the range
    partitioning, so no second exchange appears; at 100 TB (many
    splits) the plan is the same single corpus redistribution the
    ORDER BY always cost."""
    register_views(spark, sf_dir)
    # width = the session's shuffle-partition setting (self-tuning on a
    # cluster; 32 locally via session.py), never < 1 (r14 ADVICE: a raw
    # SPARK_GRAFT_CPUS=0 would fail this one query while the rest of
    # the engine kept working)
    width = max(1, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    spark.sql("SELECT doc_id, lang, source, n_chars, text FROM documents").repartitionByRange(
        width, "doc_id"
    ).createOrReplaceTempView("_tp_docs")
    return spark.sql(_text_profile_sql("spark", corpus="_tp_docs"))


# ---------------------------------------------------------------------------
# chunk_documents — token-bounded overlapping chunks (the unit LLM
# training pipelines actually feed to tokenizers: fixed window, fixed
# stride, deterministic per doc). Row-local explode: one doc fans out
# to ceil((n_tokens - overlap) / stride) rows with zero shuffles — at
# 100 TB chunking is a map stage, never a repartition.
# ---------------------------------------------------------------------------

CHUNK_SIZE, CHUNK_OVERLAP = 64, 16  # window tokens, tokens shared by neighbours


def _chunk_sql(
    dialect: str, size: int, overlap: int, counter: str = "ws", with_units: bool = False
) -> str:
    """``counter='ws'``: n_chunk_tokens = whitespace token count (the
    window arithmetic, free). ``counter='bpe'``: n_chunk_tokens = REAL
    frozen-merges BPE count of the chunk text (functions/bpe.py) —
    what a training pipeline's packing budget actually means. Both are
    row-local; the BPE variant adds the expression chain per chunk.
    ``with_units`` (bpe only) also projects the merged unit string
    ``bpe_u`` so downstream token-id derivation reuses THIS chain
    instead of re-running it (plans/tokenize_ops.py)."""
    stride = size - overlap
    if dialect == "spark":
        # slice() is 1-indexed; sequence gives chunk starts 0, stride, ...
        head = f"""
WITH t AS (
  SELECT doc_id, {_SPARK_TOKS} AS toks FROM documents
),
n AS (
  SELECT doc_id, toks, size(toks) AS n_tokens FROM t
),
c AS (
  SELECT
    doc_id, toks, n_tokens,
    explode(sequence(0, CAST(greatest(ceil((n_tokens - {overlap}) / {stride}.0) - 1, 0) AS INT))) AS chunk_idx
  FROM n WHERE n_tokens > 0
),
ch AS (
  SELECT
    doc_id,
    CAST(chunk_idx AS BIGINT) AS chunk_idx,
    array_join(slice(toks, chunk_idx * {stride} + 1, {size}), ' ') AS chunk_text,
    CAST(least(n_tokens - chunk_idx * {stride}, {size}) AS BIGINT) AS n_ws_chunk_tokens
  FROM c
)"""
    else:
        head = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
n AS (
  SELECT doc_id, toks, len(toks) AS n_tokens FROM t
),
c AS (
  SELECT
    doc_id, toks, n_tokens,
    unnest(generate_series(0, CAST(greatest(ceil((n_tokens - {overlap}) / {stride}.0) - 1, 0) AS INT))) AS chunk_idx
  FROM n WHERE n_tokens > 0
),
ch AS (
  SELECT
    doc_id,
    CAST(chunk_idx AS BIGINT) AS chunk_idx,
    array_to_string(toks[chunk_idx * {stride} + 1 : chunk_idx * {stride} + {size}], ' ') AS chunk_text,
    CAST(least(n_tokens - chunk_idx * {stride}, {size}) AS BIGINT) AS n_ws_chunk_tokens
  FROM c
)"""
    if counter == "bpe":
        from monday_etl_automation_spark.functions.bpe import (
            bpe_count_from_units_expr,
            bpe_unit_string_expr,
        )

        units_col = ",\n       bpe_u" if with_units else ""
        return f"""{head.strip()},
b AS (
  SELECT doc_id, chunk_idx, chunk_text,
         {bpe_unit_string_expr(dialect, 'chunk_text')} AS bpe_u
  FROM ch
)
SELECT doc_id, chunk_idx, chunk_text,
       {bpe_count_from_units_expr(dialect, 'bpe_u')} AS n_chunk_tokens{units_col}
FROM b
ORDER BY doc_id, chunk_idx
"""
    return f"""{head.strip()}
SELECT doc_id, chunk_idx, chunk_text, n_ws_chunk_tokens AS n_chunk_tokens
FROM ch
ORDER BY doc_id, chunk_idx
"""


def chunk_documents(
    spark: SparkSession,
    sf_dir: str,
    size: int = CHUNK_SIZE,
    overlap: int = CHUNK_OVERLAP,
    counter: str = "ws",
    with_units: bool = False,
    ordered: bool = True,
) -> DataFrame:
    """``ordered=False`` strips the trailing global sort (r18): callers
    whose downstream is order-independent (the FFD packer re-sorts
    within each shard group) otherwise pay a range exchange + sort of
    every chunk row per execution for nothing."""
    register_views(spark, sf_dir)
    sql = _chunk_sql("spark", size, overlap, counter, with_units)
    if not ordered:
        sql = sql.replace("\nORDER BY doc_id, chunk_idx", "")
    return spark.sql(sql)


def chunk_oracle(counter: str = "ws") -> str:
    return _chunk_sql("duckdb", CHUNK_SIZE, CHUNK_OVERLAP, counter)


# ---------------------------------------------------------------------------
# dedup_repeated_blocks — within-document repetition removal (quality
# filter: boilerplate/loops repeat verbatim). Unit = consecutive
# BLOCK-token segments; duplicate segments after the first occurrence
# are dropped and the doc is reassembled in original order. Row-local
# per doc (explode + per-doc window over doc_id) — partitions by
# doc_id only, the natural key, no global shuffle beyond it.
# ---------------------------------------------------------------------------

_BLOCK = 8


def _repdedup_sql(dialect: str) -> str:
    b = _BLOCK
    if dialect == "spark":
        return f"""
WITH t AS (
  SELECT doc_id, {_SPARK_TOKS} AS toks FROM documents
),
blocks AS (
  SELECT
    doc_id,
    explode(sequence(0, CAST(greatest(ceil(size(toks) / {b}.0) - 1, 0) AS INT))) AS block_idx,
    toks
  FROM t WHERE size(toks) > 0
),
seg AS (
  SELECT doc_id, block_idx,
         array_join(slice(toks, block_idx * {b} + 1, {b}), ' ') AS block_text
  FROM blocks
),
firsts AS (
  SELECT doc_id, block_text, min(block_idx) AS keep_idx, count(*) AS n_occurrences
  FROM seg GROUP BY doc_id, block_text
)
SELECT
  doc_id,
  CAST(count(*) AS BIGINT) AS n_kept_blocks,
  CAST(sum(n_occurrences) AS BIGINT) AS n_total_blocks,
  array_join(transform(array_sort(collect_list(struct(keep_idx, block_text))), x -> x.block_text), ' ') AS deduped_text
FROM firsts
GROUP BY doc_id
ORDER BY doc_id
"""
    return f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
blocks AS (
  SELECT doc_id,
         unnest(generate_series(0, CAST(greatest(ceil(len(toks) / {b}.0) - 1, 0) AS INT))) AS block_idx,
         toks
  FROM t WHERE len(toks) > 0
),
seg AS (
  SELECT doc_id, block_idx,
         array_to_string(toks[block_idx * {b} + 1 : block_idx * {b} + {b}], ' ') AS block_text
  FROM blocks
),
firsts AS (
  SELECT doc_id, block_text, min(block_idx) AS keep_idx, count(*) AS n_occurrences
  FROM seg GROUP BY doc_id, block_text
)
SELECT
  doc_id,
  CAST(count(*) AS BIGINT) AS n_kept_blocks,
  CAST(sum(n_occurrences) AS BIGINT) AS n_total_blocks,
  string_agg(block_text, ' ' ORDER BY keep_idx) AS deduped_text
FROM firsts
GROUP BY doc_id
ORDER BY doc_id
"""


def dedup_repeated_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_repdedup_sql("spark"))


def repdedup_oracle() -> str:
    return _repdedup_sql("duckdb")


QUERIES: dict[str, tuple] = {
    "text_profile": (text_profile, _text_profile_sql("duckdb")),
    "tfidf_top_terms": (tfidf_top_terms, _tfidf_sql("duckdb")),
    "lang_id": (lang_id, _lang_id_sql("duckdb")),
}
