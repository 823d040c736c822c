"""Benchmark decontamination + PII scrubbing (SURVEY.md §2.12 — two
standard steps of a pretraining corpus pipeline the engine was missing:
drop training docs that overlap the eval set, and redact personal data
before anything ships to a trainer).

Both are pure SQL with exact DuckDB twins (tests/test_decontam.py);
both stay OUT of the 50-entry driver registry (CLAUDE.md cap) like
packing/sampling — the pytest twins are the oracle.

- ``benchmark_overlap`` — n-gram collision decontamination (the
  GPT-3/Pile recipe): hash every word {_NGRAM}-gram of every corpus
  doc and of every benchmark doc, equi-join on the hash, and flag a
  corpus doc when it shares >= {_HIT_MIN} DISTINCT n-grams with the
  benchmark set. Scale shape: the benchmark n-gram table is tiny
  (eval sets are KB-MB against a 100 TB corpus) → broadcast side of
  the equi-join; the corpus side is a row-local explode — no
  all-pairs stage, no shuffle of the corpus beyond the final
  aggregation by doc.
- ``pii_scrub`` — regex redaction of emails / phone numbers / IPv4
  addresses, emitting per-doc match counts and the scrubbed text's
  length+md5. Entirely row-local string ops (whole-stage codegen, zero
  shuffles beyond the final ORDER BY): at 100 TB this is a map-only
  pass, which is the only acceptable shape for a whole-corpus rewrite.

The synthetic corpus contains no real overlaps or PII, so both
operators PLANT deterministic positives inside the query (same
augmentation in both dialects — the embed_near_dup pattern): benchmark
docs and ``doc_id % {_PLANT_MOD} == 0`` docs get a fixed sentinel
phrase appended (guaranteeing >= {_HIT_MIN} shared n-grams), and
``doc_id % {_PII_MOD} == 0`` docs get a doc_id-derived email, a phone,
and an IP. The checks therefore prove detection/redaction on known
positives instead of passing vacuously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from monday_etl_automation_spark.sources.tables import register_views

_BENCH_MOD = 97  # doc_id % 97 == 0 -> benchmark (eval-set stand-in)
# FIXED eval-set extent: real benchmark suites are KB–MB and do not
# grow with the training corpus, but the % 97 slice does — at 10x data
# the bench-gram set is 10x larger and every corpus doc's collision
# check pays for it (the same corpus-proportional-set trap as r12's
# cosine query set; measured 22.9x wall at 10x data before the cap).
# doc_id < 5000 covers every doc at the correctness SFs (sf0.001/0.01/
# 0.1 ids are all < 5000 — values there are bit-identical with or
# without the cap) and pins the eval set at 52 docs beyond them.
_BENCH_CAP = 5000
_PLANT_MOD = 31  # planted-contaminated corpus docs
_NGRAM = 5  # word n-gram size (collision unit)
_HIT_MIN = 3  # distinct shared n-grams to call a doc contaminated
_PII_MOD = 11  # docs that get planted PII

# 9 words -> 5 distinct 5-grams, comfortably >= _HIT_MIN
_SENTINEL = "zebra quark lattice govern ripple ember cactus violet marsh"

_TOKS = {
    "spark": "split(trim(coalesce(text, '')), '\\\\s+')",
    "duckdb": "regexp_split_to_array(trim(coalesce(text, '')), '\\s+')",
}

# the sentinel as a token array — for the pretokenized fragment path,
# where augmentation happens at token level (toks || sentinel toks ==
# tokens of (text || ' sentinel') whenever text has a non-whitespace
# char, which the corpus always does — and BOTH engines run the same
# token-level form, so the twin compare is exact regardless)
_SENT_ARR = {
    "spark": "array(" + ", ".join(f"'{w}'" for w in _SENTINEL.split()) + ")",
    "duckdb": "[" + ", ".join(f"'{w}'" for w in _SENTINEL.split()) + "]",
}


def _ngram_hash_cte(dialect: str, src: str, out: str) -> str:
    """{out}(doc_id, h): the distinct {_NGRAM}-gram hashes of relation
    {src}(doc_id, text). Spark hashes with xxhash64 (native codegen),
    DuckDB with the md5-derived 60-bit family (it has no xxhash64) —
    per-engine families may differ because only shared-gram COUNTS are
    ever exposed (see gram_hash_expr).

    Collision symptom (r18 ADVICE, for fast diagnosis if it ever
    fires): a hash collision in EITHER family would surface as a
    one-off n_hits/decon_hits count mismatch in the strict compare or
    driver hash on vector_extra/text_profile, with no code change to
    explain it. P < 1e-9 at current gram-set sizes; if seen, suspect
    this cross-family split first."""
    toks = _TOKS[dialect]
    if dialect == "spark":
        grams = (
            f"CASE WHEN size(toks) >= {_NGRAM} THEN"
            f" transform(sequence(0, size(toks) - {_NGRAM}),"
            f" i -> concat_ws(' ', slice(toks, i + 1, {_NGRAM})))"
            " ELSE array() END"
        )
        body = f"""SELECT doc_id, explode(grams) AS g
    FROM (SELECT doc_id, {grams} AS grams
          FROM (SELECT doc_id, {toks} AS toks FROM {src}))"""
        # r18: xxhash64 (native codegen) replaced md5+conv on the Spark
        # side. The engines now hash with DIFFERENT families — safe
        # because no surface exposes a gram hash VALUE: every consumer
        # (n_hits, decon_hits, is_contaminated, relr counters) is a
        # distinct-shared-gram COUNT, which is hash-independent as long
        # as each family is collision-free on the compared sets (64-bit
        # vs 60-bit over <=10^5 grams: P(collision) < 1e-9, and the
        # oracle gates verify on the fixed corpus every run).
        h = "xxhash64(g)"
    else:
        grams = (
            f"CASE WHEN len(toks) >= {_NGRAM} THEN"
            f" [array_to_string(toks[i:i + {_NGRAM} - 1], ' ')"
            f" for i in range(1, len(toks) - {_NGRAM} + 2)]"
            " ELSE [] END"
        )
        body = f"""SELECT doc_id, unnest(grams) AS g
    FROM (SELECT doc_id, {grams} AS grams
          FROM (SELECT doc_id, {toks} AS toks FROM {src}))"""
        h = "CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)"
    return f"""{out} AS (
  SELECT DISTINCT doc_id, {h} AS h
  FROM ({body}) ex
)"""


def gram_hash_expr(dialect: str, toks_expr: str = "toks") -> str:
    """The ROW-LOCAL {_NGRAM}-gram 60-bit hash ARRAY of a token-array
    expression — the one gram+hash definition every decon surface
    (standalone overlap, release scrub, text_profile's inline decon
    columns) derives from."""
    if dialect == "spark":
        grams = (
            f"CASE WHEN size({toks_expr}) >= {_NGRAM} THEN"
            f" transform(sequence(0, size({toks_expr}) - {_NGRAM}),"
            f" i -> concat_ws(' ', slice({toks_expr}, i + 1, {_NGRAM})))"
            " ELSE array() END"
        )
        # xxhash64 on the Spark side (r18) — see _ngram_hash_cte: the
        # corpus and bench sides share one family per engine, and only
        # COUNTS of shared grams are ever exposed, so the cross-engine
        # family split cannot surface. ~0.3s/pass cheaper than
        # md5+conv+substr at sf0.1 (measured, OPTIMIZATION_r18.md).
        return f"transform({grams}, g -> xxhash64(g))"
    grams = (
        f"CASE WHEN len({toks_expr}) >= {_NGRAM} THEN"
        f" [array_to_string(({toks_expr})[i:i + {_NGRAM} - 1], ' ')"
        f" for i in range(1, len({toks_expr}) - {_NGRAM} + 2)]"
        " ELSE [] END"
    )
    return f"list_transform({grams}, g -> CAST('0x' || substr(md5(g), 1, 15) AS BIGINT))"


def dc_corpus_toks_expr(dialect: str, toks: str = "toks") -> str:
    """Sentinel augmentation at TOKEN level (r14): identical to
    tokenizing the sentinel-appended text for any doc whose text has a
    non-whitespace char, and mirrored verbatim by the oracle — lets a
    caller that already tokenized the corpus (text_profile) reuse its
    token pass instead of paying a second tokenize."""
    concat = "concat" if dialect == "spark" else "list_concat"
    return (
        f"CASE WHEN doc_id % {_BENCH_MOD} = 0 OR doc_id % {_PLANT_MOD} = 0"
        f" THEN {concat}({toks}, {_SENT_ARR[dialect]})"
        f" ELSE {toks} END"
    )


def _gram_hash_array_sql(dialect: str, src: str) -> str:
    """``SELECT doc_id, gh`` over ``{src}(doc_id, text)`` where ``gh``
    is the ROW-LOCAL array of {_NGRAM}-gram 60-bit hashes
    (gram_hash_expr), kept as an array instead of exploded rows. At
    corpus scale the explode materializes ~|tokens| string rows per
    doc through the shuffle machinery (measured 3s of the 4s
    standalone overlap wall at sf0.1); the array form stays inside the
    row and the collision check becomes one array-intersect per doc
    against the broadcast bench-gram set."""
    return f"""SELECT doc_id, {gram_hash_expr(dialect, "toks")} AS gh
  FROM (SELECT doc_id, {_TOKS[dialect]} AS toks FROM {src}) t0"""


def bench_set_ctes(dialect: str, prefix: str = "") -> str:
    """WITH-fragment ending in ``{prefix}bset(hs)`` — the ONE-row,
    one-array benchmark n-gram hash set (sentinel-augmented %
    {_BENCH_MOD} docs under the fixed {_BENCH_CAP} cap). Benchmark
    suites are KB–MB at any corpus scale, so this side is always
    broadcast-sized; the doc_id filter pushes to the scan."""
    p = prefix
    bset = "collect_set(h)" if dialect == "spark" else "list(DISTINCT h)"
    bench = f"""{p}bench AS (
  SELECT doc_id, coalesce(text, '') || ' {_SENTINEL}' AS text
  FROM documents
  WHERE doc_id % {_BENCH_MOD} = 0 AND doc_id < {_BENCH_CAP}
)"""
    return f"""{bench},
{_ngram_hash_cte(dialect, f"{p}bench", f"{p}bg")},
{p}bset AS (SELECT {bset} AS hs FROM {p}bg)"""


def overlap_flags_ctes(dialect: str, prefix: str = "", corp_spread: int | None = None) -> str:
    """WITH-fragment ending in ``{prefix}flags(doc_id, n_hits,
    is_contaminated)`` — one row per NON-benchmark doc. The corpus
    side tokenizes ``documents`` itself (the standalone operator
    path); text_profile (plans/text_ops.py) instead composes
    bench_set_ctes + dc_corpus_toks_expr + gram_hash_expr inline over
    its existing token pass — same building blocks, so the
    decontamination the driver hashes is the decontamination the
    release pipeline applies.

    Shape: the benchmark side (eval sets are KB–MB at any corpus
    scale) explodes + dedupes into one DISTINCT hash set, collected to
    a single array and broadcast as a scalar subquery; every corpus
    doc then pays ONE row-local array_intersect — no corpus-side
    explode, no corpus-side join or shuffle. n_hits = the number of
    DISTINCT shared {_NGRAM}-grams, identical to the old exploded
    equi-join + count(DISTINCT) formulation (array_intersect /
    list_intersect both return distinct matches — verified) but ~4x
    cheaper at sf0.1 and map-only on the corpus side at 100 TB."""
    p = prefix
    n_hits = overlap_hits_expr(dialect)
    corp = f"""SELECT doc_id,
         CASE WHEN doc_id % {_PLANT_MOD} = 0
              THEN coalesce(text, '') || ' {_SENTINEL}'
              ELSE coalesce(text, '') END AS text
  FROM documents WHERE doc_id % {_BENCH_MOD} <> 0"""
    if corp_spread and dialect == "spark":
        # guide §2.5 input-skew spread (SQL form): the caller passes
        # the core count ONLY when the parquet layout cannot yield
        # cores/2 scan tasks (sources/tables.py:spread_n) — otherwise
        # the whole gram+intersect chain below runs inside the single
        # scan task.
        # The exchange carries the RAW (doc_id, text) rows, never the
        # derived gram arrays; at 100 TB the layout gate makes this a
        # no-op.
        corp = (
            f"SELECT /*+ REPARTITION({corp_spread}) */ doc_id, text"
            f" FROM ({corp}) {p}corp_raw"
        )
    return f"""{bench_set_ctes(dialect, p)},
{p}flags AS (
  SELECT doc_id,
         CAST({n_hits} AS BIGINT) AS n_hits,
         CAST(CASE WHEN {n_hits} >= {_HIT_MIN} THEN 1 ELSE 0 END AS BIGINT)
           AS is_contaminated
  FROM ({_gram_hash_array_sql(dialect, f"({corp}) {p}corp")}) {p}gha
  CROSS JOIN {p}bset
)"""


def overlap_hits_expr(dialect: str, gh: str = "gh") -> str:
    """Distinct shared-gram count of a gh array against the
    cross-joined ``hs`` bench-set column. hs rides in as a CROSS JOIN
    column, not a scalar subquery — DuckDB's list_intersect is a
    lambda macro and rejects subqueries inside lambdas."""
    if dialect == "spark":
        return f"coalesce(size(array_intersect({gh}, hs)), 0)"
    return f"coalesce(len(list_intersect({gh}, hs)), 0)"


def _overlap_sql(dialect: str) -> str:
    return f"""
WITH {overlap_flags_ctes(dialect)}
SELECT doc_id, n_hits, is_contaminated
FROM flags
ORDER BY doc_id
""".strip()


def benchmark_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_overlap_sql("spark"))


def benchmark_overlap_oracle() -> str:
    return _overlap_sql("duckdb")


# ---------------------------------------------------------------------------
# pii_scrub — regex redaction, row-local
# ---------------------------------------------------------------------------

# patterns restricted to syntax Java regex and RE2 interpret identically
_PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def _rx(dialect: str, pat: str) -> str:
    # Spark SQL string literals process backslash escapes; DuckDB's do not
    return pat.replace("\\", "\\\\") if dialect == "spark" else pat


def _scrub_one(dialect: str, col: str, pat: str, tag: str) -> str:
    p = _rx(dialect, pat)
    if dialect == "spark":  # Spark regexp_replace is global by default
        return f"regexp_replace({col}, '{p}', '<{tag}>')"
    return f"regexp_replace({col}, '{p}', '<{tag}>', 'g')"


def scrub_expr(dialect: str, col: str) -> str:
    """The canonical PII-redaction chain over every pattern — the ONE
    definition both the audited pii_scrub operator and the release
    pipeline (plans/release_ops.py) apply, so the shipped corpus can
    never scrub differently from what the audit checked."""
    out = f"coalesce({col}, '')"
    for tag, pat in _PII_PATTERNS.items():
        out = _scrub_one(dialect, out, pat, tag.upper())
    return out


def _count_expr(dialect: str, col: str, pat: str) -> str:
    p = _rx(dialect, pat)
    if dialect == "spark":
        return f"size(regexp_extract_all({col}, '{p}', 0))"
    return f"CAST(len(regexp_extract_all({col}, '{p}')) AS INT)"


def _pii_planted_expr(dialect: str) -> str:
    spark = dialect == "spark"
    return (
        "coalesce(text, '') || ' reach user' || CAST(doc_id AS STRING)"
        " || '@example.com or 555-867-5309 from 10.0.'"
        " || CAST(doc_id % 256 AS STRING) || '.7'"
        if spark
        else "coalesce(text, '') || ' reach user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com or 555-867-5309 from 10.0.'"
        " || CAST(doc_id % 256 AS VARCHAR) || '.7'"
    )


def pii_text_expr(dialect: str) -> str:
    """The corpus text with deterministic PII planted on the %
    {_PII_MOD} residue class (the non-vacuity plant every PII surface
    — standalone audit, text_profile columns — runs on)."""
    return (
        f"CASE WHEN doc_id % {_PII_MOD} = 0 THEN {_pii_planted_expr(dialect)}"
        " ELSE coalesce(text, '') END"
    )


def pii_counts_exprs(
    dialect: str, col: str = "text", scrubbed: str | None = None
) -> tuple[str, str]:
    """(pii_found, residual_pii) count expressions over ``col`` — the
    audit core (match counts before and after the canonical scrub
    chain). residual == 0 is the property that matters: the scrubbed
    corpus carries nothing the patterns still match.

    ``scrubbed``: pass a COLUMN carrying scrub_expr(col) when the
    caller can materialize it in its own projection layer (r14,
    text_profile): inlining the scrub cascade here re-evaluates it
    once per pattern — |patterns| x the regexp_replace chain per
    row."""
    if scrubbed is None:
        scrubbed = scrub_expr(dialect, col)
    found = " + ".join(_count_expr(dialect, col, p) for p in _PII_PATTERNS.values())
    residual = " + ".join(
        _count_expr(dialect, scrubbed, p) for p in _PII_PATTERNS.values()
    )
    return found, residual


def pii_aug_cte(dialect: str, prefix: str = "") -> str:
    """``{prefix}aug(doc_id, text)``: the corpus with the pii_text_expr
    plant applied."""
    return f"""{prefix}aug AS (
  SELECT doc_id, {pii_text_expr(dialect)} AS text
  FROM documents
)"""


def _pii_sql(dialect: str) -> str:
    scrubbed = scrub_expr(dialect, "text")

    def count(col: str, pat: str) -> str:
        return _count_expr(dialect, col, pat)

    return f"""
WITH {pii_aug_cte(dialect)}
SELECT doc_id,
       CAST({count("text", _PII_PATTERNS["email"])} AS BIGINT) AS n_emails,
       CAST({count("text", _PII_PATTERNS["phone"])} AS BIGINT) AS n_phones,
       CAST({count("text", _PII_PATTERNS["ip"])} AS BIGINT) AS n_ips,
       CAST(length({scrubbed}) AS BIGINT) AS clean_len,
       md5({scrubbed}) AS clean_md5,
       CAST({count(scrubbed, _PII_PATTERNS["email"])}
            + {count(scrubbed, _PII_PATTERNS["phone"])}
            + {count(scrubbed, _PII_PATTERNS["ip"])} AS BIGINT) AS residual_pii
FROM aug
ORDER BY doc_id
""".strip()


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_pii_sql("spark"))


def pii_scrub_oracle() -> str:
    return _pii_sql("duckdb")
