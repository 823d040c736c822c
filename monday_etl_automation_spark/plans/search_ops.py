"""BM25 ranked retrieval over the ``documents`` table (SURVEY.md §2.12).

Full-text search is the retrieval half of a training-data pipeline
(eval-set mining, targeted corpus slicing, nearest-document lookup by
keyword): given a set of term queries, return the top-K documents per
query under BM25 (k1 = 1.2, b = 0.75).

Scale shape: ONE corpus scan builds the exploded term relation; the
query set rides along as a per-row parameter table (broadcast literal
— the CLAUDE.md one-scan-not-N-branches rule), so 1 query or 10 000
queries cost the same corpus pass. tf is computed only for documents
sharing >= 1 query term (an equi-join against the distinct query
terms prunes the agg input before it shuffles); df/N/avgdl are
corpus-global aggregates of the same scan. At 100 TB the term
relation is the posting list you'd materialize once per corpus
snapshot and the per-query work is a broadcast-join + hash agg.

Cross-engine exactness (the tfidf lesson, `text_ops.py:234`): no
``ln`` — libm log is not correctly rounded, so last-ulp drift across
engines would flake the strict hash compare. Round 9 replaced the
earlier rational-idf variant (which measurably misordered — and at
sf0.01+ changed the top-10 SET of — the mixed-idf ``q_dup_scan``
query vs true log-BM25) with an EXACT fixed-point logarithm:

- idf is computed in **log2 units**: Lucene's
  ln(1 + (N-df+0.5)/(df+0.5)) = ln((2N+2)/(2df+1)); ranking under a
  positive global factor is invariant, so scoring by
  log2((2N+2)/(2df+1)) ranks identically to ln-BM25. log2 of the
  rational is evaluated by the classic shift-and-square algorithm in
  1e9 fixed point — pure BIGINT ops (compare / integer-divide /
  multiply), bit-identical in both engines, max abs error < 1e-6
  (micros-exact; 24 fraction bits). The chain runs on the df
  relation: one row per query term, so its cost is nil.
- the tf saturation term stays the exact rational cleared of floats:
  tf·(k1+1) / (tf + k1·(1-b+b·dl·N/S))
    = 22·tf·S / (10·tf·S + 3·S + 9·dl·N)  — all BIGINT.
- each per-term score is idf2_micro (BIGINT) times ONE double
  division of two exact BIGINTs, floored (IEEE division and floor
  are identical in both engines), and the per-(query, doc) total is
  a BIGINT sum — exact and order-insensitive, so the strict value
  compare holds. tests/test_search.py pins rank agreement against a
  double-precision ln-BM25 shadow scorer.

Bounds (sf0.1): idf2_micro < 2e7 (log2(2N+2) µ); 22·tf·S < 1e12 and
the divisor < 1e11 — the double product stays < 1e9 and every BIGINT
far inside range. The log2 chain's intermediates: m ≤ 2e9, m·m ≤
4e18 < 2^63; m0 = (2N+2)·1e9 overflows only past N ≈ 4.6e9 docs.

Pytest-only (driver registry capped at 50 per CLAUDE.md); the DuckDB
twin runs under tests/oracle_compare.assert_matches_oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from monday_etl_automation_spark.plans.sqltext import spark_str_lit, tail_order
from monday_etl_automation_spark.plans.text_ops import _DUCK_TOKS, _SPARK_TOKS
from monday_etl_automation_spark.sources.tables import register_views

_TOPK = 10


def _qterm_values(pairs: list[tuple[str, str]]) -> str:
    """Row list for a (qid, term) VALUES parameter relation —
    spark_str_lit escapes backslashes AND quotes, so caller-supplied
    strings pass verbatim (r18 ADVICE: Spark literals interpret
    backslash escapes; quote-only escaping silently altered them)."""
    return ", ".join(f"({spark_str_lit(q)}, {spark_str_lit(t)})" for q, t in pairs)


# per-row query parameters: (query_id, term). 'dup' is the one rare
# term in the synthetic vocabulary (df 25/500) — q1 pins that BM25
# actually discriminates by idf, not just tf.
_QUERIES: tuple[tuple[str, str], ...] = (
    ("q_dup_scan", "dup"),
    ("q_dup_scan", "scan"),
    ("q_vector_ops", "vector"),
    ("q_vector_ops", "merge"),
    ("q_vector_ops", "window"),
    ("q_engine", "spark"),
    ("q_engine", "fast"),
)


def _qterms_sql(dialect: str, queries: tuple[tuple[str, str], ...] = _QUERIES) -> str:
    rows = ", ".join(f"('{q}', '{t}')" for q, t in queries)
    if dialect == "spark":
        return f"SELECT * FROM VALUES {rows} AS t(qid, term)"
    return f"SELECT * FROM (VALUES {rows}) AS t(qid, term)"


def _postings_sql(dialect: str, rel: str = "documents") -> str:
    """The posting-list relation: (doc_id, term, c) term counts — ONE
    tokenize+explode pass over ``rel`` (default: the corpus; the
    incremental path passes its batch view — a parameter, not a string
    rewrite, so a drifting SQL body can never silently fall back to
    the full corpus). Everything downstream (dl, N, S, tf, df) is an
    aggregate or filter of THIS relation, so the Spark executor
    materializes it once per (session, data snapshot) — Spark inlines
    CTEs, and the one-shot form would re-expand the corpus
    tokenization per reference (4+ scans; the same flaw the r7
    verdict flagged in the ANN bucket build). At 100 TB this is the
    posting-list table a snapshot job maintains."""
    toks = _SPARK_TOKS if dialect == "spark" else _DUCK_TOKS
    if dialect == "spark":
        ex = f"SELECT doc_id, explode({toks}) AS term FROM {rel}"
    else:
        ex = f"SELECT doc_id, unnest({toks}) AS term FROM {rel}"
    return (
        f"SELECT doc_id, lower(term) AS term, CAST(count(*) AS BIGINT) AS c"
        f" FROM ({ex}) ex0 GROUP BY doc_id, lower(term)"
    )


_LOG2_FRAC_BITS = 24  # fraction bits: 2^-24 < 1e-7 log2 units, micros-exact


def _idf2_ctes(dialect: str) -> str:
    """CTE chain computing ``idf2(term, idf2)`` — idf2 =
    floor(log2((2N+2)/(2df+1)) * 1e6) — from the ``df`` and ``meta``
    relations by pure-integer shift-and-square: normalize
    m = r·1e9 into [1e9, 2e9) collecting the integer part k, then
    {_LOG2_FRAC_BITS} squaring steps each yield one fraction bit.
    Comparisons, integer division, and multiplication only — the two
    engines walk bit-identical states. One row per query term."""
    idiv = "DIV" if dialect == "spark" else "//"
    steps = [
        f"""lg0 AS (
  SELECT f.term, CAST((2 * m.n + 2) * 1000000000 AS BIGINT) {idiv} (2 * f.df + 1) AS m,
         CAST(0 AS BIGINT) AS k
  FROM df f CROSS JOIN meta m
)"""
    ]
    prev = "lg0"
    for i, j in enumerate((32, 16, 8, 4, 2, 1)):
        name = f"lgk{i}"
        p2 = 1 << j
        # single pre-multiplied literal: DuckDB types small literals
        # INT32, so `65536 * 1000000000` would overflow at the parser
        thr = p2 * 10**9
        steps.append(
            f"""{name} AS (
  SELECT term, CASE WHEN m >= {thr} THEN m {idiv} {p2} ELSE m END AS m,
         k + CASE WHEN m >= {thr} THEN {j} ELSE 0 END AS k
  FROM {prev}
)"""
        )
        prev = name
    steps.append(f"lgs0 AS (SELECT term, m, k, CAST(0 AS BIGINT) AS acc FROM {prev})")
    prev = "lgs0"
    for i in range(_LOG2_FRAC_BITS):
        name = f"lgs{i + 1}"
        steps.append(
            f"""{name} AS (
  SELECT term, CASE WHEN m2 >= 2000000000 THEN m2 {idiv} 2 ELSE m2 END AS m, k,
         acc * 2 + CASE WHEN m2 >= 2000000000 THEN 1 ELSE 0 END AS acc
  FROM (SELECT term, (m * m) {idiv} 1000000000 AS m2, k, acc FROM {prev}) s{i}
)"""
        )
        prev = name
    steps.append(
        f"""idf2 AS (
  SELECT term, k * 1000000 + (acc * 1000000) {idiv} {1 << _LOG2_FRAC_BITS} AS idf2
  FROM {prev}
)"""
    )
    return ",\n".join(steps)


def _bm25_tail_sql(
    dialect: str,
    rel: str,
    qterms: str | None = None,
    dl_rel: str | None = None,
    idf_rel: str | None = None,
) -> str:
    """Scoring over a posting-list relation ``rel(doc_id, term, c)``;
    ``qterms`` overrides the query-term relation SQL (default: the
    module's fixed parameter table).

    ``dl_rel`` / ``idf_rel`` name PRE-COMPUTED (doc_id, dl) doc-length
    and (term, idf2) idf relations — the index METADATA every real
    engine persists next to its postings. Without them each EXECUTION
    pays (a) the tail's only full shuffle of the posting relation (dl)
    and (b) Catalyst re-analysis of the ~30-CTE integer-log2 chain,
    which dominates warm latency on small corpora (measured r15: the
    chain is pure driver-side optimizer time, ~1.5s/exec). The Spark
    executors pass the persisted indexes; the DuckDB oracle keeps
    deriving both inline, so the driver compare pins
    persisted == derived."""
    dl_body = (
        f"SELECT doc_id, dl FROM {dl_rel}"
        if dl_rel
        else f"SELECT doc_id, CAST(sum(c) AS BIGINT) AS dl FROM {rel} GROUP BY doc_id"
    )
    if idf_rel:
        idf_part = f"idf2 AS (SELECT term, idf2 FROM {idf_rel})"
    else:
        idf_part = (
            f"df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),\n"
            f"{_idf2_ctes(dialect)}"
        )
    return f"""qterms AS ({qterms or _qterms_sql(dialect)}),
dl AS ({dl_body}),
meta AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS s FROM dl
),
tf AS (
  SELECT e.doc_id, e.term, CAST(e.c AS BIGINT) AS tf
  FROM {rel} e JOIN (SELECT DISTINCT term FROM qterms) qt ON e.term = qt.term
),
{idf_part},
scored_terms AS (
  SELECT q.qid, t.doc_id,
         CAST(floor(
           CAST(i.idf2 AS DOUBLE)
           * (CAST(22 * t.tf * m.s AS DOUBLE)
              / CAST(10 * t.tf * m.s + 3 * m.s + 9 * d.dl * m.n AS DOUBLE))
         ) AS BIGINT) AS st
  FROM qterms q
  JOIN tf t ON t.term = q.term
  JOIN idf2 i ON i.term = q.term
  JOIN dl d ON d.doc_id = t.doc_id
  CROSS JOIN meta m
),
agg AS (
  SELECT qid, doc_id, CAST(sum(st) AS BIGINT) AS score_micro
  FROM scored_terms GROUP BY qid, doc_id
),
ranked AS (
  SELECT qid, doc_id, score_micro,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY qid ORDER BY score_micro DESC, doc_id ASC
         ) AS INT) AS rk
  FROM agg
)
SELECT qid, doc_id, CAST(score_micro AS DOUBLE) / 1000000 AS bm25, rk
FROM ranked WHERE rk <= {_TOPK}{tail_order(dialect, "qid, rk")}"""


def _bm25_sql(dialect: str) -> str:
    """One-shot form — what the DuckDB oracle runs (DuckDB
    materializes multiply-referenced CTEs, so the repeated ``po``
    references cost nothing there)."""
    return f"""
WITH po AS ({_postings_sql(dialect)}),
{_bm25_tail_sql(dialect, 'po')}
""".strip()


def _postings_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list relation, built once per (session, data snapshot)
    — the same persistence scheme as the ANN/IVF/dedup indexes."""
    from monday_etl_automation_spark.sources.tables import (
        bind_table,
        snapshot_key,
        snapshot_memo,
    )

    bind_table(spark, sf_dir, "documents")  # direct-call poisoning guard
    return snapshot_memo(
        spark,
        "bm25_postings",
        snapshot_key(sf_dir, "documents"),
        lambda: spark.sql(_postings_sql("spark")).localCheckpoint(eager=True),
    )


def _doclen_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dl) — persisted WITH the postings (the doc-length
    index metadata every real engine keeps): the scoring tail's dl
    aggregation is its only full shuffle of the posting relation, paid
    once per (session, data snapshot) here instead of once per query
    execution."""
    from pyspark.sql import functions as F

    from monday_etl_automation_spark.sources.tables import snapshot_key, snapshot_memo

    return snapshot_memo(
        spark,
        "bm25_doclen",
        snapshot_key(sf_dir, "documents"),
        lambda: _postings_index(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("c").cast("bigint").alias("dl"))
        .localCheckpoint(eager=True),
    )


def _idf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, idf2) for the FIXED query set — persisted index metadata
    like _doclen_index; derived from the persisted postings with the
    exact tail chain (same tf/df/meta definitions), so values are
    bit-identical to the oracle's inline derivation."""
    from monday_etl_automation_spark.sources.tables import snapshot_key, snapshot_memo

    def build() -> DataFrame:
        _postings_index(spark, sf_dir).createOrReplaceTempView("_bm25_po_idxb")
        sql = f"""WITH qterms AS ({_qterms_sql("spark")}),
meta AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM _bm25_po_idxb),
tf AS (
  SELECT e.doc_id, e.term
  FROM _bm25_po_idxb e JOIN (SELECT DISTINCT term FROM qterms) qt ON e.term = qt.term
),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
{_idf2_ctes("spark")}
SELECT term, idf2 FROM idf2"""
        return spark.sql(sql).localCheckpoint(eager=True)

    return snapshot_memo(spark, "bm25_idf", snapshot_key(sf_dir, "documents"), build)


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    _postings_index(spark, sf_dir).createOrReplaceTempView("_bm25_po")
    _doclen_index(spark, sf_dir).createOrReplaceTempView("_bm25_dl")
    _idf_index(spark, sf_dir).createOrReplaceTempView("_bm25_idf")
    return spark.sql(
        f"WITH {_bm25_tail_sql('spark', '_bm25_po', dl_rel='_bm25_dl', idf_rel='_bm25_idf')}"
    )


def bm25_search(
    spark: SparkSession,
    sf_dir: str,
    queries: dict[str, list[str]] | DataFrame,
) -> DataFrame:
    """BM25 over CALLER-supplied queries — ``{query_id: [terms]}`` or a
    (qid, term) DataFrame. The per-row parameter-table shape means any
    number of queries rides ONE pass over the persisted posting list;
    terms are lowercased to match the postings' normalization."""
    register_views(spark, sf_dir)
    _postings_index(spark, sf_dir).createOrReplaceTempView("_bm25_po")
    _doclen_index(spark, sf_dir).createOrReplaceTempView("_bm25_dl")
    if isinstance(queries, DataFrame):
        queries.selectExpr("qid", "lower(term) AS term").createOrReplaceTempView(
            "_bm25_q"
        )
    else:
        # validate PER QUERY: a term-less query would otherwise vanish
        # from the output silently, indistinguishable from "no hits"
        empty = sorted(q for q, terms in queries.items() if not terms)
        if empty or not queries:
            raise ValueError(f"bm25_search queries without terms: {empty or '(none)'}")
        # VALUES, not createDataFrame (r18 invariant): an RDD-backed
        # relation has no size stats and turns the qterms join into a
        # SortMergeJoin shuffling the postings side per execution.
        pairs = [(q, t.lower()) for q, terms in queries.items() for t in terms]
        spark.sql(
            f"SELECT * FROM VALUES {_qterm_values(pairs)} AS t(qid, term)"
        ).createOrReplaceTempView("_bm25_q")
    return spark.sql(
        f"WITH {_bm25_tail_sql('spark', '_bm25_po', qterms='SELECT qid, term FROM _bm25_q', dl_rel='_bm25_dl')}"
    )


# ---------------------------------------------------------------------------
# hybrid retrieval — reciprocal-rank fusion of BM25 (lexical) and IVF
# ANN (dense) result lists (Cormack et al. 2009, RRF). The fused score
# is sum over lists of 1/(K + rank); with K=60 and ranks as BIGINTs,
# floor(1e9/(60+rank)) keeps fusion integer-exact cross-engine. At
# 100 TB both inputs are the already-indexed hot paths (persisted
# postings + persisted IVF quantizer); fusion itself is a join on the
# candidate union — candidate-sized, never corpus-sized.
# ---------------------------------------------------------------------------

_RRF_K = 60
# hybrid query set: each hybrid query pairs a BM25 term query with an
# ANN query vector (vec_id and doc_id share the same id domain)
_HYBRID_PAIRS: tuple[tuple[str, int], ...] = (
    ("q_dup_scan", 0),
    ("q_vector_ops", 50),
    ("q_engine", 100),
)


def _rrf_tail_sql(dialect: str, bm_rel: str, ann_rel: str) -> str:
    idiv = "DIV" if dialect == "spark" else "//"
    rows = ", ".join(f"('{q}', {v})" for q, v in _HYBRID_PAIRS)
    pairs = (
        f"SELECT * FROM VALUES {rows} AS t(qid, vec_id)"
        if dialect == "spark"
        else f"SELECT * FROM (VALUES {rows}) AS t(qid, vec_id)"
    )
    return f"""pairs AS ({pairs}),
bm AS (
  SELECT p.qid, b.doc_id, b.rk AS bm_rk
  FROM {bm_rel} b JOIN pairs p ON b.qid = p.qid
),
ann AS (
  SELECT p.qid, a.neighbor_id AS doc_id, a.rk AS ann_rk
  FROM {ann_rel} a JOIN pairs p ON a.query_id = p.vec_id
),
fused AS (
  SELECT coalesce(bm.qid, ann.qid) AS qid,
         coalesce(bm.doc_id, ann.doc_id) AS doc_id,
         CAST(coalesce(1000000000 {idiv} ({_RRF_K} + bm.bm_rk), 0)
            + coalesce(1000000000 {idiv} ({_RRF_K} + ann.ann_rk), 0) AS BIGINT) AS rrf_nano,
         CAST(coalesce(bm.bm_rk, 0) AS BIGINT) AS bm_rk,
         CAST(coalesce(ann.ann_rk, 0) AS BIGINT) AS ann_rk
  FROM bm FULL OUTER JOIN ann ON bm.qid = ann.qid AND bm.doc_id = ann.doc_id
),
rr AS (
  SELECT qid, doc_id, rrf_nano, bm_rk, ann_rk,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY qid ORDER BY rrf_nano DESC, doc_id ASC
         ) AS BIGINT) AS rk
  FROM fused
)
SELECT qid, CAST(doc_id AS BIGINT) AS doc_id, rrf_nano, bm_rk, ann_rk, rk
FROM rr WHERE rk <= {_TOPK}{tail_order(dialect, "qid, rk")}"""


def _rrf_input_ranks(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The two fusion inputs — the BM25 top-k and the IVF ANN top-k
    rank lists — materialized once per (session, data snapshots). A
    fusion stage consumes the OUTPUTS of the retrieval hot paths; with
    lazy inputs every fusion execution re-ran the full BM25 scoring
    tail and the IVF probe+re-rank inside its own plan (measured: the
    two retrieval subtrees were ~2s of vector_extra's 5.8s warm wall,
    duplicating work the ``bm25`` shape / ``ivf_topk`` entry already
    price). At 100 TB these are the per-query result lists a fusion
    service reads back, not retrieval it re-runs. HANDLES are cached
    and returned (never re-resolved views — CLAUDE.md artifact rule)."""
    from monday_etl_automation_spark.plans.embed_ops import ivf_topk
    from monday_etl_automation_spark.sources.tables import snapshot_key, snapshot_memo

    key = (snapshot_key(sf_dir, "documents"), snapshot_key(sf_dir, "embeddings"))
    return snapshot_memo(
        spark,
        "rrf_inputs",
        key,
        lambda: (
            bm25_topk(spark, sf_dir).localCheckpoint(eager=True),
            ivf_topk(spark, sf_dir).localCheckpoint(eager=True),
        ),
    )


def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF fusion over the two persisted-index hot paths: the BM25
    top-k (posting list) and the IVF ANN top-k (coarse quantizer) for
    the paired hybrid queries, read as materialized rank lists
    (_rrf_input_ranks)."""
    bm, ann = _rrf_input_ranks(spark, sf_dir)
    bm.createOrReplaceTempView("_hy_bm")
    ann.createOrReplaceTempView("_hy_ann")
    return spark.sql(f"WITH {_rrf_tail_sql('spark', '_hy_bm', '_hy_ann')}")


def _hybrid_sql(dialect: str) -> str:
    from monday_etl_automation_spark.plans.embed_ops import _ivf_sql

    return f"""
WITH bmres AS ({_bm25_sql(dialect)}),
annres AS ({_ivf_sql(dialect)}),
{_rrf_tail_sql(dialect, 'bmres', 'annres')}
""".strip()


# ---------------------------------------------------------------------------
# incremental posting-list maintenance — the BM25 analog of the
# incremental dedup / embedding-index ingestion paths: the posting
# list is indexed once per corpus snapshot, and a new document batch
# contributes O(|batch|) tokenize work — the corpus is NEVER rescanned
# (plan-asserted in tests/test_search.py). At 100 TB this is the
# append a posting-list maintenance job runs per ingest batch; df/N/S
# re-derive from the merged postings at query time, so scores over
# (persisted ∪ batch) are IDENTICAL to a full rebuild over the grown
# corpus.
# ---------------------------------------------------------------------------


def bm25_incremental_topk(
    spark: SparkSession, sf_dir: str, batch_mod: int = 10, batch_res: int = 7
) -> DataFrame:
    """The incremental-maintenance path under the driver's hash oracle
    (vector_extra shape ``bm25i``): the corpus is split into a base
    snapshot (doc_id % mod != res — indexed ONCE per (session, file
    snapshot), standing in for the persisted posting list a
    maintenance job owns) and an ingest batch (== res) that
    contributes one O(|batch|) tokenize pass (bm25_postings_batch).
    BM25 over (base ∪ batch) postings re-derives df/N/S from the
    merged relation, so the scores must be IDENTICAL to a full rebuild
    over the whole corpus — the oracle is the full-corpus one-shot
    SQL, making "incremental == rebuild" the hashed property itself."""
    from monday_etl_automation_spark.sources.tables import (
        bind_table,
        snapshot_key,
        snapshot_memo,
    )

    bind_table(spark, sf_dir, "documents")

    def build_base() -> DataFrame:
        spark.table("documents").where(
            f"doc_id % {batch_mod} <> {batch_res}"
        ).createOrReplaceTempView("_bm_base")
        return spark.sql(_postings_sql("spark", rel="_bm_base")).localCheckpoint(eager=True)

    key = (snapshot_key(sf_dir, "documents"), batch_mod, batch_res)
    base_po = snapshot_memo(spark, "bm25i_base", key, build_base)
    batch = spark.table("documents").where(f"doc_id % {batch_mod} = {batch_res}")
    # materialize the merged postings before the scoring tail — the
    # tail references the relation several times (df/dl/tf derive from
    # it), i.e. a self-join (repo rule: materialize first; unionByName
    # over a checkpointed half also trips a Spark attribute-resolution
    # bug when left lazy). This IS the maintenance job's write of the
    # merged posting snapshot.
    merged = base_po.unionByName(bm25_postings_batch(spark, batch)).localCheckpoint(
        eager=True
    )
    # the maintenance job also writes the merged doc-length and idf
    # metadata (r15): without them every EXECUTION of the scoring tail
    # re-shuffles the whole merged posting relation for dl and pays
    # Catalyst re-analysis of the ~30-CTE idf chain
    from pyspark.sql import functions as F

    merged_dl = (
        merged.groupBy("doc_id")
        .agg(F.sum("c").cast("bigint").alias("dl"))
        .localCheckpoint(eager=True)
    )
    merged.createOrReplaceTempView("_bmi_po_idxb")
    merged_idf = spark.sql(
        f"""WITH qterms AS ({_qterms_sql("spark")}),
meta AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM _bmi_po_idxb),
tf AS (
  SELECT e.doc_id, e.term
  FROM _bmi_po_idxb e JOIN (SELECT DISTINCT term FROM qterms) qt ON e.term = qt.term
),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
{_idf2_ctes("spark")}
SELECT term, idf2 FROM idf2"""
    ).localCheckpoint(eager=True)
    terms: dict[str, list[str]] = {}
    for q, t in _QUERIES:
        terms.setdefault(q, []).append(t)
    return bm25_search_postings(spark, merged, terms, doclens=merged_dl, idfs=merged_idf)


def bm25_postings_batch(spark: SparkSession, new_docs: DataFrame) -> DataFrame:
    """Posting rows (doc_id, term, c) for an incoming batch — one
    tokenize+explode pass over the BATCH only."""
    new_docs.createOrReplaceTempView("_bm_batch")
    return spark.sql(_postings_sql("spark", rel="_bm_batch"))


def bm25_search_postings(
    spark: SparkSession,
    postings: DataFrame,
    queries: dict[str, list[str]],
    doclens: DataFrame | None = None,
    idfs: DataFrame | None = None,
) -> DataFrame:
    """BM25 over a CALLER-supplied postings relation (e.g. the
    persisted snapshot index unioned with fresh batch postings) — the
    same scoring tail as every other BM25 path, so incremental and
    rebuilt corpora can never drift. ``doclens`` / ``idfs`` optionally
    supply the pre-computed (doc_id, dl) / (term, idf2) metadata; when
    omitted the tail derives them from ``postings`` inline (exact same
    values — pinned by tests/test_search.py, which exercises this
    derived path against the full rebuild)."""
    empty = sorted(q for q, terms in queries.items() if not terms)
    if empty or not queries:
        raise ValueError(f"bm25_search_postings queries without terms: {empty or '(none)'}")
    postings.createOrReplaceTempView("_bm_po_ext")
    dl_rel = None
    if doclens is not None:
        doclens.createOrReplaceTempView("_bm_dl_ext")
        dl_rel = "_bm_dl_ext"
    idf_rel = None
    if idfs is not None:
        idfs.createOrReplaceTempView("_bm_idf_ext")
        idf_rel = "_bm_idf_ext"
    # VALUES, not createDataFrame (r18): a parallelized-RDD relation has
    # no size statistics, so the planner costed the qterms join at
    # defaultSizeInBytes and picked a SortMergeJoin — a full shuffle of
    # the POSTINGS relation per execution (measured +0.37s/pass at
    # sf0.1). A VALUES LocalTableScan is known-tiny and broadcasts,
    # matching every other BM25 path's plan shape.
    pairs = [(q, t.lower()) for q, terms in queries.items() for t in terms]
    qterms_sql = f"SELECT * FROM VALUES {_qterm_values(pairs)} AS t(qid, term)"
    return spark.sql(
        f"WITH {_bm25_tail_sql('spark', '_bm_po_ext', qterms=qterms_sql, dl_rel=dl_rel, idf_rel=idf_rel)}"
    )
