"""Product-quantization (PQ/ADC) similarity search (SURVEY.md §2.12).

Completes the similarity-search family (exact cosine, LSH, IVF) with
the memory-bound scale path: each vector is encoded as {_M} 4-bit
codes (one per {_SUBDIM}-dim subspace, {_K}-entry codebook), and a
search scans the CODES table — 8 bytes/vector instead of 256 — via
asymmetric distance computation (ADC): the query precomputes a
{_M}x{_K} lookup table of subspace dot products, and a candidate's
approximate score is a sum of {_M} table lookups (no float math per
element). The one-shot body (_pq_sql, the DuckDB oracle) does the
lookups as an equi-join + hash agg over exploded codes; the Spark
executor reads ONE snapshot artifact built from the same CTEs — the
LUT folded to one array per query and the codes to one array row per
vector (_pq_search_arrays) — so a lookup is static array indexing.
Top-{_CAND} ADC candidates are then exact-cosine re-ranked, so
precision stays exact and the PQ approximation only affects
candidate coverage (same posture as the LSH/IVF paths; recall pinned
in tests/test_pq.py).

At 100 TB: codebooks are KB-sized broadcast tables, the codes table is
~32x smaller than the embeddings, the ADC scan is whole-stage-codegen
long arithmetic, and only the re-rank join touches full vectors — the
standard IVF-PQ memory/IO story (Jégou et al., "Product Quantization
for Nearest Neighbor Search", TPAMI 2011).

Cross-engine parity: elements are scaled longs (floor(x * 1e6)),
codebook training (deterministic seeds + {_PQ_ITERS} Lloyd rounds) and
the ADC scores are pure BIGINT sums — order-insensitive and exact in
both engines — so the DuckDB twin walks the identical codebook
trajectory and the strict value compare holds. Bounds: |x| < 1 so
|xd| < 1e6; d2 terms < 4e12 (x{_SUBDIM} < 4e13); pdot terms < 1e12;
reconstructed-norm sums < 1e13 — all far inside BIGINT.

Pytest-only (driver registry is capped at 50 entries per CLAUDE.md);
the DuckDB twin runs under tests/oracle_compare.assert_matches_oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from monday_etl_automation_spark.plans.sqltext import tail_order
from monday_etl_automation_spark.plans.embed_ops import (
    _DIM,
    _query_pred,
    _TOPK,
    _dot,
    _norm,
)
from monday_etl_automation_spark.sources.tables import (
    bind_table,
    register_views,
    snapshot_key,
    snapshot_memo,
)

_M = 16  # subspaces -> 16 x 4-bit codes = 8 B/vector (32x compression)
_SUBDIM = _DIM // _M  # dims per subspace
_K = 16  # codebook entries per subspace
_PQ_ITERS = 2  # Lloyd refinement rounds over the deterministic seeds
# ADC candidates exact-re-ranked per query. Measured recall@5 against
# exact cosine on the synthetic embeddings (near-uniform — PQ's
# hardest case): 0.96 at sf0.01 / 0.865 at sf0.1; the coarser
# (8 x 8-dim, cand=30) design point measured 0.56/0.44, so the finer
# subspaces are what buy the recall, not the candidate count alone.
_CAND = 100


def _pq_ex_sql(dialect: str) -> str:
    """Exploded element relation: (vec_id, sub, d, xd) with xd a
    1e6-scaled long (floor semantics — identical in both engines)."""
    if dialect == "spark":
        return (
            "SELECT vec_id, CAST(dim DIV {sd} AS INT) AS sub, CAST(dim % {sd} AS INT) AS d,"
            " CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xd"
            " FROM (SELECT vec_id, posexplode(embedding) AS (dim, x) FROM embeddings) ex0"
        ).format(sd=_SUBDIM)
    return (
        "SELECT vec_id, CAST((i - 1) // {sd} AS INT) AS sub, CAST((i - 1) % {sd} AS INT) AS d,"
        " CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS xd"
        " FROM embeddings, (SELECT unnest(generate_series(1, {dim})) AS i)"
    ).format(sd=_SUBDIM, dim=_DIM)


def _pq_cent0_sql(dialect: str, step: str, ex: str = "ex") -> str:
    """Deterministic seeds: codebook entry c of every subspace is the
    sub-vector of vec_id = c * step (vec_ids are dense; window-free,
    same scheme as the IVF coarse quantizer)."""
    idiv = "DIV" if dialect == "spark" else "//"
    return f"""SELECT e.sub, CAST(e.vec_id {idiv} {step} AS INT) AS code, e.d, e.xd AS md
  FROM {ex} e
  WHERE e.vec_id % {step} = 0 AND e.vec_id {idiv} {step} < {_K}"""


def _pq_codes_sql(dialect: str, ex: str, cent: str, tag: str) -> str:
    """codes{tag}(vec_id, sub, code): nearest codebook entry per
    (vector, subspace) by exact integer L2; ties to the lower code."""
    return f"""d2{tag} AS (
  SELECT e.vec_id, e.sub, c.code,
         CAST(sum((e.xd - c.md) * (e.xd - c.md)) AS BIGINT) AS d2
  FROM {ex} e JOIN {cent} c ON e.sub = c.sub AND e.d = c.d
  GROUP BY e.vec_id, e.sub, c.code
),
codes{tag} AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rc
    FROM d2{tag}
  ) r{tag} WHERE rc = 1
)"""


def _pq_cent_next_sql(ex: str, codes: str) -> str:
    # same rounded-mean construct as the IVF quantizer (proven exact
    # across engines under the strict hash compare); an emptied code
    # simply drops out of the codebook in both engines
    return f"""SELECT a.sub, a.code, e.d,
         CAST(round(CAST(sum(e.xd) AS DOUBLE) / count(*), 0) AS BIGINT) AS md
  FROM {ex} e JOIN {codes} a ON e.vec_id = a.vec_id AND e.sub = a.sub
  GROUP BY a.sub, a.code, e.d"""


def _pq_lut_ctes(qex: str, cent: str) -> str:
    """``qex`` (query elements) and ``lut(qid, sub, code, pdot)``: the
    per-query {_M}x{_K} table of subspace dot products."""
    return f"""qex AS ({qex}),
lut AS (
  SELECT q.vec_id AS qid, c.sub, c.code,
         CAST(sum(q.xd * c.md) AS BIGINT) AS pdot
  FROM qex q JOIN {cent} c ON q.sub = c.sub AND q.d = c.d
  GROUP BY q.vec_id, c.sub, c.code
)"""


def _pq_vn_ctes(cent: str, codes: str) -> str:
    """``cn2`` (codebook-entry norms) and ``vn(vec_id, vnorm)``: the
    norm of each vector's reconstruction from its codes."""
    return f"""cn2 AS (
  SELECT sub, code, CAST(sum(md * md) AS BIGINT) AS n2 FROM {cent} GROUP BY sub, code
),
vn AS (
  SELECT a.vec_id, sqrt(CAST(CAST(sum(n.n2) AS BIGINT) AS DOUBLE)) AS vnorm
  FROM {codes} a JOIN cn2 n ON a.sub = n.sub AND a.code = n.code
  GROUP BY a.vec_id
)"""


def _lut_fold_sql(lut: str) -> str:
    """(qid, pa): ``lut(qid, sub, code, pdot)`` reshaped to ONE dense
    {_M}x{_K} BIGINT array per query, pa[sub*{_K}+code]. Missing
    (sub, code) slots (a code emptied during training) are filled with
    0: no vector's codes can reference them, because codes are
    assigned FROM the surviving codebook entries."""
    return f"""SELECT qid, transform(sequence(0, {_M * _K - 1}),
                        i -> coalesce(m[i], CAST(0 AS BIGINT))) AS pa
FROM (SELECT qid, map_from_entries(collect_list(struct(sub * {_K} + code, pdot))) AS m
      FROM {lut} GROUP BY qid) lm"""


def _codes_fold_sql(codes: str, keys: str) -> str:
    """(``keys``, ca): the (``keys``, sub, code) rows of ``codes``
    reshaped to ONE row per vector with its {_M} codes as a 0-based
    array ca[sub]. A vector lacking a (sub, code) row fails the build
    loudly: a NULL code would otherwise silently rank it last."""
    return f"""SELECT {keys}, if(size(filter(ca, x -> x IS NULL)) = 0, ca,
              raise_error('PQ codes: a vector lacks a (sub, code) row')) AS ca
FROM (SELECT {keys}, transform(sequence(0, {_M - 1}), s -> m[s]) AS ca
      FROM (SELECT {keys}, map_from_entries(collect_list(struct(sub, code))) AS m
            FROM {codes} GROUP BY {keys}) cm) cf"""


def _pq_search_sql(
    dialect: str,
    ex: str,
    codes: str,
    cent: str,
    qex: str | None = None,
    qsrc: str = "embeddings",
    vsrc: str = "embeddings",
    exclude_self: bool = True,
) -> str:
    """ADC candidate generation + exact re-rank, given the trained
    codebook ``cent`` and the encoded corpus ``codes``. ``qex``
    overrides the query-side exploded relation (default: the
    fixed-id slice of ``ex``, embed_ops._query_pred); ``qsrc``/``vsrc`` name the raw
    vector relations for the exact re-rank; ``exclude_self`` guards
    the corpus-internal case where queries are corpus rows. ONE body
    serves the corpus search, the DuckDB twin, and the batch search
    (plans/embed_ingest.py) — the scoring math exists exactly once,
    and its LUT / code-norm CTEs (_pq_lut_ctes / _pq_vn_ctes) are the
    ones the folded executor artifact is built from."""
    dot = _dot(dialect, "q.embedding", "v.embedding")
    cos = f"({dot}) / (q.norm * v.norm)"
    qex_sql = qex or f"SELECT * FROM {ex} exq WHERE {_query_pred()}"
    self_guard = "WHERE d.qid <> d.vec_id" if exclude_self else ""
    return f"""{_pq_lut_ctes(qex_sql, cent)},
{_pq_vn_ctes(cent, codes)},
adc AS (
  SELECT l.qid, a.vec_id, CAST(sum(l.pdot) AS BIGINT) AS adot
  FROM {codes} a JOIN lut l ON l.sub = a.sub AND l.code = a.code
  GROUP BY l.qid, a.vec_id
),
cand AS (
  SELECT qid, vec_id, ra FROM (
    SELECT d.qid, d.vec_id,
           ROW_NUMBER() OVER (PARTITION BY d.qid
             ORDER BY CAST(d.adot AS DOUBLE) / v.vnorm DESC, d.vec_id ASC) AS ra
    FROM adc d JOIN vn v ON d.vec_id = v.vec_id
    {self_guard}
  ) s WHERE ra <= {_CAND}
),
qbase AS (
  SELECT vec_id, embedding, {_norm(dialect, 'embedding')} AS norm FROM {qsrc}
),
vbase AS (
  SELECT vec_id, embedding, {_norm(dialect, 'embedding')} AS norm FROM {vsrc}
),
scored AS (
  SELECT c.qid AS query_id, c.vec_id AS neighbor_id, {cos} AS cos_raw
  FROM cand c
  JOIN qbase q ON c.qid = q.vec_id
  JOIN vbase v ON c.vec_id = v.vec_id
),
final_rank AS (
  SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rk
FROM final_rank WHERE rk <= {_TOPK}{tail_order(dialect, "query_id, rk")}"""


def pq_train_ctes(dialect: str, prefix: str = "") -> str:
    """The one-shot trainer+encoder CTE chain — ``{prefix}meta`` →
    ``{prefix}ex`` → unrolled Lloyd rounds → ``{prefix}cent{_PQ_ITERS}``
    (final codebooks) and ``{prefix}codesf`` (encoded corpus).

    Factored out of _pq_sql (r17, r16 verdict item 3) so the
    vector_extra oracle can HOIST one prefixed copy to its top level
    and share it between the pq search branch and the vstream
    PQ-code-table checksum branch — DuckDB materializes
    multi-referenced CTEs, so the share costs one training instead of
    two. With prefix='' this is byte-identical to the chain _pq_sql
    always inlined."""
    p = prefix
    idiv = "DIV" if dialect == "spark" else "//"
    rounds = ",\n".join(
        f"""{_pq_codes_sql(dialect, f'{p}ex', f'{p}cent{k}', f'{p}{k}')},
{p}cent{k + 1} AS ({_pq_cent_next_sql(f'{p}ex', f'codes{p}{k}')})"""
        for k in range(_PQ_ITERS)
    )
    return f"""{p}meta AS (
  -- >= 1 clamp: same % 0 divergence guard as the IVF quantizer
  SELECT greatest(1, count(*) {idiv} {_K}) AS step FROM embeddings
),
{p}ex AS ({_pq_ex_sql(dialect)}),
{p}cent0 AS ({_pq_cent0_sql(dialect, f"(SELECT step FROM {p}meta)", f"{p}ex")}),
{rounds},
{_pq_codes_sql(dialect, f'{p}ex', f'{p}cent{_PQ_ITERS}', f'{p}f')}"""


def pq_search_body(dialect: str, prefix: str = "") -> str:
    """The search half over a (possibly prefixed) trained chain — a CTE
    list + final SELECT, to be planted after a WITH that already holds
    ``{prefix}ex`` / ``codes{prefix}f`` / ``{prefix}cent{N}``
    (outer-scope CTEs are visible inside derived tables)."""
    p = prefix
    return _pq_search_sql(dialect, f"{p}ex", f"codes{p}f", f"{p}cent{_PQ_ITERS}")


def _pq_sql(dialect: str) -> str:
    """One-shot twin: train ({_PQ_ITERS} unrolled Lloyd rounds), encode,
    ADC-search, exact re-rank — the DuckDB oracle form."""
    return f"""
WITH {pq_train_ctes(dialect)},
{pq_search_body(dialect)}
""".strip()


def _train_pq(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Train the PQ codebooks and encode the corpus — memoized per
    (session, data snapshot), exactly the persisted-IVF posture: at
    scale the codebooks (KB) and codes (8 B/vector) are warehouse
    tables written by the rare training job; a search only reads them.
    Stepwise localCheckpoints for the same reason as the IVF trainer
    (Spark inlines CTEs; an unrolled Lloyd chain re-expands its
    upstream per reference)."""
    bind_table(spark, sf_dir, "embeddings")  # direct-call poisoning guard
    return snapshot_memo(spark, "pq_index", snapshot_key(sf_dir, "embeddings"), lambda: _build_pq(spark))


def _build_pq(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """_train_pq's cache-miss body, over the bound ``embeddings`` view."""
    step = max(1, spark.sql(f"SELECT count(*) DIV {_K} FROM embeddings").collect()[0][0])

    def view(df: DataFrame, name: str) -> DataFrame:
        out = df.localCheckpoint(eager=True)
        out.createOrReplaceTempView(name)
        return out

    view(spark.sql(_pq_ex_sql("spark")), "_pq_ex")
    view(spark.sql(_pq_cent0_sql("spark", str(step), "_pq_ex")), "_pq_cent")
    for k in range(_PQ_ITERS):
        view(
            spark.sql(
                f"WITH {_pq_codes_sql('spark', '_pq_ex', '_pq_cent', str(k))}\n"
                + _pq_cent_next_sql("_pq_ex", f"codes{k}")
            ),
            "_pq_cent",
        )
    cent = spark.table("_pq_cent")
    codes = view(
        spark.sql(
            f"WITH {_pq_codes_sql('spark', '_pq_ex', '_pq_cent', 'f')} "
            "SELECT vec_id, sub, code FROM codesf"
        ),
        "_pq_codes",
    )
    return codes, cent


def _pq_search_arr_meta(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The search artifact (lutarr, codesarr) for the fixed query set,
    built once per (session, snapshot) from the trained quantizer."""
    bind_table(spark, sf_dir, "embeddings")
    return snapshot_memo(
        spark,
        "pq_searcharr",
        snapshot_key(sf_dir, "embeddings"),
        lambda: _pq_search_arrays(spark, *_train_pq(spark, sf_dir)),
    )


def _pq_search_arrays(spark: SparkSession, codes: DataFrame, cent: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Array-folded search artifact (r19): ``lutarr(qid, pa)`` — the
    query LUT as ONE dense {_M}x{_K} BIGINT array per query — and
    ``codesarr(vec_id, ca, vnorm)`` — ONE row per vector with its {_M}
    codes and reconstructed norm. Each is one checkpointed query over
    the SAME LUT / code-norm CTEs the exploded _pq_search_sql body
    derives inline, so the integers are identical and only the layout
    changes: the ADC sum runs as {_M} array lookups per (query, vector)
    pair instead of an {_M}x-exploded join + re-shuffled hash
    aggregation per execution (guide §2.4: remove the exchange
    outright). Own view names, read only inside these two eager builds
    (CLAUDE.md consumer-handle rule)."""
    codes.createOrReplaceTempView("_pq_arr_codes")
    cent.createOrReplaceTempView("_pq_arr_cent")
    qex = f"SELECT * FROM ({_pq_ex_sql('spark')}) exq WHERE {_query_pred()}"
    lutarr = spark.sql(
        f"WITH {_pq_lut_ctes(qex, '_pq_arr_cent')}\n{_lut_fold_sql('lut')}"
    ).localCheckpoint(eager=True)
    codesarr = spark.sql(
        f"""WITH {_pq_vn_ctes('_pq_arr_cent', '_pq_arr_codes')},
folded AS ({_codes_fold_sql('_pq_arr_codes', 'vec_id')})
SELECT c.vec_id, c.ca, v.vnorm FROM folded c JOIN vn v ON c.vec_id = v.vec_id"""
    ).localCheckpoint(eager=True)
    return lutarr, codesarr


def _adc_arr_expr(lut_alias: str = "l", codes_alias: str = "a") -> str:
    """The ADC sum as {_M} unrolled 0-based array lookups —
    whole-stage-codegen'd static indexing (a higher-order-function
    fold would run interpreted; the simhash r13 lesson)."""
    return " + ".join(
        f"{lut_alias}.pa[{_K} * {s} + {codes_alias}.ca[{s}]]" for s in range(_M)
    )


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC search against the persisted codebooks/codes: per-query
    work is {_M} array lookups per candidate vector over the folded
    (vec_id, ca, vnorm) codes relation, then the exact re-rank of
    {_CAND} candidates — never the full vectors except in the final
    re-rank join. The ADC scores are the same BIGINT sums as the
    exploded _pq_search_sql body (which the DuckDB twin still runs),
    so the strict compare pins folded == exploded every run."""
    register_views(spark, sf_dir)
    lutarr, codesarr = _pq_search_arr_meta(spark, sf_dir)
    lutarr.createOrReplaceTempView("_pq_lutarr")
    codesarr.createOrReplaceTempView("_pq_codesarr")
    dot = _dot("spark", "q.embedding", "v.embedding")
    return spark.sql(
        f"""WITH cand AS (
  SELECT qid, vec_id, ra FROM (
    -- BROADCAST hint: the checkpointed lutarr is an ExistingRDD scan
    -- with NO size stats (the bm25i r18 lesson), so the planner would
    -- otherwise choose CartesianProduct for this non-equi join; the
    -- relation is |queries| rows (bounded query set -> tolerated BNLJ)
    SELECT /*+ BROADCAST(l) */ l.qid, a.vec_id,
           ROW_NUMBER() OVER (PARTITION BY l.qid
             ORDER BY CAST({_adc_arr_expr()} AS DOUBLE) / a.vnorm DESC, a.vec_id ASC) AS ra
    FROM _pq_codesarr a JOIN _pq_lutarr l ON a.vec_id <> l.qid
  ) s WHERE ra <= {_CAND}
),
qbase AS (
  SELECT vec_id, embedding, {_norm("spark", 'embedding')} AS norm FROM embeddings
),
scored AS (
  SELECT c.qid AS query_id, c.vec_id AS neighbor_id,
         ({dot}) / (q.norm * v.norm) AS cos_raw
  FROM cand c
  JOIN qbase q ON c.qid = q.vec_id
  JOIN qbase v ON c.vec_id = v.vec_id
),
final_rank AS (
  SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rk
FROM final_rank WHERE rk <= {_TOPK}"""
    )
