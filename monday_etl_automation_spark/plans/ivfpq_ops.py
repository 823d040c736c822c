"""IVF-PQ: coarse quantizer + product-quantized RESIDUALS
(SURVEY.md §2.12 — the production ANN composition, cf. FAISS IVFPQ /
Jégou et al. 2011 §IV).

Flat PQ ranks every vector per query; IVF alone re-ranks whole
inverted lists with full vectors. IVF-PQ composes them the way a real
100 TB index does:

- the coarse quantizer (the persisted IVF k-means centroids) routes
  each vector to an inverted list;
- the RESIDUAL x - c(x) — much lower variance than x — is
  product-quantized (16 x 4-dim codebooks, trained once, persisted);
- a search probes nprobe lists and scores ONLY their members by
  composite ADC:  approx_dot(q, v) = q·c(v) + q·r̂(v), where q·c is
  one 20-row lookup and q·r̂ is 16 code lookups — no float math and
  no full vectors until the exact re-rank of the top-{_CAND};
- the approximate norm uses the exact expansion
  ||c + r̂||² = ||c||² + 2 c·r̂ + ||r̂||², all precomputed BIGINT
  tables (cc2 / cr / rr2), so ranking is deterministic and
  cross-engine exact;
- the one-shot body (_ivfpq_sql) is the DuckDB oracle; the Spark
  executor reads ONE snapshot artifact built from the same CTE
  bodies (_ivfpq_search_arrays): the residual LUT folded to one
  array per query and codes + norm sums to one row per vector.

All arithmetic is 1e6-scaled longs derived from the SAME element
relation the IVF trainer uses (round(xd_1e8 / 100) — bit-identical in
both engines), so the DuckDB twin walks the identical centroid AND
codebook trajectories. Residual bounds: |rd| < 2.4e6, d2 terms
< 2.4e13, norm sums < 1e15 — inside BIGINT everywhere.

Measured recall@5 vs exact cosine: 0.960 (sf0.01) / 0.935 (sf0.1) at
nprobe=12, cand=200 — the probed lists cap recall exactly as plain IVF
(quantization only reorders candidates before the exact re-rank), so
the recall floor is shared with the IVF path's posture.

Served as the ``ivfpq`` shape of the ``vector_extra`` entry
(plans/vector_extra.py); twin under tests/test_ivfpq.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from monday_etl_automation_spark.plans.sqltext import tail_order
from monday_etl_automation_spark.plans.embed_ops import (
    _IVF_ITERS,
    _IVF_NCENT,
    _IVF_NPROBE,
    _query_pred,
    _TOPK,
    _dot,
    _ivf_cent0_sql,
    _ivf_cent_next_sql,
    _ivf_ex_sql,
    _ivf_meta_cte,
    _ivf_ranked_sql,
    _norm,
    _train_ivf,
)
from monday_etl_automation_spark.plans.pq_ops import (
    _K,
    _PQ_ITERS,
    _SUBDIM,
    _codes_fold_sql,
    _lut_fold_sql,
    _pq_cent0_sql,
    _pq_cent_next_sql,
    _pq_codes_sql,
)
from monday_etl_automation_spark.sources.tables import (
    bind_table,
    register_views,
    snapshot_key,
    snapshot_memo,
)

# round 9 (r8 verdict item 5): nprobe 8 -> 12 (jointly with
# _IVF_NPROBE) and cand 100 -> 200. Measured recall@5 vs exact cosine
# via the DuckDB twin: 0.960 (sf0.01) / 0.935 (sf0.1), up from
# 0.940 / 0.830 — the floor in tests/test_ivfpq.py rises to 0.80 to
# match the other ANN paths. Round 14: the probe budget is no longer
# a local constant — IVF-PQ probes exactly the plain-IVF capacity
# ladder's nprobe (embed_ops._ivf_params / _ivf_meta_cte), so the
# corpus path, the DuckDB twin, AND the batch path (which derives its
# probe pick from ivf_assign_batch, itself ladder-truncated) all read
# the same snapshot-derived value by construction — the divergence
# the old `assert _NPROBE <= _IVF_NPROBE` guarded is unrepresentable.
_CAND = 200

# ONE definition of the 1e6 regrain — round(floor(x*1e8)/100) is NOT
# always floor(x*1e6), so twin and executor must share this expression
_E6_EXPR = "CAST(round(CAST(xd AS DOUBLE) / 100, 0) AS BIGINT)"


def _e6_sql(dialect: str) -> str:
    """1e6-grain element relation (vec_id, dim, xd6), derived from the
    SAME 1e8 floor the IVF trainer uses (shared _E6_EXPR — identical
    in the twin and the executor)."""
    return (
        f"SELECT vec_id, dim, {_E6_EXPR} AS xd6"
        f" FROM ({_ivf_ex_sql(dialect)}) ivx"
    )


def _rex_sql(dialect: str, e6: str, asg: str, cent: str) -> str:
    """Residual exploded relation (vec_id, sub, d, xd): element minus
    the owning centroid's component, reshaped into PQ subspaces."""
    idiv = "DIV" if dialect == "spark" else "//"
    return f"""SELECT e.vec_id, CAST(e.dim {idiv} {_SUBDIM} AS INT) AS sub,
         CAST(e.dim % {_SUBDIM} AS INT) AS d,
         e.xd6 - c.md AS xd
  FROM {e6} e JOIN {asg} a ON e.vec_id = a.vec_id
  JOIN {cent} c ON a.cid = c.cid AND e.dim = c.dim"""


def _qc_body(cent: str) -> str:
    return f"""SELECT q.vec_id AS qid, c.cid, CAST(sum(q.xd6 * c.md) AS BIGINT) AS dot_qc
  FROM q6 q JOIN {cent} c ON q.dim = c.dim GROUP BY q.vec_id, c.cid"""


def _lut_body(rcb: str, idiv: str) -> str:
    return f"""SELECT q.vec_id AS qid, r.sub, r.code, CAST(sum(q.xd6 * r.md) AS BIGINT) AS pdot
  FROM q6 q JOIN {rcb} r ON CAST(q.dim {idiv} {_SUBDIM} AS INT) = r.sub
                         AND CAST(q.dim % {_SUBDIM} AS INT) = r.d
  GROUP BY q.vec_id, r.sub, r.code"""


def _cc2_body(cent: str) -> str:
    return f"SELECT cid, CAST(sum(md * md) AS BIGINT) AS n2 FROM {cent} GROUP BY cid"


def _rr2_body(rcb: str) -> str:
    return f"SELECT sub, code, CAST(sum(md * md) AS BIGINT) AS n2 FROM {rcb} GROUP BY sub, code"


def _cr_body(cent: str, rcb: str, idiv: str) -> str:
    return f"""SELECT c.cid, r.sub, r.code, CAST(sum(c.md * r.md) AS BIGINT) AS x
  FROM {cent} c JOIN {rcb} r ON CAST(c.dim {idiv} {_SUBDIM} AS INT) = r.sub
                             AND CAST(c.dim % {_SUBDIM} AS INT) = r.d
  GROUP BY c.cid, r.sub, r.code"""


def _vstats_body(vparts: str) -> str:
    return f"""SELECT v.vec_id, v.cid,
         CAST(sum(rr2.n2) AS BIGINT) AS rr_sum,
         CAST(sum(cr.x) AS BIGINT) AS cr_sum
  FROM {vparts} v
  JOIN rr2 ON v.sub = rr2.sub AND v.code = rr2.code
  JOIN cr ON v.cid = cr.cid AND v.sub = cr.sub AND v.code = cr.code
  GROUP BY v.vec_id, v.cid"""


def _ivfpq_tail_sql(
    dialect: str,
    ranked: str,
    cent: str,
    rcb: str,
    vparts: str,
    e6: str,
    qpick: str | None = None,
    q6: str | None = None,
    qsrc: str = "embeddings",
    exclude_self: bool = True,
    nprobe: int | str = _IVF_NPROBE,
) -> str:
    """Search CTEs over trained relations: ``ranked(vec_id, cid, rc)``,
    ``cent(cid, dim, md)``, ``rcb(sub, code, d, md)`` (residual
    codebooks), ``vparts(vec_id, cid, sub, code)`` (the 8-byte codes +
    list id per vector), ``e6`` (1e6 elements, for the query side).
    ``qpick``/``q6``/``qsrc``/``exclude_self`` override the query side
    for batch (non-corpus) queries — one body serves the corpus
    search, the twin, and the batch path. CTE bodies are shared
    helpers (_qc_body etc.) so the folded executor artifact
    (_ivfpq_search_arrays) and this inline form can never drift."""
    idiv = "DIV" if dialect == "spark" else "//"
    dot = _dot(dialect, "q.embedding", "v.embedding")
    cos = f"({dot}) / (q.norm * v.norm)"
    qpick_sql = qpick or (
        f"SELECT vec_id, cid FROM {ranked} WHERE {_query_pred()} AND rc <= {nprobe}"
    )
    q6_sql = q6 or (
        f"SELECT vec_id, dim, xd6 FROM {e6} e WHERE {_query_pred()}"
    )
    self_guard = "WHERE d2.qid <> d2.vec_id" if exclude_self else ""
    return f"""qpick AS ({qpick_sql}),
q6 AS ({q6_sql}),
qc AS (
  {_qc_body(cent)}
),
lut AS (
  {_lut_body(rcb, idiv)}
),
cc2 AS ({_cc2_body(cent)}),
rr2 AS ({_rr2_body(rcb)}),
cr AS (
  {_cr_body(cent, rcb, idiv)}
),
vstats AS (
  {_vstats_body(vparts)}
),
vadc AS (
  SELECT l.qid, v.vec_id, CAST(sum(l.pdot) AS BIGINT) AS radot
  FROM {vparts} v JOIN lut l ON v.sub = l.sub AND v.code = l.code
  JOIN qpick p ON l.qid = p.vec_id AND v.cid = p.cid
  GROUP BY l.qid, v.vec_id
),
cand AS (
  SELECT qid, vec_id, ra FROM (
    SELECT d2.qid, d2.vec_id,
           ROW_NUMBER() OVER (PARTITION BY d2.qid ORDER BY
             CAST(d2.radot + qc.dot_qc AS DOUBLE)
             / sqrt(CAST(cc2.n2 + 2 * vs.cr_sum + vs.rr_sum AS DOUBLE)) DESC,
             d2.vec_id ASC) AS ra
    FROM vadc d2
    JOIN vstats vs ON d2.vec_id = vs.vec_id
    JOIN cc2 ON vs.cid = cc2.cid
    JOIN qc ON d2.qid = qc.qid AND vs.cid = qc.cid
    {self_guard}
  ) s WHERE ra <= {_CAND}
),
qbase AS (
  SELECT vec_id, embedding, {_norm(dialect, 'embedding')} AS norm FROM {qsrc}
),
vbase AS (
  SELECT vec_id, embedding, {_norm(dialect, 'embedding')} AS norm FROM embeddings
),
scored AS (
  SELECT c.qid AS query_id, c.vec_id AS neighbor_id, {cos} AS cos_raw
  FROM cand c JOIN qbase q ON c.qid = q.vec_id JOIN vbase v ON c.vec_id = v.vec_id
),
final_rank AS (
  SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rk
FROM final_rank WHERE rk <= {_TOPK}{tail_order(dialect, "query_id, rk")}"""


def ivfpq_train_ctes(dialect: str, prefix: str = "") -> str:
    """The one-shot trainer CTE chain — coarse IVF rounds →
    ``{prefix}cent{_IVF_ITERS}`` / ``ranked{prefix}{_IVF_ITERS}`` /
    ``{prefix}asgf``, the 1e6 element relation ``{prefix}e6``, the
    residual explode ``{prefix}rex``, residual-PQ rounds →
    ``{prefix}rcb`` (residual codebooks), and ``{prefix}vparts``
    (cid + 8-byte codes per vector).

    Factored out of _ivfpq_sql (r17, r16 verdict item 3) so the
    vector_extra oracle hoists ONE prefixed copy shared by the ivfpq
    search branch and the vstream ivf/ipqc branches — which also
    RETIRES the duplicate coarse training the vstream oracle used to
    run. With prefix='' this is the chain _ivfpq_sql always inlined."""
    p = prefix
    idiv = "DIV" if dialect == "spark" else "//"
    fin = _IVF_ITERS
    ivf_rounds = ",\n".join(
        f"""{_ivf_ranked_sql(dialect, f'{p}ex', f'{p}cent{k}', f'{p}{k}')},
{p}asg{k} AS (SELECT vec_id, cid FROM ranked{p}{k} WHERE rc = 1),
{p}cent{k + 1} AS ({_ivf_cent_next_sql(f'{p}ex', f'{p}asg{k}')})"""
        for k in range(_IVF_ITERS)
    )
    pq_rounds = ",\n".join(
        f"""{_pq_codes_sql(dialect, f'{p}rex', f'{p}rcent{k}', f'{p}r{k}')},
{p}rcent{k + 1} AS ({_pq_cent_next_sql(f'{p}rex', f'codes{p}r{k}')})"""
        for k in range(_PQ_ITERS)
    )
    return f"""{_ivf_meta_cte(dialect).replace("meta AS (", f"{p}meta AS (", 1)},
{p}ex AS ({_ivf_ex_sql(dialect)}),
{p}cent0 AS ({_ivf_cent0_sql(dialect, f"(SELECT step FROM {p}meta)", f"{p}ex", ncent=f"(SELECT ncent FROM {p}meta)")}),
{ivf_rounds},
{_ivf_ranked_sql(dialect, f'{p}ex', f'{p}cent{fin}', f'{p}{fin}')},
{p}asgf AS (SELECT vec_id, cid FROM ranked{p}{fin} WHERE rc = 1),
{p}e6 AS (SELECT vec_id, dim, {_E6_EXPR} AS xd6 FROM {p}ex),
{p}rex AS ({_rex_sql(dialect, f'{p}e6', f'{p}asgf', f'{p}cent{fin}')}),
{p}pqmeta AS (SELECT greatest(1, count(*) {idiv} {_K}) AS step FROM embeddings),
{p}rcent0 AS ({_pq_cent0_sql(dialect, f"(SELECT step FROM {p}pqmeta)", f"{p}rex")}),
{pq_rounds},
{_pq_codes_sql(dialect, f'{p}rex', f'{p}rcent{_PQ_ITERS}', f'{p}rf')},
{p}rcb AS (SELECT * FROM {p}rcent{_PQ_ITERS}),
{p}vparts AS (
  SELECT a.vec_id, a.cid, k.sub, k.code FROM {p}asgf a JOIN codes{p}rf k ON a.vec_id = k.vec_id
)"""


def ivfpq_search_body(dialect: str, prefix: str = "") -> str:
    """The search half over a (possibly prefixed) trained chain — CTE
    list + final SELECT (outer-scope trainer CTEs are visible inside
    derived tables)."""
    p = prefix
    return _ivfpq_tail_sql(
        dialect,
        f"ranked{p}{_IVF_ITERS}",
        f"{p}cent{_IVF_ITERS}",
        f"{p}rcb",
        f"{p}vparts",
        f"{p}e6",
        nprobe=f"(SELECT nprobe FROM {p}meta)",
    )


def _ivfpq_sql(dialect: str) -> str:
    """One-shot twin: IVF training + residual-PQ training + search —
    the DuckDB oracle (DuckDB materializes repeated CTEs, so the long
    chain costs nothing extra there)."""
    return f"""
WITH {ivfpq_train_ctes(dialect)},
{ivfpq_search_body(dialect)}
""".strip()


def _train_ivfpq(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(ranked, rcb, vparts) — residual codebooks and per-vector codes
    against the persisted IVF quantizer, memoized per (session, data
    snapshot). Stepwise localCheckpoints for the usual CTE-inlining
    reason; all handles are cached FRAMES (never re-resolved temp
    views — CLAUDE.md view-rebinding rule)."""
    bind_table(spark, sf_dir, "embeddings")  # direct-call poisoning guard
    key = snapshot_key(sf_dir, "embeddings")
    return snapshot_memo(spark, "ivfpq_index", key, lambda: _build_ivfpq(spark, sf_dir))


def _build_ivfpq(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """_train_ivfpq's cache-miss body: residual explode, residual-PQ
    Lloyd rounds and encoding against the persisted IVF quantizer."""
    ranked, cent, _, _ = _train_ivf(spark, sf_dir)
    ranked.createOrReplaceTempView("_ipq_ranked")
    cent.createOrReplaceTempView("_ipq_cent")

    def view(df: DataFrame, name: str) -> DataFrame:
        out = df.localCheckpoint(eager=True)
        out.createOrReplaceTempView(name)
        return out

    view(spark.sql(_e6_sql("spark")), "_ipq_e6")
    view(
        spark.sql(
            "WITH asgf AS (SELECT vec_id, cid FROM _ipq_ranked WHERE rc = 1) "
            + _rex_sql("spark", "_ipq_e6", "asgf", "_ipq_cent")
        ),
        "_ipq_rex",
    )
    step = max(1, spark.sql(f"SELECT count(*) DIV {_K} FROM embeddings").collect()[0][0])
    rcb = view(spark.sql(_pq_cent0_sql("spark", str(step), "_ipq_rex")), "_ipq_rcb")
    for k in range(_PQ_ITERS):
        rcb = view(
            spark.sql(
                f"WITH {_pq_codes_sql('spark', '_ipq_rex', '_ipq_rcb', f'r{k}')}\n"
                + _pq_cent_next_sql("_ipq_rex", f"codesr{k}")
            ),
            "_ipq_rcb",
        )
    vparts = view(
        spark.sql(
            f"WITH {_pq_codes_sql('spark', '_ipq_rex', '_ipq_rcb', 'rf')},\n"
            "asgf AS (SELECT vec_id, cid FROM _ipq_ranked WHERE rc = 1)\n"
            "SELECT a.vec_id, a.cid, k.sub, k.code"
            " FROM asgf a JOIN codesrf k ON a.vec_id = k.vec_id"
        ),
        "_ipq_vparts",
    )
    return ranked, rcb, vparts


def _ivfpq_search_arr_meta(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The search artifact {qpick, qc, cc2, lutarr, varr} for the fixed
    query set, built once per (session, snapshot) from the persisted
    quantizer and residual codes."""
    bind_table(spark, sf_dir, "embeddings")

    def build() -> dict[str, DataFrame]:
        ranked, rcb, vparts = _train_ivfpq(spark, sf_dir)
        _, cent, _, nprobe = _train_ivf(spark, sf_dir)
        return _ivfpq_search_arrays(spark, ranked, cent, nprobe, rcb, vparts)

    return snapshot_memo(spark, "ivfpq_searcharr", snapshot_key(sf_dir, "embeddings"), build)


def _ivfpq_search_arrays(
    spark: SparkSession,
    ranked: DataFrame,
    cent: DataFrame,
    nprobe: int,
    rcb: DataFrame,
    vparts: DataFrame,
) -> dict[str, DataFrame]:
    """Array-folded search artifact (r19), five checkpointed relations
    built from the SAME body helpers the exploded _ivfpq_tail_sql
    derives inline: qpick (probed lists per query), qc (query-centroid
    dots), cc2 (centroid norms), lutarr (the residual LUT as ONE dense
    {_M}x{_K} BIGINT array per query, pa[sub*{_K}+code]) and varr (ONE
    row per vector: vec_id, cid, ca[{_M}] and its code-norm sums
    rr_sum / cr_sum). Same integers as the exploded relations — layout
    only — so the probed ADC runs as {_M} array lookups per (query,
    member) pair instead of an {_M}x-exploded join + hash aggregation
    + vstats join per execution. Own view names, read only inside
    these eager builds (CLAUDE.md consumer-handle rule)."""
    for name, df in (("ranked", ranked), ("cent", cent), ("rcb", rcb), ("vparts", vparts)):
        df.createOrReplaceTempView(f"_ipqa_{name}")
    q6 = f"SELECT vec_id, dim, xd6 FROM ({_e6_sql('spark')}) e WHERE {_query_pred()}"

    def ck(sql: str) -> DataFrame:
        return spark.sql(sql).localCheckpoint(eager=True)

    return {
        "qpick": ck(f"SELECT vec_id, cid FROM _ipqa_ranked WHERE {_query_pred()} AND rc <= {nprobe}"),
        "qc": ck(f"WITH q6 AS ({q6})\n{_qc_body('_ipqa_cent')}"),
        "cc2": ck(_cc2_body("_ipqa_cent")),
        "lutarr": ck(
            f"WITH q6 AS ({q6}),\nlut AS (\n  {_lut_body('_ipqa_rcb', 'DIV')}\n)\n{_lut_fold_sql('lut')}"
        ),
        "varr": ck(
            f"""WITH rr2 AS ({_rr2_body('_ipqa_rcb')}),
cr AS (
  {_cr_body('_ipqa_cent', '_ipqa_rcb', 'DIV')}
),
vstats AS (
  {_vstats_body('_ipqa_vparts')}
),
folded AS ({_codes_fold_sql('_ipqa_vparts', 'vec_id, cid')})
SELECT p.vec_id, p.cid, p.ca, s.rr_sum, s.cr_sum
FROM folded p JOIN vstats s ON p.vec_id = s.vec_id"""
        ),
    }


def ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search against the persisted index: per-query work is the
    20-row centroid lookup, 16 residual-LUT array lookups per probed
    member over the folded (vec_id, cid, ca, rr_sum, cr_sum) relation,
    and the exact re-rank — codes and KB-sized tables only. Scores are
    the same BIGINT sums as the exploded _ivfpq_tail_sql body (which
    the DuckDB twin still runs), so the strict compare pins
    folded == exploded every run."""
    from monday_etl_automation_spark.plans.pq_ops import _adc_arr_expr

    register_views(spark, sf_dir)
    meta = _ivfpq_search_arr_meta(spark, sf_dir)
    for name, df in meta.items():
        df.createOrReplaceTempView(f"_ipq_fold_{name}")
    dot = _dot("spark", "q.embedding", "v.embedding")
    return spark.sql(
        f"""WITH cand AS (
  SELECT qid, vec_id, ra FROM (
    -- BROADCAST hints: the checkpointed metadata relations are
    -- ExistingRDD scans with NO size stats (the bm25i r18 lesson), so
    -- the planner would otherwise SortMergeJoin each of these
    -- KB-sized sides against the codes relation
    SELECT /*+ BROADCAST(p), BROADCAST(l), BROADCAST(qc), BROADCAST(cc2) */
           p.vec_id AS qid, a.vec_id,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
             CAST(({_adc_arr_expr()}) + qc.dot_qc AS DOUBLE)
             / sqrt(CAST(cc2.n2 + 2 * a.cr_sum + a.rr_sum AS DOUBLE)) DESC,
             a.vec_id ASC) AS ra
    FROM _ipq_fold_varr a
    JOIN _ipq_fold_qpick p ON a.cid = p.cid AND a.vec_id <> p.vec_id
    JOIN _ipq_fold_lutarr l ON l.qid = p.vec_id
    JOIN _ipq_fold_qc qc ON qc.qid = p.vec_id AND qc.cid = a.cid
    JOIN _ipq_fold_cc2 cc2 ON cc2.cid = a.cid
  ) s WHERE ra <= {_CAND}
),
qbase AS (
  SELECT vec_id, embedding, {_norm("spark", 'embedding')} AS norm FROM embeddings
),
scored AS (
  SELECT c.qid AS query_id, c.vec_id AS neighbor_id,
         ({dot}) / (q.norm * v.norm) AS cos_raw
  FROM cand c JOIN qbase q ON c.qid = q.vec_id JOIN qbase v ON c.vec_id = v.vec_id
),
final_rank AS (
  SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rk
FROM final_rank WHERE rk <= {_TOPK}"""
    )
