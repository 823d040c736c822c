"""Similarity search over the ``embeddings`` table (SURVEY.md §2.12).

- cosine_topk      — brute-force exact top-k: broadcast the (small)
                     query set against all vectors; per-pair cosine is
                     a row-local zip_with/aggregate fold (JVM, no
                     Python). The baseline every ANN variant is
                     measured against.
- ann_lsh_topk     — the scale path: 4 OR'd 4-plane sign-bucket sets
                     with Hamming-1 multi-probe and an exact cosine
                     re-rank; the bucket index and the IVF quantizer
                     are built once per (session, data snapshot) and
                     persisted, so a search touches only bucket-join
                     candidates — never the plane projections.

Float policy for oracle parity: all arithmetic in DOUBLE with
identical left-fold order in both engines (Spark ``aggregate`` and
DuckDB ``reduce`` are both left folds; float->double widening is
exact), so cosine values match bit-for-bit before the final round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from monday_etl_automation_spark.plans.sqltext import tail_order
from monday_etl_automation_spark.sources.tables import (
    bind_table,
    register_views,
    snapshot_key,
    snapshot_memo,
)

_DIM = 64
_TOPK = 5
_QUERY_MOD = 50  # query ids are spaced _QUERY_MOD apart (dense vec_ids)
# FIXED-cardinality query set: the 40 ids {0, 50, ..., 1950} as a
# literal IN-list (the BM25 _QUERIES pattern, search_ops.py). The old
# predicate `vec_id % 50 = 0` made the query set 1/50 OF THE CORPUS,
# so every top-k search was O(n^2/50) — measured 63.9x wall at 10x
# data (round-12 verdict). A literal list is a pure pushed-down scan
# predicate (no subquery, no extra pass), identical in both engines,
# and decouples query count from corpus size: search work is O(k·n)
# exact / O(k·probe) ANN no matter the corpus. At sf<=0.1 every id in
# the residue class is <= 1950, so results are bit-identical to the
# old predicate; past that the query set simply stops growing.
_N_QUERIES = 40
_QUERY_IDS = ", ".join(str(i) for i in range(0, _N_QUERIES * _QUERY_MOD, _QUERY_MOD))


def _query_pred() -> str:
    """Membership predicate of the fixed query-id set for ``vec_id``."""
    return f"vec_id IN ({_QUERY_IDS})"


def _dot(dialect: str, a: str, b: str) -> str:
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return (
        f"reduce([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) for i in range(1, {_DIM + 1})],"
        " (acc, v) -> acc + v)"
    )


def _norm(dialect: str, a: str) -> str:
    return f"sqrt({_dot(dialect, a, a)})"


def _cosine_topk_sql(dialect: str) -> str:
    dot = _dot(dialect, "q.embedding", "v.embedding")
    rn = "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {c} DESC, v.vec_id ASC)"
    cos = f"({dot}) / (q.norm * v.norm)"
    return f"""
WITH base AS (
  SELECT vec_id, label, embedding, {_norm(dialect, 'embedding')} AS norm FROM embeddings
),
q AS (SELECT * FROM base WHERE {_query_pred()}),
scored AS (
  SELECT
    q.vec_id AS query_id,
    v.vec_id AS neighbor_id,
    v.label AS neighbor_label,
    round({cos}, 6) AS cosine,
    CAST({rn.format(c=cos)} AS INT) AS rk
  FROM q JOIN base v ON q.vec_id <> v.vec_id
)
SELECT query_id, neighbor_id, neighbor_label, cosine, rk
FROM scored WHERE rk <= {_TOPK}
""".strip()


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_cosine_topk_sql("spark"))


# ---------------------------------------------------------------------------
# ann_lsh_topk — random-hyperplane bucketing, OR-amplified + re-ranked
# ---------------------------------------------------------------------------

# Fixed pseudo-random hyperplanes; component j of plane p is a
# deterministic small integer in [-3, 3] (identical in both engines).
# The legacy linear family ((p*31 + j*17) % 7 - 3) repeated with
# period 7 in p, so it supported at most 7 independent planes — the
# ANN probe sets AND (since round 14) the near-dup buckets both use
# the Knuth-mix family (_plane_mix, effectively unlimited distinct
# planes).
_ANN_PLANES = 4  # BASE bits per probe set: 16 buckets at the ladder floor
_ANN_SETS = 4  # OR'd independent plane sets (recall amplification)

# ANN capacity ladder (round 14, r13 verdict item 3): bucket count per
# probe set was a fixed dial ("raise k with corpus size" — a manual
# step). The index now stores the FULL _ANN_BITS_MAX-bit bucket per
# set and a search keeps the LOW b bits (bucket % 2^b), where b is the
# smallest bit count with count(*) <= _ANN_TARGET * 2^b — per-set
# bucket population stays ~TARGET, so per-query candidate work is
# ~(1+b)·TARGET·SETS ~ O(log n) instead of O(n). Low-bits-keep (vs the
# near-dup ladder's high-bits DIV) lets bit i < _ANN_PLANES keep the
# EXACT legacy plane assignment: at the ladder floor (b=4, every
# corpus <= 2,000 vectors — both pytest SFs) buckets, probes, and
# results are bit-identical to r13. TARGET=125 is the measured r13
# sf0.1 per-bucket population (2,000/16), i.e. the recall design point
# the 0.80 floors were set at. Capacity: TARGET * 2^BITS_MAX ~ 2.1G
# vectors (raised from 2^16 ~ 8.2M in round 15 — the last documented
# capacity bound below 100-TB scale); past it the ladder pins
# b=BITS_MAX and per-query work degrades LINEARLY (population grows
# with n; the query set is fixed) — a dial, not a cliff (unlike
# near-dup, whose in-bucket PAIR work was quadratic past saturation).
# Raising BITS_MAX further is a one-constant change; every consumer
# derives bucket bits, flips, and modulus from the constants below,
# and the batch/streaming index rows are full-width
# (divisor-independent), so stored indexes survive the raise
# unchanged — GUARANTEED only because the per-set plane stride below
# (_ANN_EXT_STRIDE) is a fixed constant, NOT derived from BITS_MAX:
# the r14 stride was (BITS_MAX - PLANES), under which a raise silently
# reassigned the extension planes of probe sets 2..4 and invalidated
# every stored bucket's high bits. Frozen plane ids are pinned in
# tests/test_embed_ingest.py (test_ann_plane_ids_are_frozen).
_ANN_BITS_MAX = 24
_ANN_TARGET = 125
# extension planes (bits _ANN_PLANES.._ANN_BITS_MAX-1) come from a
# range disjoint from both the legacy ANN planes (1..16) and the
# near-dup planes (101..124)
_ANN_EXT_BASE = 201
# fixed per-set stride in the extension range: supports BITS_MAX up to
# _ANN_PLANES + 32 = 36 without ever moving an already-assigned plane
_ANN_EXT_STRIDE = 32
# rung depth at which multiprobe escalates from Hamming-1 to
# Hamming-<=2 (r16): below it behavior is bit-identical to r15 (every
# pytest-SF corpus sits at the b=4 floor; the rung-1 fixtures at b=5);
# from it on, pair flips keep hard-case recall above the 0.80 floor
# (measured 0.575 -> ~0.9 at b=8 on the isotropic hard corpus,
# tests/test_ann_recall.py:build_hard_corpus) at (1 + b + C(b,2))
# probes/set ~ O(log^2 n).
_ANN_DEEP_B = 8


def _ann_plane(set_id: int, i: int) -> int:
    """Mix-plane id of bit i (0-based) in probe set set_id (1-based).
    Bits below _ANN_PLANES keep the legacy numbering (so the ladder
    floor is bit-identical to the pre-ladder index); higher bits map
    into the disjoint extension range at a FIXED stride, so the
    (set_id, i) -> plane map is invariant under _ANN_BITS_MAX raises
    and full-width indexes stored before a raise stay valid."""
    if i < _ANN_PLANES:
        return (set_id - 1) * _ANN_PLANES + i + 1
    return _ANN_EXT_BASE + (set_id - 1) * _ANN_EXT_STRIDE + (i - _ANN_PLANES)


def _ann_ladder() -> list[tuple[int, int]]:
    """(count-threshold, modulus) rungs — the ONE source of both the
    SQL CASE (_ann_meta_cte) and the Python modulus (_ann_modulus,
    cached with the persisted bucket index)."""
    return [(_ANN_TARGET * 2**b, 2**b) for b in range(_ANN_PLANES, _ANN_BITS_MAX)]


def _ann_modulus(cnt: int) -> int:
    """Python twin of the am CASE ladder."""
    for t, m in _ann_ladder():
        if cnt <= t:
            return m
    return 2**_ANN_BITS_MAX


def _ann_meta_cte(dialect: str) -> str:
    """``am(m)`` — the corpus-derived bucket modulus (one row, integer
    compares only; identical in both engines)."""
    branches = " ".join(f"WHEN cnt <= {t} THEN {m}" for t, m in _ann_ladder())
    return (
        f"am AS (SELECT CASE {branches} ELSE {2 ** _ANN_BITS_MAX} END AS m"
        " FROM (SELECT count(*) AS cnt FROM embeddings) anc)"
    )
# IVF probes the query's nprobe nearest k-means centroids: recall
# misses at low nprobe are queries sitting on a Voronoi boundary —
# the standard recall/cost dial. 8 -> 12 in round 9 (r8 verdict item
# 5): lifts IVF-PQ recall@5 at sf0.1 from 0.830 to 0.935 (with
# cand=200) and raises plain-IVF recall the same way; measured via
# the DuckDB twins. Since round 14 these are the BASE-RUNG values of
# a corpus-adaptive capacity ladder (_ivf_ladder below) — corpora up
# to _IVF_BASE_N vectors (both pytest SFs) behave bit-identically to
# the old fixed config.
_IVF_NPROBE = 12
_IVF_NCENT = 20
_IVF_ITERS = 2  # Lloyd refinement rounds over the deterministic seeds

# Capacity ladder (round 14, r13 verdict item 3): ncent was a fixed
# dial SCALE.md said to "raise with corpus size" manually. The ladder
# retires the manual step: ncent doubles when the corpus quadruples
# (ncent ~ sqrt(n), the standard IVF scaling — per-list population
# and training cost both grow as sqrt(n) instead of n), and nprobe
# doubles every SECOND rung, so the probed corpus share per query is
# (nprobe/ncent)·n ~ n^(3/4) — sublinear — while the probed CELL
# fraction decays slowly enough to hold recall (measured at the 10x
# snapshot: recall@5 = 1.000 at rungs 0-3 alike — the replicated
# corpus's true neighbors are near-clones any probe set finds — with
# warm search 5.0s at the old fixed rung vs 3.2s at the corpus's own
# rung 2: fewer candidates to re-rank). Both engines derive the rung from
# count(*) (integer compares only), so the twin compare stays exact
# at any corpus size; the Spark side computes it ONCE per snapshot
# and caches it with the quantizer handle (the nd-divisor coupling
# rule — a live-view re-derivation could diverge from the persisted
# index after a test view-override).
_IVF_BASE_N = 2500
_IVF_RUNGS = 16  # top rung: ncent 655k at ~2.7e12 vectors


def _ivf_ladder() -> list[tuple[int, int, int]]:
    """(count-threshold, ncent, nprobe) rungs — the ONE source the
    SQL CASE expressions and the Python twin derive from."""
    return [
        (_IVF_BASE_N * 4**b, _IVF_NCENT * 2**b, _IVF_NPROBE * 2 ** ((b + 1) // 2))
        for b in range(_IVF_RUNGS)
    ]


def _ivf_params(cnt: int) -> tuple[int, int]:
    """Python twin of the meta-CTE CASE ladders: (ncent, nprobe)."""
    for t, nc, npr in _ivf_ladder():
        if cnt <= t:
            return nc, npr
    _, nc, npr = _ivf_ladder()[-1]
    return nc, npr


def _ivf_ncent_case() -> str:
    branches = " ".join(f"WHEN cnt <= {t} THEN {nc}" for t, nc, _ in _ivf_ladder())
    return f"CASE {branches} ELSE {_ivf_ladder()[-1][1]} END"


def _ivf_nprobe_case() -> str:
    branches = " ".join(f"WHEN cnt <= {t} THEN {npr}" for t, _, npr in _ivf_ladder())
    return f"CASE {branches} ELSE {_ivf_ladder()[-1][2]} END"


def _ivf_meta_cte(dialect: str) -> str:
    """``meta(cnt, ncent, nprobe, step)`` — the corpus-derived IVF
    capacity parameters (one row; both engines compute the identical
    integer CASE ladder). step is clamped to >= 1: a corpus smaller
    than ncent vectors would make step 0, where Spark's % 0 yields
    NULL (silently empty centroids) while DuckDB raises — divergent
    edge behavior."""
    idiv = "DIV" if dialect == "spark" else "//"
    return f"""meta AS (
  SELECT cnt, {_ivf_ncent_case()} AS ncent, {_ivf_nprobe_case()} AS nprobe,
         greatest(1, cnt {idiv} {_ivf_ncent_case()}) AS step
  FROM (SELECT count(*) AS cnt FROM embeddings) ivc
)"""


def _plane_mix(dialect: str, p: int) -> str:
    """Component j (0-based SQL variable ``{j}``) of hyperplane p from
    a Knuth-multiplicative mix: well-decorrelated across (p, j), value
    uniform in [-3, 3], pure BIGINT arithmetic so both engines agree
    exactly. The legacy linear family repeated with period 7 and its
    sign pattern was correlated across planes, which measurably capped
    OR-amplified recall (0.76 vs 0.96 at 4x4 probe sets on the
    synthetic embeddings)."""
    idiv = "DIV" if dialect == "spark" else "//"
    return (
        f"((((({p} * 64 + {{j}} + 1) * 2654435761) % 4294967296)"
        f" {idiv} 65536) % 7 - 3)"
    )


def _proj_mix(dialect: str, emb: str, p: int) -> str:
    """Double left-fold dot product of ``emb`` with mix-plane p (same
    fold-order policy as _dot — exact cross-engine parity)."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({emb}, sequence(0, {_DIM - 1}),"
            f" (x, j) -> CAST(x AS DOUBLE) * {_plane_mix(dialect, p).format(j='j')}),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return (
        f"reduce([CAST({emb}[i] AS DOUBLE) * {_plane_mix(dialect, p).format(j='(i - 1)')}"
        f" for i in range(1, {_DIM + 1})], (acc, v) -> acc + v)"
    )


def _bucket_mix(dialect: str, emb: str, set_id: int) -> str:
    """FULL {_ANN_BITS_MAX}-bit sign bucket for probe set ``set_id``
    (1-based); bit i weights plane _ann_plane(set_id, i) by 2^i, so
    ``bucket % 2^b`` is the b-bit search bucket and the low
    {_ANN_PLANES} bits reproduce the legacy fixed-width bucket
    exactly."""
    bits = []
    for i in range(_ANN_BITS_MAX):
        p = _ann_plane(set_id, i)
        bits.append(
            f"(CASE WHEN {_proj_mix(dialect, emb, p)} > 0 THEN {2 ** i} ELSE 0 END)"
        )
    return " + ".join(bits)


def _ann_lsh_sql(dialect: str, modulus: int | None = None) -> str:
    """OR-amplified multi-probe LSH with exact re-rank.

    Candidate generation: {_ANN_SETS} independent sign-bucket sets; a
    corpus vector is a candidate for a query if they share a b-bit
    bucket in ANY set (b from the capacity ladder — see _ann_ladder),
    where the query probes its own bucket plus Hamming-neighbor
    buckets per set (the nearest misses are the pairs a hyperplane
    barely splits). The probe RADIUS grows with the rung (r16, r15
    verdict item 3): b < {_ANN_DEEP_B} probes Hamming-1 (1 + b
    probes/set — bit-identical to the pre-r16 behavior at every rung
    the pytest SFs reach), b >= {_ANN_DEEP_B} probes Hamming-<=2
    (1 + b + C(b,2)). The escalation is what holds HARD-case recall at
    depth: per-plane sign agreement for a cosine-0.45 neighbor is
    ~0.65, so the chance all b planes of a set agree decays ~0.65^b —
    at b=8, Hamming-1 measured recall@5 0.575 on the isotropic
    hard-case corpus (tests/test_ann_recall.py:build_hard_corpus)
    while Hamming-2 measures ~0.9 (floor 0.80 pinned in the same file).
    Candidates are deduplicated, then exact cosine re-ranks them — so
    precision is exact and the only approximation is candidate
    coverage. Measured recall@5 vs the brute-force baseline at the
    b=4 ladder floor: 0.96 at sf0.01 / 0.94 at sf0.1 (same 0.80
    floor); single-probe single-set was 0.20.

    ``modulus``: the Spark executor passes the ladder value CACHED
    with the persisted bucket index (flips become compile-time
    literals); the one-shot oracle leaves it None and derives the
    identical value in-SQL from count(*) (the am CTE), filtering a
    full flip list against it — singles by flip < m, pairs
    additionally by m >= 2^{_ANN_DEEP_B} (a pair mask 2^i|2^j with
    j < b always satisfies flip < m, so the one comparison gates the
    radius exactly like the Spark literal list).

    Scale shape: per set the probe join touches (1 + b + C(b,2))
    buckets of ~{_ANN_TARGET} vectors at deep rungs — O(log^2 n) work
    per query against a corpus of n = {_ANN_TARGET}·2^b — and the
    whole search stays {_ANN_SETS} equi-joins + one distinct + one
    re-rank join: no all-pairs stage anywhere, plan shape unchanged
    at any rung. On real-embedding corpora (near-dup cosine >= 0.9,
    per-plane agreement ~0.95 vs ~0.65 here) deeper rungs hold recall
    far better — the synthetic table's top-5 neighbors sit at cosine
    ~0.35-0.55, which is the hard case."""
    dot = _dot(dialect, "q.embedding", "v.embedding")
    cos = f"({dot}) / (q.norm * v.norm)"
    # The Spark executor always searches a PERSISTED index whose ladder
    # modulus travels with the handle, so flips can be compile-time
    # literals; a spark call without one would emit dead Hamming probes
    # for every bit >= the rung (the in-SQL flip < m filter exists only
    # in the oracle branch) — refuse rather than silently over-probe.
    if dialect == "spark" and modulus is None:
        raise ValueError("spark dialect requires the index's cached ladder modulus")
    singles = [0] + [2**i for i in range(_ANN_BITS_MAX)]
    pairs = [
        2**i | 2**j
        for j in range(1, _ANN_BITS_MAX)
        for i in range(j)
    ]
    if modulus is None:
        meta = f"{_ann_meta_cte(dialect)},\n"
        mod_expr = "(SELECT m FROM am)"
        flip_filter = True
        flips = ", ".join(map(str, singles))
        pair_flips = ", ".join(map(str, pairs))
    else:
        meta = ""
        mod_expr = str(int(modulus))
        flip_filter = False
        deep = int(modulus) >= 2**_ANN_DEEP_B
        flips = ", ".join(str(f) for f in singles if f < modulus)
        pair_flips = ", ".join(str(f) for f in pairs if f < modulus) if deep else ""
    if dialect == "spark":
        flip_src = f"SELECT explode(array({flips})) AS flip"
        if pair_flips:
            flip_src += f" UNION ALL SELECT explode(array({pair_flips})) AS flip"
        xor = "b.bucket ^ f.flip"
        # the Spark executor reads the PERSISTED full-width bucket
        # index (see _ann_bucket_index) instead of recomputing
        # projections inline; the search keeps the low ladder bits
        buckets = f"  SELECT vec_id, s, bucket % {mod_expr} AS bucket FROM _ann_buckets"
    else:
        flip_src = f"SELECT unnest([{flips}]) AS flip"
        pair_src = f"SELECT unnest([{pair_flips}]) AS flip" if pair_flips else ""
        if flip_filter:
            # singles gate on the rung; pair masks additionally require
            # the deep-rung threshold (flip < m alone would turn
            # Hamming-2 on at EVERY rung, changing the pytest-floor
            # behavior) — one scalar compare each, same am CTE
            flip_src = f"SELECT flip FROM ({flip_src}) ff WHERE flip < {mod_expr}"
            pair_src = (
                f"SELECT flip FROM (SELECT unnest([{', '.join(map(str, pairs))}]) AS flip) pf"
                f" WHERE {mod_expr} >= {2**_ANN_DEEP_B} AND flip < {mod_expr}"
            )
        if pair_src:
            flip_src = f"{flip_src} UNION ALL {pair_src}"
        xor = "xor(b.bucket, f.flip)"
        # oracle: same values, scan count is irrelevant to the compare
        buckets = "\nUNION ALL\n".join(
            f"  SELECT vec_id, {s} AS s, ({_bucket_mix(dialect, 'embedding', s)}) % {mod_expr} AS bucket FROM embeddings"
            for s in range(1, _ANN_SETS + 1)
        )
    return f"""
WITH {meta}base AS (
  SELECT vec_id, embedding, {_norm(dialect, 'embedding')} AS norm FROM embeddings
),
buckets AS (
{buckets}
),
qprobe AS (
  SELECT b.vec_id, b.s, {xor} AS probe
  FROM (SELECT * FROM buckets WHERE {_query_pred()}) b
  CROSS JOIN ({flip_src}) f
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, v.vec_id AS neighbor_id
  FROM qprobe q
  JOIN buckets v ON q.s = v.s AND q.probe = v.bucket AND q.vec_id <> v.vec_id
),
scored AS (
  SELECT
    c.query_id,
    c.neighbor_id,
    {cos} AS cos_raw
  FROM cand c
  JOIN base q ON c.query_id = q.vec_id
  JOIN base v ON c.neighbor_id = v.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rk
FROM ranked WHERE rk <= {_TOPK}
""".strip()


def _ann_buckets_sql_spark() -> str:
    """ONE corpus scan: all {_ANN_SETS} FULL-width probe-set buckets
    as columns in a single projection, then stack() to (vec_id, s,
    bucket) rows. Full width means the stored index is
    ladder-independent — a corpus growing across rungs (or a raised
    _ANN_BITS_MAX) never invalidates stored rows; searches reduce to
    the rung's width with one `% m`. The UNION-ALL formulation (still
    used verbatim by the DuckDB oracle, where scan count is
    irrelevant) reads the table once per set — 4 scans where 1
    suffices against 100 TB."""
    cols = ", ".join(
        f"{_bucket_mix('spark', 'embedding', s)} AS b{s}" for s in range(1, _ANN_SETS + 1)
    )
    pairs = ", ".join(f"{s}, b{s}" for s in range(1, _ANN_SETS + 1))
    return (
        f"SELECT vec_id, stack({_ANN_SETS}, {pairs}) AS (s, bucket)\n"
        f"FROM (SELECT vec_id, {cols} FROM embeddings)"
    )


def _ann_bucket_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """(bucket index (vec_id, s, bucket), ladder modulus) — computed
    in ONE corpus scan and memoized per (session, data snapshot),
    exactly the IVF-quantizer persistence scheme (_train_ivf): bucket
    assignments are deterministic per vector, so a search should read
    the index, not re-project the corpus — the inline-CTE version was
    re-expanded at every reference (Spark inlines CTEs), costing two
    full projection passes per query. At cluster scale this is the
    index table a (rare) build job maintains alongside the corpus.

    The modulus is computed ONCE from the snapshot's count and cached
    WITH the index handle (the nd-divisor coupling rule): a consumer
    re-deriving it from the live embeddings view could silently probe
    the wrong bucket width after a test view-override or mid-session
    data change."""
    bind_table(spark, sf_dir, "embeddings")  # direct-call poisoning guard

    def build() -> tuple[DataFrame, int]:
        cnt = spark.sql("SELECT count(*) FROM embeddings").collect()[0][0]
        ex = spark.sql(_ann_buckets_sql_spark()).localCheckpoint(eager=True)
        return ex, _ann_modulus(cnt)

    return snapshot_memo(spark, "ann_buckets", snapshot_key(sf_dir, "embeddings"), build)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    idx, m = _ann_bucket_index(spark, sf_dir)
    idx.createOrReplaceTempView("_ann_buckets")
    return spark.sql(_ann_lsh_sql("spark", modulus=m))


# ---------------------------------------------------------------------------
# embedding_centroids — per-label mean vector (the IVF coarse step)
# ---------------------------------------------------------------------------


def _centroid_sql(dialect: str) -> str:
    """Per-label centroid; output (label, dim index, rounded mean) rows
    so the oracle compare is scalar. Elements are cast to
    DECIMAL(18,9) before SUM, making the aggregation exact and
    order-insensitive (float sums would drift between engines'
    reduction orders)."""
    if dialect == "spark":
        ex = "SELECT label, posexplode(embedding) AS (dim, x) FROM embeddings"
        xs = "CAST(CAST(x AS DOUBLE) AS DECIMAL(18,9))"
    else:
        ex = (
            "SELECT label, i - 1 AS dim, embedding[i] AS x"
            f" FROM embeddings, (SELECT unnest(generate_series(1, {_DIM})) AS i)"
        )
        xs = "CAST(CAST(x AS DOUBLE) AS DECIMAL(18,9))"
    return f"""
WITH ex AS ({ex})
SELECT label, CAST(dim AS INT) AS dim,
       round(CAST(sum({xs}) AS DOUBLE) / count(*), 6) AS mean_x,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM ex
GROUP BY label, dim
ORDER BY label, dim
""".strip()


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_centroid_sql("spark"))


# ---------------------------------------------------------------------------
# embed_near_dup — embedding-cosine near-duplicate PAIRS via LSH buckets
# ---------------------------------------------------------------------------

# Adaptive bucket width (round 13): a FIXED bucket count is quadratic
# at scale — per-bucket population grows with the corpus, so in-bucket
# pair enumeration grows with its square (measured: the old 4-bit /
# 16-bucket scheme took 203x the wall at 10x the data). The bucket
# expression therefore computes the full _NEARDUP_BITS_MAX-bit sign
# bucket and the search keeps only a count-derived PREFIX: b = the
# smallest bit count with n <= _NEARDUP_TARGET * 2^b, i.e. bucket
# count scales with the corpus and per-bucket population (hence
# per-bucket pair work) stays ~_NEARDUP_TARGET — total candidate work
# is O(n * TARGET), linear. The prefix divisor is an integer CASE
# ladder over count(*) (_nd_meta_cte): exact in both engines, no
# floating log. The DuckDB oracle runs the identical algorithm, so the
# driver compare stays exact at any width; planted-pair recall is
# measured (not pinned exact — a plant CAN straddle a hyperplane):
# 10/10 at sf0.01, 40/40 at sf0.1, 394/400 at 10x, 1189/1200 at 30x.
#
# Round 14: buckets now come from the _plane_mix Knuth-mix family
# (unlimited pairwise-distinct planes) instead of the legacy 11-plane
# _PLANE_ND linear family, so the ladder no longer saturates at 2^11
# buckets (~33k vectors at TARGET=16, SCALE.md's documented cliff —
# past it per-bucket population grew linearly again and pair work went
# quadratic). _NEARDUP_BITS_MAX=24 caps capacity at ~2^24*16 = 268M
# vectors; raising it further is a one-constant change because every
# consumer (the one-shot oracle, the Spark index builder, the ingest
# batch twin) derives both the bucket expression and the divisor
# ladder from the same constants below.
_NEARDUP_BITS_MAX = 24
_NEARDUP_BITS_MIN = 4
_NEARDUP_TARGET = 16  # target per-bucket population
_NEARDUP_COS = 0.90
_PLANT_OFFSET = 10_000_000  # planted near-dup ids = original + offset

# Near-dup planes are _plane_mix planes _ND_PLANE_BASE..BASE+MAX-1 — a
# range disjoint from the ANN probe sets (planes 1..16) so the two
# bucketings stay decorrelated.
_ND_PLANE_BASE = 101


def _nd_bucket_sql(dialect: str) -> str:
    """Full {_NEARDUP_BITS_MAX}-bit near-dup sign bucket of ``embedding``
    (mix-planes BASE..BASE+MAX-1; bit i weights plane BASE+i by 2^i,
    so the ndm prefix divisor keeps the HIGHEST-indexed planes)."""
    bits = []
    for i in range(_NEARDUP_BITS_MAX):
        p = _ND_PLANE_BASE + i
        bits.append(
            f"(CASE WHEN {_proj_mix(dialect, 'embedding', p)} > 0 THEN {2 ** i} ELSE 0 END)"
        )
    return " + ".join(bits)


def _nd_ladder() -> list[tuple[int, int]]:
    """(count-threshold, divisor) rungs of the adaptive prefix ladder —
    the ONE source both the SQL CASE (_nd_meta_cte) and the Python
    divisor (_nd_divisor, used to pin the cached index's divisor per
    the snapshot-cache coupling rule) are generated from."""
    return [
        (_NEARDUP_TARGET * 2**b, 2 ** (_NEARDUP_BITS_MAX - b))
        for b in range(_NEARDUP_BITS_MIN, _NEARDUP_BITS_MAX)
    ]


def _nd_divisor(cnt: int) -> int:
    """Python twin of the ndm CASE ladder."""
    for threshold, d in _nd_ladder():
        if cnt <= threshold:
            return d
    return 1


def _nd_meta_cte(dialect: str) -> str:
    """``ndm(d)``: the bucket-prefix divisor 2^(BITS_MAX - b) with b =
    the smallest bit count in [BITS_MIN, BITS_MAX] such that
    count(embeddings) <= TARGET * 2^b (integer compares only)."""
    branches = " ".join(
        f"WHEN cnt <= {threshold} THEN {d}" for threshold, d in _nd_ladder()
    )
    return (
        f"ndm AS (SELECT CASE {branches} ELSE 1 END AS d"
        " FROM (SELECT count(*) AS cnt FROM embeddings) ndc)"
    )


def _near_dup_ex_ctes(dialect: str, divisor: int | None = None) -> str:
    """WITH-chain producing ``ex`` — the planted+bucketed exploded
    element relation the near-dup search runs on (see _near_dup_sql
    for the algorithm contract).

    ``divisor``: when given (the Spark index builder passes the
    Python-computed ladder value so it can be CACHED alongside the
    index handle — see _nd_ex_index), the prefix divisor is inlined as
    a literal and the ndm CTE is dropped; the one-shot oracle leaves
    it None and derives the identical value in-SQL from count(*).

    All vector pairs in the same LSH bucket with cosine >= 0.90.

    The bucket equi-join keeps per-bucket population at
    ~_NEARDUP_TARGET at ANY corpus size — the bucket-bit count scales
    with count(*) via the ndm prefix divisor (see _nd_meta_cte), so
    pair generation is O(n * TARGET), linear, where a fixed bucket
    count was measured quadratic (203x wall at 10x data, r13). Pairs
    missed because the planes split them are inherent to LSH; the
    oracle runs the identical algorithm so the check is exact.

    Dot products here go through explode -> (bucket, dim) equi-join ->
    hash agg over SCALED-INT64 elements (floor(x * 1e8); |x| < 1 so
    pair products < 1e16 and 64-dim sums < 6.4e17 — no overflow):
    fully whole-stage-codegen with plain long arithmetic (the per-pair
    higher-order fold is interpreted, and decimal accumulation is
    ~128-bit — both measurably slower), and exact/order-insensitive so
    both engines agree bit-for-bit before the final double division.

    The synthetic embeddings are near-orthogonal, so at small SF no
    natural pair reaches cosine 0.90 and the check would pass
    vacuously (round-1 finding). ``aug`` therefore plants one
    engineered near-duplicate per query vector — a deterministic
    small per-dimension perturbation, identical in both dialects — so
    the pipeline provably finds the planted pairs (and only them)."""
    if dialect == "spark":
        aug = (
            "SELECT vec_id, label, transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding"
            " FROM embeddings"
            " UNION ALL"
            f" SELECT vec_id + {_PLANT_OFFSET}, label,"
            " zip_with(embedding, sequence(0, 63),"
            " (x, j) -> CAST(x AS DOUBLE) + ((j % 5) - 2) * 0.001)"
            f" FROM embeddings WHERE vec_id % {_QUERY_MOD} = 0"
        )
        ex = (
            "SELECT vec_id, label, bucket_full, posexplode(embedding) AS (dim, x)"
            " FROM (SELECT vec_id, label, embedding,"
            f" {_nd_bucket_sql('spark')} AS bucket_full FROM aug)"
        )
    else:
        aug = (
            f"SELECT vec_id, label, [CAST(embedding[i] AS DOUBLE) for i in range(1, {_DIM + 1})]"
            " AS embedding FROM embeddings"
            " UNION ALL"
            f" SELECT vec_id + {_PLANT_OFFSET}, label,"
            f" [CAST(embedding[i] AS DOUBLE) + (((i - 1) % 5) - 2) * 0.001 for i in range(1, {_DIM + 1})]"
            f" FROM embeddings WHERE vec_id % {_QUERY_MOD} = 0"
        )
        ex = (
            "SELECT vec_id, label, bucket_full, i - 1 AS dim, embedding[i] AS x"
            " FROM (SELECT vec_id, label, embedding,"
            f" {_nd_bucket_sql('duckdb')} AS bucket_full FROM aug),"
            f" (SELECT unnest(generate_series(1, {_DIM})) AS i)"
        )
    xd = "CAST(floor(CAST(x AS DOUBLE) * 100000000) AS BIGINT)"
    idiv = "DIV" if dialect == "spark" else "//"
    if divisor is None:
        meta = f"{_nd_meta_cte(dialect)},\n"
        d_expr = "(SELECT d FROM ndm)"
    else:
        meta = ""
        d_expr = str(int(divisor))
    return f"""WITH aug AS ({aug}),
{meta}ex0 AS ({ex}),
ex AS (SELECT vec_id, label, bucket_full {idiv} {d_expr} AS bucket,
              dim, {xd} AS xd FROM ex0)"""


def _near_dup_tail_sql(dialect: str, ex_rel: str) -> str:
    """norms/dots/pairs over an exploded (vec_id, label, bucket, dim,
    xd) relation — shared by the one-shot oracle SQL and the Spark
    executor (which feeds a MATERIALIZED relation, see embed_near_dup)."""
    return f"""norms AS (
  SELECT vec_id, {"any_value(label)" if dialect == "duckdb" else "first(label)"} AS label,
         sqrt(CAST(sum(xd * xd) AS DOUBLE)) AS norm
  FROM {ex_rel} GROUP BY vec_id
),
-- norms/dots are in the 1e8-scaled integer space; the scale cancels in
-- dot / (norm_a * norm_b), so cosine is unchanged up to quantization
dots AS (
  SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, CAST(sum(a.xd * b.xd) AS DOUBLE) AS dot
  FROM {ex_rel} a JOIN {ex_rel} b ON a.bucket = b.bucket AND a.dim = b.dim AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
pairs AS (
  SELECT
    d.vec_id_a, d.vec_id_b,
    CAST(CASE WHEN na.label = nb.label THEN 1 ELSE 0 END AS INT) AS same_label,
    round(d.dot / (na.norm * nb.norm), 6) AS cosine
  FROM dots d
  JOIN norms na ON d.vec_id_a = na.vec_id
  JOIN norms nb ON d.vec_id_b = nb.vec_id
)
SELECT vec_id_a, vec_id_b, same_label, cosine
FROM pairs WHERE cosine >= {_NEARDUP_COS}
ORDER BY vec_id_a, vec_id_b"""


def _near_dup_sql(dialect: str) -> str:
    """One-shot form (what the DuckDB oracle runs; DuckDB materializes
    CTEs referenced more than once, so the triple ``ex`` reference
    costs nothing there)."""
    return f"""{_near_dup_ex_ctes(dialect)},
{_near_dup_tail_sql(dialect, "ex")}"""


def embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark executor: the exploded+bucketed element relation ``ex`` is
    referenced THREE times downstream (norms + both sides of the dots
    self-join), and Spark inlines CTEs — the one-shot form recomputed
    the {_NEARDUP_BITS_MAX} plane projections per vector three times.
    Materialize ``ex`` once (simhash/minhash barrier pattern); it is
    |aug| x {_DIM} scaled longs — linear in corpus size, spillable."""
    ex, _ = _nd_ex_index(spark, sf_dir)
    ex.createOrReplaceTempView("_nd_ex")
    return spark.sql(f"WITH {_near_dup_tail_sql('spark', '_nd_ex')}")


def _nd_ex_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """(element relation, prefix divisor) — the ONE builder of the
    ``nd_ex`` session artifact (shared by embed_near_dup and the batch
    near-dup screen in plans/embed_ingest.py; a second independent
    builder would let a format change in one silently poison the
    other through the shared cache).

    The divisor is computed ONCE from the snapshot's count and cached
    WITH the index handle: a consumer that re-derived it from the live
    ``embeddings`` view (as embed_near_dup_batch did before round 14)
    would silently bucket its batch against the wrong width whenever a
    test view-override or mid-session data change diverged the view
    from the snapshot the persisted index was built on."""
    register_views(spark, sf_dir)

    def build() -> tuple[DataFrame, int]:
        cnt = spark.sql("SELECT count(*) FROM embeddings").collect()[0][0]
        d = _nd_divisor(cnt)
        ex = spark.sql(
            f"{_near_dup_ex_ctes('spark', divisor=d)}\nSELECT * FROM ex"
        ).localCheckpoint(eager=True)
        return ex, d

    return snapshot_memo(spark, "nd_ex", snapshot_key(sf_dir, "embeddings"), build)


# ---------------------------------------------------------------------------
# ivf_topk — IVF search with a LEARNED k-means coarse quantizer
# ---------------------------------------------------------------------------


def _ivf_sql(dialect: str) -> str:
    """IVF top-k: learn ncent k-means centroids ({_IVF_ITERS} unrolled
    Lloyd rounds from deterministic seeds), assign every vector to its
    nearest centroid (the inverted lists), then each query probes its
    nprobe nearest centroids and exact-cosine re-ranks only those
    lists. (ncent, nprobe) come from the corpus-derived capacity
    ladder (_ivf_meta_cte) — {_IVF_NCENT}/{_IVF_NPROBE} at the base
    rung, doubling per quadrupling/second-rung respectively.

    The coarse quantizer is LEARNED, not the label column: measured on
    the synthetic embeddings only 8% of true top-5 neighbors share the
    query's label, so per-label lists cap recall at ~0.44 no matter
    the nprobe; k-means cells follow the actual neighborhood structure
    and reach recall@5 = 0.96 (sf0.01) / 0.94 (sf0.1) at nprobe=12
    (tests/test_ann_recall.py pins 0.80; 8 probes measured 0.94/0.86).

    Seeding is window-free (vec_ids are dense): seed c = the vector
    with vec_id = c * (n div ncent) — no global ROW_NUMBER at
    corpus scale. Lloyd iterations are unrolled CTEs: assignment =
    argmax over CAST(sum(xd*md) AS DOUBLE)/||c|| with ties to the
    lower cid; recomputed means are rounded to 6 decimals and kept as
    DECIMAL(12,6). All sums are decimal-exact and order-insensitive,
    so both engines walk the identical centroid trajectory and the
    strict value-hash compare holds.

    Scale shape: each Lloyd pass is explode → dim equi-join → hash
    agg (whole-stage codegen, no all-pairs); at 100 TB you train the
    quantizer on a sample and broadcast the centroid table (KB-sized)
    — the ladder grows ncent as sqrt(n), so the per-query scan share
    nprobe/ncent shrinks with scale while per-list population grows
    only as sqrt(n)."""
    fin = _IVF_ITERS
    rounds = ",\n".join(
        f"""{_ivf_ranked_sql(dialect, 'ex', f'cent{k}', str(k))},
asg{k} AS (SELECT vec_id, cid FROM ranked{k} WHERE rc = 1),
cent{k + 1} AS ({_ivf_cent_next_sql('ex', f'asg{k}')})"""
        for k in range(_IVF_ITERS)
    )
    return f"""
WITH {_ivf_meta_cte(dialect)},
ex AS ({_ivf_ex_sql(dialect)}),
cent0 AS ({_ivf_cent0_sql(dialect, "(SELECT step FROM meta)", ncent="(SELECT ncent FROM meta)")}),
{rounds},
{_ivf_ranked_sql(dialect, 'ex', f'cent{fin}', str(fin))},
asg{fin} AS (SELECT vec_id, cid FROM ranked{fin} WHERE rc = 1),
qpick AS (
  SELECT vec_id, cid FROM ranked{fin}
  WHERE {_query_pred()} AND rc <= (SELECT nprobe FROM meta)
),
{_ivf_rerank_sql(dialect, 'qpick', f'asg{fin}')}
""".strip()


# stage fragments shared by the one-shot oracle SQL (_ivf_sql) and the
# stepwise Spark executor (ivf_topk) — identical value arithmetic is
# what keeps the strict hash compare exact


def _ivf_ex_sql(dialect: str) -> str:
    # scaled-int64 elements (floor(x * 1e8)): exact and order-insensitive
    # like decimal, but the hot multiply-sum stays in codegen'd long
    # arithmetic instead of BigDecimal (measured ~3x on the Lloyd
    # passes). Bounds: |x| < 4 so xd < 4e8; xd*md < 1.6e15, 64-dim dots
    # < 1.1e17; per-(cid,dim) mean sums overflow only past ~2e10-row
    # clusters - nowhere near any real shard.
    xd = "CAST(floor(CAST(x AS DOUBLE) * 100000000) AS BIGINT)"
    if dialect == "spark":
        ex0 = "SELECT vec_id, posexplode(embedding) AS (dim, x) FROM embeddings"
    else:
        ex0 = (
            "SELECT vec_id, i - 1 AS dim, embedding[i] AS x"
            f" FROM embeddings, (SELECT unnest(generate_series(1, {_DIM})) AS i)"
        )
    return f"SELECT vec_id, dim, {xd} AS xd FROM ({ex0}) ex0"


def _ivf_cent0_sql(
    dialect: str, step: str, ex: str = "ex", ncent: str | None = None
) -> str:
    idiv = "DIV" if dialect == "spark" else "//"
    nc = str(_IVF_NCENT) if ncent is None else ncent
    return f"""SELECT CAST(e.vec_id {idiv} {step} AS INT) AS cid, e.dim,
         CAST(round(CAST(e.xd AS DOUBLE) / 100, 0) AS BIGINT) AS md
  FROM {ex} e
  WHERE e.vec_id % {step} = 0 AND e.vec_id {idiv} {step} < {nc}"""


def _ivf_ranked_sql(dialect: str, ex: str, cent: str, tag: str) -> str:
    """Assignment scoring: ranked{tag}(vec_id, cid, rc) — rc=1 is the
    owning centroid, rc<=nprobe the probe set."""
    return f"""cnorm{tag} AS (
  SELECT cid, sqrt(CAST(sum(md * md) AS DOUBLE)) AS cn FROM {cent} GROUP BY cid
),
dots{tag} AS (
  SELECT e.vec_id, c.cid, CAST(sum(e.xd * c.md) AS DOUBLE) AS dot
  FROM {ex} e JOIN {cent} c ON e.dim = c.dim
  GROUP BY e.vec_id, c.cid
),
ranked{tag} AS (
  SELECT d.vec_id, d.cid,
         ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY d.dot / n.cn DESC, d.cid ASC) AS rc
  FROM dots{tag} d JOIN cnorm{tag} n ON d.cid = n.cid
)"""


def _ivf_cent_next_sql(ex: str, asg: str) -> str:
    # md is 1e6-scaled (xd/100): centroid means round to the same 1e-6
    # grain the decimal formulation used; the scale cancels in dot/cn
    return f"""SELECT a.cid, e.dim,
         CAST(round(CAST(sum(e.xd) AS DOUBLE) / count(*) / 100, 0) AS BIGINT) AS md
  FROM {ex} e JOIN {asg} a ON e.vec_id = a.vec_id
  GROUP BY a.cid, e.dim"""


def _ivf_rerank_sql(dialect: str, qpick: str, asg: str) -> str:
    dot = _dot(dialect, "q.embedding", "v.embedding")
    cos = f"({dot}) / (q.norm * v.norm)"
    return f"""base AS (
  SELECT vec_id, embedding, {_norm(dialect, 'embedding')} AS norm FROM embeddings
),
cand AS (
  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id, a.cid AS probe_cid
  FROM {qpick} p JOIN {asg} a ON p.cid = a.cid AND p.vec_id <> a.vec_id
),
scored AS (
  SELECT c.query_id, c.probe_cid, c.neighbor_id, {cos} AS cos_raw
  FROM cand c
  JOIN base q ON c.query_id = q.vec_id
  JOIN base v ON c.neighbor_id = v.vec_id
),
final_rank AS (
  SELECT query_id, CAST(probe_cid AS INT) AS probe_cid, neighbor_id,
         round(cos_raw, 6) AS cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rk
  FROM scored
)
SELECT query_id, probe_cid, neighbor_id, cosine, rk
FROM final_rank WHERE rk <= {_TOPK}{tail_order(dialect, "query_id, rk")}"""


def _train_ivf(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int, int]:
    """Train the IVF coarse quantizer and score every vector against
    the final centroids — memoized per (session, data snapshot).
    Returns (ranked, centroids, ncent, nprobe).

    The quantizer is deterministic, so retraining it inside every
    search is pure waste: at scale you train ONCE, persist the
    centroid table (KB-sized) and the vector→centroid assignment, and
    every search just probes — exactly what a persisted IVF index is.
    Here "persist" is a session-lifetime localCheckpoint keyed by
    (sf_dir, embeddings file mtime+size) — the same snapshot-pinning
    scheme as sources/tables.load_table, so a driver-side testdata
    regeneration invalidates the trained index instead of silently
    serving assignments for vanished vectors. On a cluster this
    becomes a warehouse table written by the (rare) training job.

    Centroids are returned as a FRAME handle, not a view name: the
    `_ivf_cent` temp view is rebound whenever another snapshot trains
    in this session, so any consumer that resolves the view later
    (instead of holding the frame) would silently encode against the
    wrong quantizer. (ncent, nprobe) are the capacity-ladder values of
    the SNAPSHOT'S OWN count, cached WITH the handles for the same
    reason (the nd-divisor coupling rule): a consumer re-deriving them
    from the live view could probe a 160-centroid quantizer with a
    20-centroid budget after a view override.

    Stepwise execution rationale: Spark INLINES every CTE reference,
    so the one-shot unrolled Lloyd chain re-expands its whole upstream
    tree per reference — measured 8.2s vs 0.8s at sf0.1, and the
    growth is exponential in the round count. Each stage therefore
    materializes through localCheckpoint (ex: n×64 rows, asg: n rows,
    cent: ncent×64 — all tiny relative to the corpus) and later stages
    read the pinned result, exactly the simhash/minhash barrier
    pattern (k-means in MLlib does the same per iteration)."""
    bind_table(spark, sf_dir, "embeddings")  # direct-call poisoning guard
    key = snapshot_key(sf_dir, "embeddings")
    return snapshot_memo(spark, "ivf_ranked", key, lambda: _build_ivf(spark))


def _build_ivf(spark: SparkSession) -> tuple[DataFrame, DataFrame, int, int]:
    """_train_ivf's cache-miss body, over the bound ``embeddings`` view."""
    cnt = spark.sql("SELECT count(*) FROM embeddings").collect()[0][0]
    ncent, nprobe = _ivf_params(cnt)
    # max(1, ...): mirrors the oracle's greatest(1, ...) clamp — a
    # sub-ncent corpus must degrade to 1-spaced seeds, not % 0
    step = max(1, cnt // ncent)

    def view(df: DataFrame, name: str) -> DataFrame:
        out = df.localCheckpoint(eager=True)
        out.createOrReplaceTempView(name)
        return out

    view(spark.sql(_ivf_ex_sql("spark")), "_ivf_ex")
    cent = view(
        spark.sql(_ivf_cent0_sql("spark", str(step), "_ivf_ex", ncent=str(ncent))),
        "_ivf_cent",
    )
    for _ in range(_IVF_ITERS):
        # one materialization per Lloyd round: assignment and centroid
        # recompute in a single statement (the asg relation is only
        # ever consumed by the recompute)
        cent = view(
            spark.sql(
                f"WITH {_ivf_ranked_sql('spark', '_ivf_ex', '_ivf_cent', 'i')},\n"
                "asgi AS (SELECT vec_id, cid FROM rankedi WHERE rc = 1)\n"
                + _ivf_cent_next_sql("_ivf_ex", "asgi")
            ),
            "_ivf_cent",
        )
    ranked = spark.sql(
        f"WITH {_ivf_ranked_sql('spark', '_ivf_ex', '_ivf_cent', 'f')} "
        "SELECT vec_id, cid, rc FROM rankedf"
    ).localCheckpoint(eager=True)
    return ranked, cent, ncent, nprobe


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search against the persisted quantizer (_train_ivf): the
    per-query work is ONLY qpick (nprobe centroid ids per query) +
    the inverted-list candidate join + exact re-rank — no training.
    nprobe is the cached snapshot value, never re-derived."""
    register_views(spark, sf_dir)
    ranked, _, _, nprobe = _train_ivf(spark, sf_dir)
    ranked.createOrReplaceTempView("_ivf_ranked")
    return spark.sql(
        f"""
WITH asgf AS (SELECT vec_id, cid FROM _ivf_ranked WHERE rc = 1),
qpick AS (
  SELECT vec_id, cid FROM _ivf_ranked
  WHERE {_query_pred()} AND rc <= {nprobe}
),
{_ivf_rerank_sql('spark', 'qpick', 'asgf')}
""".strip()
    )


QUERIES: dict[str, tuple] = {
    "cosine_topk": (cosine_topk, _cosine_topk_sql("duckdb")),
    "ann_lsh_topk": (ann_lsh_topk, _ann_lsh_sql("duckdb")),
    "embedding_centroids": (embedding_centroids, _centroid_sql("duckdb")),
    "ivf_topk": (ivf_topk, _ivf_sql("duckdb")),
    "embed_near_dup": (embed_near_dup, _near_dup_sql("duckdb")),
}
