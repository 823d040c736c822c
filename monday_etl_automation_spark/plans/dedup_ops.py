"""Deduplication operators over ``documents`` (SURVEY.md §2.12).

Four dedup families, each the idiomatic Spark shape for 100 TB:

- exact      — md5 of normalized text, keep min doc_id per hash group.
               One shuffle on a 128-bit key; no text comparison.
- minhash    — per-doc signatures computed row-local from word-trigram
               shingles (array ops in codegen, NO explode, NO shuffle),
               then LSH banding: candidates join only on band keys.
               This is the scale path: work is O(docs) + O(colliding
               pairs), never O(docs^2).
- ngram      — exact Jaccard over word trigrams via a shared-shingle
               equi-join; the ground-truth verifier for minhash
               candidates. Thresholding uses integer cross-multiplied
               comparison (4*|A∩B| >= |A∪B| ⇔ J >= 0.25) — exact, no
               float drift.
- simhash    — 60-bit sign-sum fingerprint per doc (row-local), near
               pairs via pigeonhole banding: hamming <= 3 over 4 bands
               of 15 bits ⇒ at least one band equal, so the join is on
               band equality, again never O(docs^2). 60/15 (not a
               shorter hash) keeps random band collisions rare:
               P[two unrelated docs share a 15-bit band] ~ 4/32768,
               so the candidate set stays linear-ish in corpus size.

All hashes derive from md5 hex prefixes so Spark and DuckDB agree
exactly (Spark conv(hex,16,10) == DuckDB CAST('0x'||hex AS BIGINT)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# _*_TOKS split a document into tokens; _*_H60 is the 60-bit shingle hash
# used where discrimination matters (simhash bit votes, jaccard join keys)
from monday_etl_automation_spark.plans.text_ops import (
    _DUCK_H60,
    _DUCK_TOKS,
    _SPARK_H60,
    _SPARK_TOKS,
)
from monday_etl_automation_spark.sources.tables import register_views

# --- shared hash/shingle SQL fragments --------------------------------------

_P31 = 2147483647  # 2^31-1, modulus for minhash affine hashes
# a_i odd multipliers < 2^31; b_i offsets. a*h with h < 2^28 stays < 2^63.
_MINHASH_AB = [
    (1299721, 9576890767),
    (1299743, 3628273133),
    (1299763, 5915587277),
    (1299791, 1500450271),
    (1299811, 3267000013),
    (1299817, 5754853343),
    (1299821, 4093082899),
    (1299827, 2860486313),
]
_N_BANDS = 4  # bands of 2 signatures each

# 28-bit shingle base hash (md5 hex prefix of 7 chars) — small enough
# that the minhash affine step a*h + b stays well inside int64
_SPARK_H28 = "CAST(conv(substr(md5(s), 1, 7), 16, 10) AS BIGINT)"
_DUCK_H28 = "CAST('0x' || substr(md5(s), 1, 7) AS BIGINT)"


def _shingles(dialect: str) -> str:
    if dialect == "spark":
        return (
            "CASE WHEN size(toks) >= 3 THEN array_distinct(transform(sequence(0, size(toks) - 3),"
            " i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))) ELSE array(coalesce(text, '')) END"
        )
    return (
        "CASE WHEN len(toks) >= 3 THEN list_distinct([toks[i] || ' ' || toks[i + 1] || ' ' ||"
        " toks[i + 2] for i in range(1, len(toks) - 1)]) ELSE [coalesce(text, '')] END"
    )


def _shingle_cte(dialect: str) -> str:
    toks = _SPARK_TOKS if dialect == "spark" else _DUCK_TOKS
    return f"""
t AS (SELECT doc_id, lang, text, {toks} AS toks FROM documents),
sh AS (SELECT doc_id, lang, {_shingles(dialect)} AS shingles FROM t)
""".strip()


# ---------------------------------------------------------------------------
# dedup_exact — hash-groupBy on normalized text
# ---------------------------------------------------------------------------


def _dedup_exact_sql(dialect: str) -> str:
    ws = "'\\\\s+'" if dialect == "spark" else "'\\s+'"
    return f"""
WITH n AS (
  SELECT doc_id, md5(regexp_replace(trim(lower(text)), {ws}, ' ')) AS text_hash
  FROM documents
),
k AS (
  SELECT text_hash, min(doc_id) AS keep_doc_id, count(*) AS n_copies
  FROM n GROUP BY text_hash
)
SELECT keep_doc_id, text_hash, CAST(n_copies AS BIGINT) AS n_copies
FROM k
""".strip()


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_dedup_exact_sql("spark"))


# ---------------------------------------------------------------------------
# minhash signatures — row-local signature computation (no shuffle)
# ---------------------------------------------------------------------------


def _sig_exprs(dialect: str) -> list[str]:
    h = _SPARK_H28 if dialect == "spark" else _DUCK_H28
    tf = "transform" if dialect == "spark" else "list_transform"
    amin = "array_min" if dialect == "spark" else "list_min"
    out = []
    for i, (a, b) in enumerate(_MINHASH_AB):
        out.append(f"{amin}({tf}(bases, h -> ({a} * h + {b}) % {_P31})) AS sig{i}")
    return out


def _minhash_sql(dialect: str) -> str:
    h = _SPARK_H28 if dialect == "spark" else _DUCK_H28
    tf = "transform" if dialect == "spark" else "list_transform"
    sigs = ",\n    ".join(_sig_exprs(dialect))
    return f"""
WITH {_shingle_cte(dialect)},
hs AS (SELECT doc_id, {tf}(shingles, s -> {h}) AS bases FROM sh)
SELECT doc_id,
    {sigs}
FROM hs
ORDER BY doc_id
""".strip()


# ---------------------------------------------------------------------------
# minhash_lsh_candidates — band-bucket join (the scale path)
# ---------------------------------------------------------------------------


def _lsh_sql(dialect: str) -> str:
    base = _minhash_sql(dialect).replace("\nORDER BY doc_id", "")
    str_t = "STRING" if dialect == "spark" else "VARCHAR"
    band_keys = ", ".join(
        f"CAST(sig{2 * j} AS {str_t}) || ':' || CAST(sig{2 * j + 1} AS {str_t}) AS band{j}"
        for j in range(_N_BANDS)
    )
    unpivot = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band_idx, band{j} AS band_key FROM bands" for j in range(_N_BANDS)
    )
    return f"""
WITH sigs AS ({base}),
bands AS (SELECT doc_id, {band_keys} FROM sigs),
kv AS ({unpivot})
SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
FROM kv a JOIN kv b ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
""".strip()


def _minhash_sigs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash signature relation, materialized once per (session,
    documents snapshot) — a dedup pipeline's signature table is
    computed by the (rare) fingerprint job and SHARED by every
    consumer (LSH candidate generation, the fingerprints entry),
    not rebuilt per query. localCheckpoint (not cache) on purpose:
    it is distributed and spillable like cache, but leaves no
    CacheManager entry — cached plans with expression trees this
    large make *every subsequent query* in the session pay a
    plan-comparison tax during analysis."""
    from monday_etl_automation_spark.sources.tables import snapshot_key, snapshot_memo

    def build() -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(_minhash_sql("spark")).localCheckpoint(eager=True)

    return snapshot_memo(spark, "minhash_sigs", snapshot_key(sf_dir, "documents"), build)


def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    # The persisted signature index doubles as the materialization
    # barrier before the self-join: both join sides and every band
    # read the same 9-ints-per-doc relation, so an unmaterialized
    # signature computation (md5 per shingle) would run once per
    # reference.
    _minhash_sigs_index(spark, sf_dir).createOrReplaceTempView("_mh_sigs")
    band_keys = ", ".join(
        f"CAST(sig{2 * j} AS STRING) || ':' || CAST(sig{2 * j + 1} AS STRING)"
        for j in range(_N_BANDS)
    )
    # single-scan unpivot: posexplode over the band-key array, instead
    # of a UNION ALL per band (which would scan the relation N_BANDS times)
    return spark.sql(
        f"""
WITH kv AS (
  SELECT doc_id, band_idx, band_key
  FROM _mh_sigs
  LATERAL VIEW posexplode(array({band_keys})) AS band_idx, band_key
)
SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
FROM kv a JOIN kv b ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
""".strip()
    )


# ---------------------------------------------------------------------------
# ngram_jaccard_pairs — exact trigram Jaccard via shared-shingle join
# ---------------------------------------------------------------------------


def _jaccard_sql(dialect: str) -> str:
    # Join on a 60-bit hash of each shingle, not the shingle string:
    # the shared-shingle equi-join shuffles every (doc, shingle) pair,
    # and 8-byte keys move ~5x less data than 3-word strings. Both
    # engines compute the identical md5-derived hash, so results match
    # exactly even in the (2^-60) collision case.
    # n_sh is computed BEFORE the explode: an expression referencing
    # the array in the projection above a generator is re-evaluated
    # once per exploded row, which would redo the whole shingle+md5
    # chain ~|shingles| times per doc.
    if dialect == "spark":
        hv = f"transform(shingles, s -> {_SPARK_H60})"
        ex = "SELECT doc_id, lang, explode(hv) AS h, n_sh FROM hs"
    else:
        hv = f"list_transform(shingles, s -> {_DUCK_H60})"
        ex = "SELECT doc_id, lang, unnest(hv) AS h, n_sh FROM hs"
    size_fn = "size" if dialect == "spark" else "len"
    return f"""
WITH {_shingle_cte(dialect)},
hs AS (SELECT doc_id, lang, {hv} AS hv, {size_fn}({hv}) AS n_sh FROM sh),
ex AS ({ex}),
shared AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         CAST(count(*) AS BIGINT) AS n_shared,
         CAST(min(a.n_sh) AS BIGINT) AS n_a, CAST(min(b.n_sh) AS BIGINT) AS n_b
  FROM ex a JOIN ex b ON a.h = b.h AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_id_a, doc_id_b, n_shared, (n_a + n_b - n_shared) AS n_union
FROM shared
WHERE 20 * n_shared >= n_a + n_b - n_shared  -- Jaccard >= 0.05
ORDER BY doc_id_a, doc_id_b
""".strip()


def _shingle_hash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc hashed-shingle arrays (doc_id, lang, hv, n_sh),
    materialized once per (session, documents snapshot) — the barrier
    both Jaccard join sides read (Catalyst's inferred join-key
    not-null filters would otherwise inline and re-run the whole
    tokenize->shingle->md5 chain several times per row). ~|shingles|
    longs per doc: linear in corpus size, spillable."""
    from monday_etl_automation_spark.sources.tables import snapshot_key, snapshot_memo

    def build() -> DataFrame:
        register_views(spark, sf_dir)
        hv = f"transform(shingles, s -> {_SPARK_H60})"
        return spark.sql(
            f"""
WITH {_shingle_cte("spark")}
SELECT doc_id, lang, {hv} AS hv, size({hv}) AS n_sh FROM sh
""".strip()
        ).localCheckpoint(eager=True)

    return snapshot_memo(spark, "shingle_hashes", snapshot_key(sf_dir, "documents"), build)


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    _shingle_hash_index(spark, sf_dir).createOrReplaceTempView("_ng_hs")
    return spark.sql(
        """
WITH ex AS (SELECT doc_id, lang, explode(hv) AS h, n_sh FROM _ng_hs),
shared AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         CAST(count(*) AS BIGINT) AS n_shared,
         CAST(min(a.n_sh) AS BIGINT) AS n_a, CAST(min(b.n_sh) AS BIGINT) AS n_b
  FROM ex a JOIN ex b ON a.h = b.h AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_id_a, doc_id_b, n_shared, (n_a + n_b - n_shared) AS n_union
FROM shared
WHERE 20 * n_shared >= n_a + n_b - n_shared  -- Jaccard >= 0.05
""".strip()
    )


# ---------------------------------------------------------------------------
# simhash — 28-bit sign-sum fingerprint + banded near-pairs
# ---------------------------------------------------------------------------

_N_BITS = 60
_BAND_BITS = 15  # 4 bands of 15 bits; hamming<=3 => some band equal


def _simhash_sql(dialect: str) -> str:
    """Per-token 60-bit hashes; bit i weight +1/-1 by bit test; simhash
    bit i set iff the sum is positive.

    Spark shape: explode tokens -> md5 once per token -> 60 codegen'd
    conditional SUMs in one partial+final hash aggregate. This beats
    the row-local higher-order-function fold ~2.5x because lambda
    evaluation is interpreted while the explode+agg pipeline stays in
    whole-stage codegen; the shuffle it adds carries only the
    pre-aggregated 60 counters per (doc, partition) — the same
    explode-the-tokens shape any 100 TB text pipeline already has.
    DuckDB keeps the row-local list-fold formulation (independent
    implementation, same math)."""
    if dialect == "spark":
        h = _SPARK_H60.replace("md5(s)", "md5(x)")
        bit_sums = ", ".join(
            f"sum(CASE WHEN shiftright(h, {i}) % 2 = 1 THEN 1 ELSE -1 END) AS b{i}"
            for i in range(_N_BITS)
        )
        sim = " + ".join(
            f"CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
            for i in range(_N_BITS)
        )
        return f"""
WITH t AS (SELECT doc_id, lang, explode({_SPARK_TOKS}) AS x FROM documents),
h AS (SELECT doc_id, lang, {h} AS h FROM t),
acc AS (SELECT doc_id, lang, {bit_sums} FROM h GROUP BY doc_id, lang)
SELECT doc_id, lang, CAST({sim} AS BIGINT) AS simhash FROM acc
ORDER BY doc_id
""".strip()
    h = _DUCK_H60.replace("md5(s)", "md5(x)")
    hashes = f"list_transform(toks, x -> {h})"
    bit_sum = (
        "list_sum(list_transform(hashes, h ->"
        " CASE WHEN (h // p2) % 2 = 1 THEN 1 ELSE -1 END))"
    )
    sim = (
        f"list_sum([CASE WHEN {bit_sum.replace('p2', 'CAST(pow(2, i) AS BIGINT)')} > 0"
        f" THEN CAST(pow(2, i) AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        f" for i in range(0, {_N_BITS})])"
    )
    return f"""
WITH t AS (SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents),
hs AS (SELECT doc_id, lang, {hashes} AS hashes FROM t)
SELECT doc_id, lang, CAST({sim} AS BIGINT) AS simhash FROM hs
ORDER BY doc_id
""".strip()


# pigeonhole-complete for the 4-band split: every pair with hamming
# <= 3 must agree on at least one band, so the banded join finds ALL
# of them (no recall loss vs the O(n^2) scan)
_HAMMING_MAX = 3


def _simhash_pairs_sql(dialect: str) -> str:
    base = _simhash_sql(dialect).replace("\nORDER BY doc_id", "")
    n_bands = _N_BITS // _BAND_BITS
    if dialect == "spark":
        band = lambda j: f"CAST(floor(simhash / {2 ** (j * _BAND_BITS)}) AS BIGINT) % {2**_BAND_BITS}"  # noqa: E731
        hamming = "bit_count(sim_a ^ sim_b)"
    else:
        band = lambda j: f"(simhash // {2 ** (j * _BAND_BITS)}) % {2**_BAND_BITS}"  # noqa: E731
        hamming = "bit_count(xor(sim_a, sim_b))"
    band_exprs = ", ".join(f"{band(j)} AS band{j}" for j in range(n_bands))
    unpivot = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {j} AS band_idx, band{j} AS band_key FROM bands"
        for j in range(n_bands)
    )
    return f"""
WITH sims AS ({base}),
bands AS (SELECT doc_id, simhash, {band_exprs} FROM sims),
kv AS ({unpivot}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, a.simhash AS sim_a, b.doc_id AS doc_id_b, b.simhash AS sim_b
  FROM kv a JOIN kv b ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_id_a, doc_id_b, CAST({hamming} AS INT) AS hamming
FROM cand
WHERE CAST({hamming} AS INT) <= {_HAMMING_MAX}
ORDER BY doc_id_a, doc_id_b
""".strip()


def _simhash_sigs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simhash signature relation (doc_id, lang, simhash), materialized
    once per (session, documents snapshot) and shared by the near-pair
    index and the fingerprints entry — same persistence scheme as
    _minhash_sigs_index."""
    from monday_etl_automation_spark.sources.tables import snapshot_key, snapshot_memo

    def build() -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(_simhash_sql("spark")).localCheckpoint(eager=True)

    return snapshot_memo(spark, "simhash_sigs", snapshot_key(sf_dir, "documents"), build)


def _near_pairs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The simhash near-pair relation (doc_id_a, doc_id_b, hamming),
    MATERIALIZED once per (session, documents snapshot) and shared by
    its consumers (the simhash_near_pairs entry and both halves of
    near_dup_components) — each used to recompute signatures + the
    band self-join from scratch. A dedup pipeline at scale persists
    its signature/pair index next to the corpus for exactly this
    reason; here "persist" is the snapshot-keyed localCheckpoint
    scheme shared with the ANN bucket index and IVF quantizer
    (sources/tables.snapshot_key)."""
    from monday_etl_automation_spark.sources.tables import snapshot_key, snapshot_memo

    key = snapshot_key(sf_dir, "documents")
    return snapshot_memo(spark, "simhash_pairs", key, lambda: _build_near_pairs(spark, sf_dir))


def _build_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_near_pairs_index's cache-miss body: the banded simhash self-join."""
    register_views(spark, sf_dir)
    _simhash_sigs_index(spark, sf_dir).createOrReplaceTempView("_sh_sims")
    n_bands = _N_BITS // _BAND_BITS
    band_keys = ", ".join(
        f"shiftright(simhash, {j * _BAND_BITS}) % {2**_BAND_BITS}" for j in range(n_bands)
    )
    return spark.sql(
        f"""
WITH kv AS (
  SELECT doc_id, simhash, band_idx, band_key
  FROM _sh_sims
  LATERAL VIEW posexplode(array({band_keys})) AS band_idx, band_key
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, a.simhash AS sim_a, b.doc_id AS doc_id_b, b.simhash AS sim_b
  FROM kv a JOIN kv b ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_id_a, doc_id_b, CAST(bit_count(sim_a ^ sim_b) AS INT) AS hamming
FROM cand
WHERE CAST(bit_count(sim_a ^ sim_b) AS INT) <= {_HAMMING_MAX}
""".strip()
    ).localCheckpoint(eager=True)


def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return _near_pairs_index(spark, sf_dir)


# ---------------------------------------------------------------------------
# one-step canonical assignment — each doc -> min doc_id among {itself}
# ∪ its simhash near-pair neighbors (what a pipeline consumes: keep/drop,
# not a pair list); rides near_dup_components as its assign_* columns
# ---------------------------------------------------------------------------


def _assign_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-step assignment, with no ORDER BY — its consumer, the
    near_dup_components entry, joins it on doc_id (a pre-join sort
    would only add a useless range exchange). Dropping every doc with
    canonical_id < doc_id removes one member of every near-dup pair;
    iterating the step to a fixed point is near_dup_components."""
    register_views(spark, sf_dir)
    # reuse the persisted near-pair index (order-free consumer)
    pairs = _near_pairs_index(spark, sf_dir)
    pairs.createOrReplaceTempView("_nd_pairs")
    return spark.sql(
        """
WITH edges AS (
  SELECT doc_id_a AS doc_id, doc_id_b AS nbr FROM _nd_pairs
  UNION ALL
  SELECT doc_id_b AS doc_id, doc_id_a AS nbr FROM _nd_pairs
),
assign AS (
  SELECT d.doc_id,
         LEAST(d.doc_id, COALESCE(min(e.nbr), d.doc_id)) AS canonical_id
  FROM documents d LEFT JOIN edges e ON d.doc_id = e.doc_id
  GROUP BY d.doc_id
)
SELECT doc_id, canonical_id,
       CAST(CASE WHEN canonical_id = doc_id THEN 1 ELSE 0 END AS INT) AS is_kept
FROM assign
""".strip()
    )


# ---------------------------------------------------------------------------
# dedup_fingerprints — minhash signatures + simhash in ONE relation
# (merged in round 2 for the 50-entry driver window; both fingerprint
# families stay independently computed and joined on doc_id)
# ---------------------------------------------------------------------------


def _fingerprints_sql(dialect: str) -> str:
    mh = _minhash_sql(dialect).replace("\nORDER BY doc_id", "")
    sh = _simhash_sql(dialect).replace("\nORDER BY doc_id", "")
    sig_cols = ", ".join(f"mh.sig{i}" for i in range(len(_MINHASH_AB)))
    return f"""
WITH mh AS ({mh}),
sh AS ({sh})
SELECT mh.doc_id, sh.lang, {sig_cols}, sh.simhash
FROM mh JOIN sh ON mh.doc_id = sh.doc_id
ORDER BY mh.doc_id
""".strip()


def dedup_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark executor: join the two PERSISTED signature indexes
    (minhash + simhash) instead of recomputing both from text — the
    oracle keeps the one-shot SQL (identical values)."""
    register_views(spark, sf_dir)
    sig_cols = ", ".join(f"mh.sig{i}" for i in range(len(_MINHASH_AB)))
    _minhash_sigs_index(spark, sf_dir).createOrReplaceTempView("_fp_mh")
    _simhash_sigs_index(spark, sf_dir).createOrReplaceTempView("_fp_sh")
    return spark.sql(
        f"""
SELECT mh.doc_id, sh.lang, {sig_cols}, sh.simhash
FROM _fp_mh mh JOIN _fp_sh sh ON mh.doc_id = sh.doc_id
ORDER BY mh.doc_id
""".strip()
    )


# ---------------------------------------------------------------------------
# near_dup_components — fixed-point connected components over the
# simhash near-pair graph (the full multi-hop version of the one-step
# assignment: A~B, B~C => {A,B,C} all collapse to min(doc_id))
# ---------------------------------------------------------------------------

_CC_MAX_ITERS = 20  # materialization rounds; reach grows 2^_CC_STEPS_PER_ROUND per round
# Two hop+jump steps fused per materialized job. Each step references
# its input TWICE (neighbor-min join + pointer-jump self-join), so an
# unmaterialized chain of k steps re-evaluates its upstream ~4^k times
# — measured at sf0.1: k=2 ≈ 4s total, k=4 ≈ 20s. Two is the sweet
# spot between job count and DAG re-expansion.
_CC_STEPS_PER_ROUND = 2


# Threshold sized on PYTHON-state memory, not Arrow input bytes: the
# single task holds a parent dict + vertex set of up to 2x the edge
# count in boxed Python ints (~100 B/entry) — 200k both-direction rows
# is ~40 MB of interpreter state, comfortably inside one worker; 2M
# would be closer to half a GB and flirt with task OOM exactly where
# the "cheap" path was chosen.
_CC_LOCAL_MAX_EDGES = 200_000


def _local_components(edges: DataFrame) -> DataFrame:
    """Exact union-find over a sub-threshold edge list in ONE task
    (``mapInPandas`` on a single partition — executor-side, nothing
    ever collects to the driver).

    Union-by-min keeps every tree's root at the component's minimum
    vertex id, so ``find`` directly yields the canonical label. Path
    compression makes the whole pass near-linear — milliseconds of CPU
    versus ~1s of per-round job scheduling alone for the distributed
    loop on the same input."""
    import pandas as pd  # noqa: PLC0415 (executor-side import parity)

    def run(batches):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        verts: set[int] = set()
        for pdf in batches:
            for a, b in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
                a, b = int(a), int(b)
                verts.add(a)
                verts.add(b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        ordered = sorted(verts)
        yield pd.DataFrame({"doc_id": ordered, "label": [find(v) for v in ordered]})

    return (
        edges.repartition(1)
        .mapInPandas(run, "doc_id BIGINT, label BIGINT")
        .localCheckpoint(eager=True)
    )


def _converge_components(edges: DataFrame, local_max_edges: int = _CC_LOCAL_MAX_EDGES):
    """Connected components over a both-directions edge list
    ``(src, dst)`` (pre-checkpointed) — two-level, like every
    production CC implementation:

    - **sub-threshold graphs** run exact single-task union-find
      (_local_components). The dup graph is a small fraction of the
      corpus by construction, and below the threshold the distributed
      loop's cost is 100% per-round job scheduling (measured at
      sf0.1: a 1024-edge graph took 6 rounds x ~1s of overhead);
      one task finishes it in milliseconds.
    - **above the threshold** the pointer-doubling loop below takes
      over — O(log diameter) materialized rounds, never more than
      one machine's memory per partition. At 100 TB the dup graph
      can be TB-scale and this is the only shape that works.

    The count() gating the switch is metadata-cheap (edges is
    checkpointed). Min-label propagation with pointer doubling:

    Returns ``(labels, n_rounds)`` where ``labels`` maps every edge
    vertex to its component's min vertex id and ``n_rounds`` counts
    materialization rounds. Each round fuses _CC_STEPS_PER_ROUND
    hop+jump steps into ONE checkpointed job: on the small per-round
    frames the cost is per-job scheduling, not data, so materializing
    every 4 steps instead of every 2 cuts the job count per
    convergence by ~2x at the price of a deeper (still tiny) DAG per
    job — the r7 plan audit measured the loop as pure scheduling
    overhead. Reach at least doubles per STEP, so rounds =
    O(log(diameter) / steps_per_round) — pinned by
    tests/test_dedup_injection.py's 130-doc chain.

    The previous label rides along as ``_old`` (seeded once per round,
    preserved by every step's left joins) so change detection needs no
    extra join against the prior frame."""
    from pyspark.sql import functions as F

    if edges.count() <= local_max_edges:
        return _local_components(edges), 1

    labels = (
        edges.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )

    def step(lbl: DataFrame) -> DataFrame:
        carry = [c for c in lbl.columns if c not in ("doc_id", "label")]
        nbr_min = (
            edges.join(lbl.select("doc_id", "label"), edges.dst == lbl.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        hopped = lbl.join(nbr_min, lbl.doc_id == nbr_min.src, "left").select(
            "doc_id",
            *carry,
            F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias("label"),
        )
        # pointer jump: label values are vertex ids, so the hopped map
        # resolves its own labels' labels (min-labels only decrease, so
        # label(label(v)) <= label(v) and the jump is always safe)
        parent = hopped.select(F.col("doc_id").alias("_p"), F.col("label").alias("_plabel"))
        return hopped.join(parent, hopped.label == parent._p, "left").select(
            "doc_id",
            *carry,
            F.least(F.col("label"), F.coalesce("_plabel", F.col("label"))).alias("label"),
        )

    rounds = 0
    for _ in range(_CC_MAX_ITERS):
        rounds += 1
        cur = labels.withColumn("_old", F.col("label"))
        for _s in range(_CC_STEPS_PER_ROUND):
            cur = step(cur)
        new_labels = (
            cur.select("doc_id", "label", (F.col("label") < F.col("_old")).alias("_chg"))
            .localCheckpoint(eager=True)
        )
        changed = new_labels.where(F.col("_chg")).limit(1).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    return labels, rounds


def near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation with pointer doubling to a fixed point.

    Two scale decisions shape this:

    1. **Iterate only over the edge graph's vertices.** A doc with no
       near-dup pair can never change labels, so the loop runs on
       ``vertices(pairs)`` — at any corpus scale the near-dup graph is
       a small fraction of the corpus (here 697 of 5000 docs at
       sf0.1), and at 100 TB that's the difference between an
       iteration over the whole corpus and one over the dup cluster
       population. Isolated docs join back in at the end via a
       broadcast of the (small) label map — the corpus is scanned
       exactly once.
    2. **Pointer doubling.** Each round does the Pregel hop
       (label(v) <- min over neighbors' labels) AND a pointer jump
       (label(v) <- label(label(v)) — labels are themselves vertex
       ids, so the label map is its own lookup table). Reach doubles
       per round: rounds = O(log diameter), not O(diameter) — the
       large-star/small-star bound without the re-bucketing passes.

    The loop stops when a round changes nothing (per-row change flag,
    one limit(1) count on the checkpointed frame). The fixed point is
    unique and iteration-order independent — which is what the DuckDB
    recursive-CTE oracle computes directly.
    """
    from pyspark.sql import functions as F

    register_views(spark, sf_dir)
    pairs = _near_pairs_index(spark, sf_dir).select("doc_id_a", "doc_id_b")
    # coalesce before pinning: the dup-edge list is a small fraction of
    # the corpus, but it inherits the pair-join's full partition count —
    # every loop iteration then schedules that many map tasks per join.
    # 8 partitions keeps the loop's task count flat; at a scale where
    # the dup graph itself is huge, raise it with the edge count.
    edges = (
        pairs.selectExpr("doc_id_a AS src", "doc_id_b AS dst")
        .unionByName(pairs.selectExpr("doc_id_b AS src", "doc_id_a AS dst"))
        .coalesce(8)
        .localCheckpoint(eager=True)
    )
    labels, _rounds = _converge_components(edges)
    # single corpus scan: broadcast the (dup-population-sized) label
    # map onto the full doc list; isolated docs are their own
    # canonical. If the dup population ever outgrew broadcast size,
    # drop the hint and this becomes a plain shuffle join on doc_id —
    # still one corpus scan.
    comp = (
        spark.table("documents")
        .select("doc_id")
        .join(F.broadcast(labels.withColumnRenamed("label", "_cc")), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_cc", "doc_id").alias("canonical_id"),
            F.when(F.coalesce("_cc", F.col("doc_id")) == F.col("doc_id"), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_kept"),
        )
    )
    # the one-step assignment rides as two extra columns so the
    # driver's 50-entry window verifies BOTH operators under one
    # registry slot. Same key, same row count — a doc_id equi-join.
    assign = _assign_frame(spark, sf_dir).selectExpr(
        "doc_id",
        "canonical_id AS assign_canonical_id",
        "is_kept AS assign_is_kept",
    )
    return comp.join(assign, "doc_id")


def _components_sql(dialect: str) -> str:
    """Recursive-CTE fixed point PLUS the one-step assignment
    (_assign_frame) over the same edge list — five columns matching
    the Spark entry."""
    pairs = _simhash_pairs_sql(dialect).replace("\nORDER BY doc_id_a, doc_id_b", "")
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (
  SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
  UNION ALL
  SELECT doc_id_b AS src, doc_id_a AS dst FROM pairs
),
reach AS (
  SELECT doc_id, doc_id AS r FROM documents
  UNION
  SELECT e.src AS doc_id, reach.r
  FROM edges e JOIN reach ON reach.doc_id = e.dst
),
comp AS (
  SELECT doc_id, min(r) AS canonical_id,
         CAST(CASE WHEN min(r) = doc_id THEN 1 ELSE 0 END AS INT) AS is_kept
  FROM reach
  GROUP BY doc_id
),
asg AS (
  SELECT d.doc_id,
         LEAST(d.doc_id, COALESCE(min(e.dst), d.doc_id)) AS assign_canonical_id
  FROM documents d LEFT JOIN edges e ON d.doc_id = e.src
  GROUP BY d.doc_id
)
SELECT c.doc_id, c.canonical_id, c.is_kept,
       a.assign_canonical_id,
       CAST(CASE WHEN a.assign_canonical_id = a.doc_id THEN 1 ELSE 0 END AS INT) AS assign_is_kept
FROM comp c JOIN asg a ON c.doc_id = a.doc_id
ORDER BY c.doc_id
""".strip()


QUERIES: dict[str, tuple] = {
    "dedup_exact": (dedup_exact, _dedup_exact_sql("duckdb")),
    # the one-step assignment rides near_dup_components as its
    # assign_* columns (one slot in the driver's 50-entry window)
    "near_dup_components": (near_dup_components, _components_sql("duckdb")),
    "dedup_fingerprints": (dedup_fingerprints, _fingerprints_sql("duckdb")),
    "minhash_lsh_candidates": (minhash_lsh_candidates, _lsh_sql("duckdb")),
    "ngram_jaccard_pairs": (ngram_jaccard_pairs, _jaccard_sql("duckdb")),
    "simhash_near_pairs": (simhash_near_pairs, _simhash_pairs_sql("duckdb")),
}


# ---------------------------------------------------------------------------
# incremental dedup — disposition a NEW batch against the persisted
# corpus indexes (the reason a 100 TB pipeline persists fingerprints:
# ingest dedups against the index, never by rescanning the corpus)
# ---------------------------------------------------------------------------


def _exact_hash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(text_hash, corpus_keeper) for the whole corpus, materialized
    once per (session, documents snapshot) — the exact-dedup index an
    ingest pipeline maintains alongside the corpus."""
    from monday_etl_automation_spark.sources.tables import snapshot_key, snapshot_memo

    def build() -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(
            """
SELECT text_hash, min(doc_id) AS corpus_keeper
FROM (SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\\\s+', ' ')) AS text_hash
      FROM documents)
GROUP BY text_hash
""".strip()
        ).localCheckpoint(eager=True)

    return snapshot_memo(spark, "exact_hashes", snapshot_key(sf_dir, "documents"), build)


def dedup_exact_incremental(spark: SparkSession, sf_dir: str, new_docs: DataFrame) -> DataFrame:
    """Disposition an incoming batch against the EXISTING corpus using
    only the persisted hash index — per-batch work is O(|batch|) plus
    one equi-join against the index; the corpus is never rescanned.

    Dispositions per batch doc:
    - ``dup_of_corpus`` — hash already in the corpus; keeper is the
      EXISTING canonical (stability: incremental ingest never reassigns
      a canonical the corpus already serves — identical to a full
      rebuild whenever batch ids are larger than corpus ids, which
      monotone id assignment guarantees).
    - ``dup_in_batch``  — hash is new to the corpus but duplicated
      within the batch; keeper is the batch's min doc_id.
    - ``new``           — first sight of the hash anywhere.
    """
    new_docs.createOrReplaceTempView("_inc_batch")
    _exact_hash_index(spark, sf_dir).createOrReplaceTempView("_inc_corpus_hash")
    return spark.sql(
        """
WITH batch AS (
  SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\\\s+', ' ')) AS text_hash
  FROM _inc_batch
),
batch_min AS (SELECT text_hash, min(doc_id) AS batch_keeper FROM batch GROUP BY text_hash)
SELECT b.doc_id,
       b.text_hash,
       CASE WHEN c.corpus_keeper IS NOT NULL THEN 'dup_of_corpus'
            WHEN b.doc_id <> m.batch_keeper THEN 'dup_in_batch'
            ELSE 'new' END AS disposition,
       CAST(coalesce(c.corpus_keeper, m.batch_keeper) AS BIGINT) AS keeper_doc_id
FROM batch b
JOIN batch_min m ON b.text_hash = m.text_hash
LEFT JOIN _inc_corpus_hash c ON b.text_hash = c.text_hash
ORDER BY b.doc_id
""".strip()
    )


def near_dup_incremental(spark: SparkSession, sf_dir: str, new_docs: DataFrame) -> DataFrame:
    """Near-dup screen for an incoming batch against the persisted
    simhash signature index: batch signatures are computed row-local,
    candidates come from the same 4x15-bit pigeonhole band join the
    corpus pairs use (hamming <= 3 complete), and each batch doc
    reports its nearest corpus match. Per-batch cost is O(|batch|)
    signatures + a band equi-join against the index — no corpus scan,
    no batch x corpus cross product."""
    new_docs.createOrReplaceTempView("_inc_batch")
    _simhash_sigs_index(spark, sf_dir).createOrReplaceTempView("_inc_corpus_sims")
    sim_sql = _simhash_sql("spark").replace("FROM documents", "FROM _inc_batch")
    n_bands = _N_BITS // _BAND_BITS
    band_keys = ", ".join(
        f"shiftright(simhash, {j * _BAND_BITS}) % {2**_BAND_BITS}" for j in range(n_bands)
    )
    return spark.sql(
        f"""
WITH bsims AS ({sim_sql.replace(chr(10) + 'ORDER BY doc_id', '')}),
bkv AS (
  SELECT doc_id, simhash, band_idx, band_key
  FROM bsims LATERAL VIEW posexplode(array({band_keys})) AS band_idx, band_key
),
ckv AS (
  SELECT doc_id, simhash, band_idx, band_key
  FROM _inc_corpus_sims LATERAL VIEW posexplode(array({band_keys})) AS band_idx, band_key
),
cand AS (
  SELECT DISTINCT b.doc_id AS batch_doc_id, c.doc_id AS corpus_doc_id,
         CAST(bit_count(b.simhash ^ c.simhash) AS INT) AS hamming
  FROM bkv b JOIN ckv c ON b.band_idx = c.band_idx AND b.band_key = c.band_key
),
near AS (SELECT * FROM cand WHERE hamming <= {_HAMMING_MAX}),
best AS (
  SELECT batch_doc_id, corpus_doc_id, hamming,
         ROW_NUMBER() OVER (PARTITION BY batch_doc_id ORDER BY hamming, corpus_doc_id) AS rn
  FROM near
)
SELECT s.doc_id,
       CAST(CASE WHEN b.corpus_doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS has_near_dup,
       b.corpus_doc_id AS nearest_corpus_doc_id,
       b.hamming
FROM bsims s
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON s.doc_id = b.batch_doc_id
ORDER BY s.doc_id
""".strip()
    )
