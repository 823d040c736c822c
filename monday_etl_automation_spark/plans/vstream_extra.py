"""Driver-hash exposure of STREAMING vector-index ingestion
(streaming/vector_ingest.py — the last query-shaped pytest-only family
after r16's release exposure; rides ``vector_extra`` as the ``vstream``
shape).

What the hash pins: a deterministic 3-batch ingest (with heavy
redelivery — batch 2 redelivers all of batch 1, batch 3 redelivers
everything) runs through the REAL ``VectorIngestSink`` foreachBatch
consumer against the snapshot's frozen quantizers, and the SHIPPED
index tables (vectors, per-set LSH buckets, IVF inverted-list
assignment) are read back from parquet and aggregated per table:
row counts, key sums, and a 60-bit md5 multiset checksum. The DuckDB
oracle recomputes every aggregate from the ONE-SHOT derivation — the
synthesized batch union encoded inline against a quantizer trained
from scratch on the base corpus — so the hash pins the sink's central
property end to end: exactly-once ingestion against frozen quantizers
equals one-shot encoding, down to the bytes on disk.

r17 (r16 verdict item 3): the PQ and IVF-PQ CODE TABLES ride the hash
too (parts ``pqc`` / ``ipqc``). The r16 blocker was oracle-side
codebook re-training; it fell to CTE HOISTING — the pq/ivfpq trainers
are factored into prefixed chains (pq_ops.pq_train_ctes,
ivfpq_ops.ivfpq_train_ctes under {_PQ_PREFIX!r}/{_IV_PREFIX!r}) that
the vector_extra oracle lifts to its top level, shared by the pq and
ivfpq SEARCH branches and this body's encode branches (DuckDB
materializes multi-referenced CTEs). The share also RETIRES the
duplicate coarse-quantizer training this body used to run for its ivf
part — the oracle now trains each quantizer exactly once.

The ingested vectors are a deterministic slice of the embeddings
table, id-offset so they never collide with the base corpus:
``vec_id % {_VS_MOD} = {_VS_RES}`` offset by {_VS_OFF} — mirrored
literally by the oracle, the cosine_topk fixed-query-set pattern.

Scale: the sink is O(|batch|) per batch with KB-sized broadcast
quantizers and dynamic-partition-overwrite exactly-once (see
streaming/vector_ingest.py); the exposure reads the shipped tables —
the read path a search service actually pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monday_etl_automation_spark.plans.embed_ops import (
    _ANN_SETS,
    _IVF_ITERS,
    _bucket_mix,
    _ivf_ex_sql,
    _ivf_ranked_sql,
)
from monday_etl_automation_spark.plans.ivfpq_ops import (
    _E6_EXPR,
    _rex_sql,
    ivfpq_train_ctes,
)
from monday_etl_automation_spark.plans.pq_ops import (
    _PQ_ITERS,
    _pq_codes_sql,
    _pq_ex_sql,
    pq_train_ctes,
)
from monday_etl_automation_spark.sources.tables import (
    owned_tempdir,
    register_views,
    snapshot_key,
    snapshot_memo,
)

_VS_MOD = 7
_VS_RES = 3
_VS_OFF = 200000
_CK_MOD = 1_000_000_000_000

# shared-trainer prefixes: the vector_extra oracle hoists ONE copy of
# each trainer chain under these names; the standalone pytest twin
# embeds the identical chains itself (include_trainers=True), so the
# body text is the same in both modes and can never drift
_PQ_PREFIX = "vxpq_"
_IV_PREFIX = "vxiv_"

_SYNTH = (
    f"SELECT vec_id + {_VS_OFF} AS vec_id, embedding, label"
    f" FROM embeddings WHERE vec_id % {_VS_MOD} = {_VS_RES}"
)


def _ck(dialect: str, key: str) -> str:
    """60-bit md5 multiset checksum term (mod 1e12, summed per table)."""
    if dialect == "spark":
        return (
            f"pmod(CAST(conv(substr(md5({key}), 1, 15), 16, 10) AS BIGINT),"
            f" {_CK_MOD})"
        )
    return f"CAST('0x' || substr(md5({key}), 1, 15) AS BIGINT) % {_CK_MOD}"


def _key(dialect: str, parts: list[str]) -> str:
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    casted = [f"CAST({p} AS {cast})" for p in parts]
    if dialect == "spark":
        return "concat(" + ", ':', ".join(casted) + ")"
    return " || ':' || ".join(casted)


# --- Spark side ---------------------------------------------------------------


def _ingest_artifact(spark: SparkSession, sf_dir: str):
    """(base_path, sink) — the 3-batch ingest, run ONCE per (session,
    embeddings snapshot); superseded snapshots' directories rmtree on
    eviction. The REAL sink runs: its anti-join skip, deterministic
    dirty-batch pick, and dynamic-partition-overwrite writes are all
    on the path the hash then verifies."""
    from monday_etl_automation_spark.streaming.vector_ingest import VectorIngestSink

    register_views(spark, sf_dir)

    def build() -> tuple:
        base = owned_tempdir("vstream_ingest_")
        sink = VectorIngestSink(spark, sf_dir, base)
        synth = spark.sql(_SYNTH).localCheckpoint(eager=True)
        sink.process_batch(synth.where("vec_id % 3 = 0"), 1)
        # batch 2 REDELIVERS all of batch 1 alongside its fresh rows; batch
        # 3 redelivers everything — the anti-join must skip every repeat
        sink.process_batch(synth.where("vec_id % 3 <= 1"), 2)
        sink.process_batch(synth, 3)
        return base, sink

    key = (snapshot_key(sf_dir, "embeddings"),)
    return snapshot_memo(spark, "vstream_ingest", key, build)


def vstream_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table aggregates of the SHIPPED ingest state (read back from
    the sink's parquet): (part, n, key_sum, checksum)."""
    _, sink = _ingest_artifact(spark, sf_dir)
    return _vstream_agg(
        sink.vectors(),
        sink.buckets(),
        sink.ivf_assignment(),
        sink.codes(),
        sink.ivfpq_codes(),
    )


def _vstream_agg(
    vectors: DataFrame,
    buckets: DataFrame,
    ivf_assignment: DataFrame,
    codes: DataFrame,
    ivfpq_codes: DataFrame,
) -> DataFrame:
    """The aggregation the hash rides, factored so the tamper tests can
    re-run the IDENTICAL expressions over a corrupted copy of a shipped
    table (tests/test_artifact_tamper.py)."""
    vec = vectors.select(
        F.lit("vec").alias("part"),
        F.lit(1).alias("one"),
        F.col("vec_id").cast("bigint").alias("ksum"),
        F.expr(
            _ck("spark", _key("spark", ["'vv'", "vec_id", "label"]))
        ).alias("ck"),
    )
    buck = buckets.select(
        F.concat(F.lit("b"), F.col("s").cast("string")).alias("part"),
        F.lit(1).alias("one"),
        F.col("bucket").cast("bigint").alias("ksum"),
        F.expr(
            _ck("spark", _key("spark", ["'vb'", "vec_id", "s", "bucket"]))
        ).alias("ck"),
    )
    ivf = ivf_assignment.select(
        F.lit("ivf").alias("part"),
        F.lit(1).alias("one"),
        F.col("cid").cast("bigint").alias("ksum"),
        F.expr(
            _ck("spark", _key("spark", ["'vi'", "vec_id", "cid"]))
        ).alias("ck"),
    )
    pqc = codes.select(
        F.lit("pqc").alias("part"),
        F.lit(1).alias("one"),
        F.col("code").cast("bigint").alias("ksum"),
        F.expr(
            _ck("spark", _key("spark", ["'vp'", "vec_id", "sub", "code"]))
        ).alias("ck"),
    )
    ipqc = ivfpq_codes.select(
        F.lit("ipqc").alias("part"),
        F.lit(1).alias("one"),
        F.col("code").cast("bigint").alias("ksum"),
        F.expr(
            _ck("spark", _key("spark", ["'vq'", "vec_id", "cid", "sub", "code"]))
        ).alias("ck"),
    )
    return (
        vec.unionByName(buck)
        .unionByName(ivf)
        .unionByName(pqc)
        .unionByName(ipqc)
        .groupBy("part")
        .agg(
            F.sum("one").cast("bigint").alias("n"),
            F.sum("ksum").cast("bigint").alias("key_sum"),
            F.sum("ck").cast("bigint").alias("checksum"),
        )
    )


# --- DuckDB oracle ------------------------------------------------------------


def vstream_oracle_body(include_trainers: bool = True) -> str:
    """The one-shot twin: synthesize the SAME batch union, bucket it
    row-locally (full-width mix planes), assign it against the coarse
    quantizer, PQ-encode it, and residual-encode it — all against
    quantizers trained from scratch on the base corpus (the exact
    derivation the sink's frozen quantizers came from).

    ``include_trainers``: the standalone pytest twin (True) embeds the
    prefixed pq/ivfpq trainer chains itself; the vector_extra oracle
    (False) HOISTS the identical chains to its top level, shared with
    the pq/ivfpq search branches (one training each instead of three —
    the r17 share that put the code tables under the hash)."""
    d = "duckdb"
    fin = _IVF_ITERS
    bucket_union = "\nUNION ALL\n".join(
        f"  SELECT vec_id, {s} AS s,"
        f" ({_bucket_mix(d, 'embedding', s)}) AS bucket FROM synth"
        for s in range(1, _ANN_SETS + 1)
    )
    bex = _ivf_ex_sql(d).replace("FROM embeddings", "FROM synth")
    bpqex = _pq_ex_sql(d).replace("FROM embeddings", "FROM synth")
    trainers = (
        f"{pq_train_ctes(d, _PQ_PREFIX)},\n{ivfpq_train_ctes(d, _IV_PREFIX)},\n"
        if include_trainers
        else ""
    )
    vv = _ck(d, _key(d, ["'vv'", "vec_id", "label"]))
    vb = _ck(d, _key(d, ["'vb'", "vec_id", "s", "bucket"]))
    vi = _ck(d, _key(d, ["'vi'", "vec_id", "cid"]))
    vp = _ck(d, _key(d, ["'vp'", "vec_id", "sub", "code"]))
    vq = _ck(d, _key(d, ["'vq'", "c.vec_id", "c.cid", "c.sub", "c.code"]))
    return f"""
WITH {trainers}synth AS ({_SYNTH}),
bex AS ({bex}),
{_ivf_ranked_sql(d, 'bex', f'{_IV_PREFIX}cent{fin}', 'b')},
basg AS (SELECT vec_id, cid FROM rankedb WHERE rc = 1),
vbuck AS (
{bucket_union}
),
bpqex AS ({bpqex}),
{_pq_codes_sql(d, 'bpqex', f'{_PQ_PREFIX}cent{_PQ_ITERS}', 'vb')},
be6 AS (SELECT vec_id, dim, {_E6_EXPR} AS xd6 FROM bex),
brex AS ({_rex_sql(d, 'be6', 'basg', f'{_IV_PREFIX}cent{fin}')}),
{_pq_codes_sql(d, 'brex', f'{_IV_PREFIX}rcb', 'vr')},
bvparts AS (
  SELECT a.vec_id, a.cid, k.sub, k.code FROM basg a JOIN codesvr k ON a.vec_id = k.vec_id
)
SELECT 'vec' AS part, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(vec_id) AS BIGINT) AS key_sum,
       CAST(sum({vv}) AS BIGINT) AS checksum
FROM synth
UNION ALL
SELECT 'b' || CAST(s AS VARCHAR), CAST(count(*) AS BIGINT),
       CAST(sum(bucket) AS BIGINT), CAST(sum({vb}) AS BIGINT)
FROM vbuck GROUP BY s
UNION ALL
SELECT 'ivf', CAST(count(*) AS BIGINT),
       CAST(sum(cid) AS BIGINT), CAST(sum({vi}) AS BIGINT)
FROM basg
UNION ALL
SELECT 'pqc', CAST(count(*) AS BIGINT),
       CAST(sum(code) AS BIGINT), CAST(sum({vp}) AS BIGINT)
FROM codesvb
UNION ALL
SELECT 'ipqc', CAST(count(*) AS BIGINT),
       CAST(sum(c.code) AS BIGINT), CAST(sum({vq}) AS BIGINT)
FROM bvparts c
""".strip()
