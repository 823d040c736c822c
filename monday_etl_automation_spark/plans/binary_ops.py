"""Binary/document pipeline query (SURVEY.md §2.9, B1-B7).

ONE registered query runs the full binary surface — compress (B1),
scan (B2/B3/B7), and compress+sign (B4/B5) — across ALL FIVE quality
presets (reference fixed_signature_utils.py:47-61): each document is
assigned the preset ``presets[doc_id % 5]``, so every preset is
exercised while the total work stays one full pass per stage. Output
is one wide relation keyed by (stage, preset, doc_id); per-stage
columns that don't apply are NULL.

Each stage runs the REAL distributed pipeline (mapInPandas over Arrow
batches, per-page explode/reassemble, seeded effects) on binary
content derived from ``documents``; the DuckDB oracle re-derives the
exact page counts and byte sizes from ``length(text)`` alone — the
fake codecs' size model (multimodal/codecs.py) is an exact function
of (n_chars, dpi, quality), so a full value match here proves the
distributed dataflow (fan-out, ordering, reassembly, composition)
without needing binary-capable SQL. Content hashes are additionally
checked for determinism in tests/test_multimodal.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monday_etl_automation_spark.multimodal import codecs, pipeline
from monday_etl_automation_spark.sources.tables import load_table, snapshot_plan

_PRESETS = ("minimum", "balanced", "high", "premium", "ultra")
_SIGN_PRESET = "balanced"

_N_PAGES_SQL = "CAST(GREATEST(1, CAST(ceil(length(text) / 200.0) AS INT)) AS BIGINT)"


def _jpg_block(preset: str) -> int:
    dpi, q = codecs.quality_preset(preset)
    return 13 + 20 + (codecs.raster_size(dpi) * q) // 200


def _scan_block(preset: str) -> int:
    dpi, _ = codecs.quality_preset(preset)
    return 13 + (20 + codecs.raster_size(dpi) + 8)  # scan preserves size; A4 adds 8


def _docs_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    # backend pinned to the stub: this plan's DuckDB oracle recomputes
    # the stub's EXACT size model, which no real JPEG encoder promises.
    # The real-codec route (codecs.resolve("auto")) is the user-facing
    # pipeline default, exercised by tests/test_real_codecs.py where
    # the libraries exist.
    return pipeline.documents_to_binary(load_table(spark, sf_dir, "documents"), backend="stub")


def _docs_bin_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_docs_bin with the raw text rows spread across the cluster when
    the parquet layout is unsplittable (guide §2.5) — used ONLY by the
    scan chain, whose per-doc raster+effects work is heavy enough to
    amortize the extra tasks (chain solo at sf0.1: 1.53s -> 1.14s).
    The cheap compress/sign chains stay on the plain scan: spreading
    them was measured to ADD task/worker fixed costs, not remove work."""
    from monday_etl_automation_spark.sources.tables import spread_n

    docs = load_table(spark, sf_dir, "documents")
    n = spread_n(spark, sf_dir, "documents")
    if n is not None:
        docs = docs.repartition(n)
    return pipeline.documents_to_binary(docs, backend="stub")


_WIDE_COLS = ("stage", "preset", "doc_id", "n_pages", "in_bytes", "out_bytes", "file_name")


def _widen(df: DataFrame, stage: str, preset: F.Column) -> DataFrame:
    out = df.withColumn("stage", F.lit(stage)).withColumn("preset", preset)
    for c, t in (("in_bytes", "bigint"), ("file_name", "string")):
        if c not in df.columns:
            out = out.withColumn(c, F.lit(None).cast(t))
    return out.select(*_WIDE_COLS)


def _preset_of_doc() -> F.Column:
    """presets[doc_id % 5] — a pure function of doc_id, so stages can
    recompute it on their outputs with zero extra scans or joins."""
    return F.element_at(F.array(*[F.lit(p) for p in _PRESETS]), (F.col("doc_id") % 5 + 1).cast("int"))


@snapshot_plan
def binary_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 + B7 across all presets + B5 signed — THREE single-pass
    stages. The preset is a per-row COLUMN (``presets[doc_id % 5]``)
    resolved inside the Arrow batches, so mixed presets cost one scan
    per stage instead of one branch (and one full input scan) per
    preset — the difference between 3 and 11 scans of a 100 TB corpus."""
    docs_bin = _docs_bin(spark, sf_dir).withColumn("preset", _preset_of_doc())
    docs_bin_spread = _docs_bin_spread(spark, sf_dir).withColumn("preset", _preset_of_doc())

    # r18: with_sha=False — this query drops out_sha, so the workers
    # skip the sha256 entirely (guide §1.2); kept columns unchanged.
    compress = _widen(
        pipeline.compress_pdf(docs_bin, backend="stub", with_sha=False).drop("out_sha"),
        "compress",
        _preset_of_doc(),
    )
    scan = _widen(
        pipeline.scanned_pdf(docs_bin_spread, backend="stub", with_sha=False).drop("out_sha"),
        "scan",
        _preset_of_doc(),
    )
    sign = _widen(
        pipeline.sign_pipeline(
            docs_bin.drop("preset"), signer="engine", preset=_SIGN_PRESET, backend="stub", with_sha=False
        ).drop("out_sha"),
        "sign",
        F.lit(_SIGN_PRESET),
    )
    return compress.unionByName(scan).unionByName(sign)


def _preset_case(fn) -> str:
    branches = " ".join(f"WHEN doc_id % 5 = {i} THEN {fn(p)}" for i, p in enumerate(_PRESETS))
    return f"CASE {branches} END"


_PRESET_NAME_CASE = _preset_case(lambda p: f"'{p}'")

BINARY_ORACLE = f"""
WITH base AS (
  SELECT doc_id, {_N_PAGES_SQL} AS n_pages, length(text) AS n_bytes,
         {_PRESET_NAME_CASE} AS preset
  FROM documents
)
SELECT 'compress' AS stage, preset, doc_id, n_pages,
       CAST(10 + n_pages * 13 + n_bytes AS BIGINT) AS in_bytes,
       CAST(10 + n_pages * {_preset_case(_jpg_block)} AS BIGINT) AS out_bytes,
       CAST(NULL AS VARCHAR) AS file_name
FROM base
UNION ALL
SELECT 'scan', preset, doc_id, n_pages,
       CAST(NULL AS BIGINT),
       CAST(10 + n_pages * {_preset_case(_scan_block)} AS BIGINT),
       CAST(NULL AS VARCHAR)
FROM base
UNION ALL
SELECT 'sign', '{_SIGN_PRESET}', doc_id, n_pages,
       CAST(NULL AS BIGINT),
       CAST(10 + n_pages * {_jpg_block(_SIGN_PRESET)} + 68 AS BIGINT),
       'doc_' || CAST(doc_id AS VARCHAR) || ' SIGNÉ.pdf'
FROM base
ORDER BY stage, preset, doc_id
""".strip()


QUERIES: dict[str, tuple] = {
    "binary_pipeline": (binary_pipeline, BINARY_ORACLE),
}
