"""Binary/document pipeline query (SURVEY.md §2.9, B1-B7).

ONE registered query runs the full binary surface — compress (B1),
scan (B2/B3/B7), and compress+sign (B4/B5) — across ALL FIVE quality
presets (reference fixed_signature_utils.py:47-61): each document is
assigned the preset ``presets[doc_id % 5]``, so every preset is
exercised. Output is one wide relation keyed by (stage, preset,
doc_id); per-stage columns that don't apply are NULL.

The plan is one parquet scan and ONE ``mapInPandas``
(multimodal/pipeline.py:binary_stages): each document is encoded once
and its per-page loops for all three stages run inside one Arrow pass.
The DuckDB oracle re-derives the exact page counts and byte sizes from
``length(text)`` alone — the fake codecs' size model
(multimodal/codecs.py) is an exact function of (n_chars, dpi, quality),
so a full value match here proves the per-document compositions
without needing binary-capable SQL. Content bytes are checked for
determinism and page order in tests/test_multimodal.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monday_etl_automation_spark.functions.scalar import make_signed_filename
from monday_etl_automation_spark.multimodal import codecs, pipeline
from monday_etl_automation_spark.sources.tables import load_table, snapshot_plan, spread_n

_PRESETS = ("minimum", "balanced", "high", "premium", "ultra")
_SIGN_PRESET = pipeline.SIGN_PRESET

_N_PAGES_SQL = "CAST(GREATEST(1, CAST(ceil(length(text) / 200.0) AS INT)) AS BIGINT)"


def _jpg_block(preset: str) -> int:
    dpi, q = codecs.quality_preset(preset)
    return 13 + 20 + (codecs.raster_size(dpi) * q) // 200


def _scan_block(preset: str) -> int:
    dpi, _ = codecs.quality_preset(preset)
    return 13 + (20 + codecs.raster_size(dpi) + 8)  # scan preserves size; A4 adds 8


@snapshot_plan
def binary_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 + B7 across all presets + B5 signed in ONE scan and ONE Arrow
    pass. The preset is a per-row column (``presets[doc_id % 5]``), so
    mixed presets cost no extra scan or branch. When the parquet layout
    is unsplittable, ``spread_n`` spreads the raw ``(doc_id, text)``
    rows before the operator (guide §2.5): the exchange carries raw
    columns only, and the per-document raster work amortizes the tasks
    (median request at sf0.1, 4 cores: 2.35 s unspread vs 1.11 s; at
    sf0.001 the spread costs about 0.05 s)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = spread_n(spark, sf_dir, "documents")
    if n is not None:
        docs = docs.repartition(n)
    preset = F.element_at(F.array(*[F.lit(p) for p in _PRESETS]), (F.col("doc_id") % 5 + 1).cast("int"))
    # backend pinned to the stub: this plan's DuckDB oracle recomputes
    # the stub's EXACT size model, which no real JPEG encoder promises.
    # The real-codec route (codecs.resolve("auto")) is the user-facing
    # pipeline default, exercised by tests/test_real_codecs.py where
    # the libraries exist.
    out = pipeline.binary_stages(docs.withColumn("preset", preset), backend="stub")
    name = F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".pdf"))
    return out.withColumn("file_name", F.when(F.col("stage") == "sign", make_signed_filename(name)))


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
