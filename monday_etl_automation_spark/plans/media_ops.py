"""Image/audio/video pipeline query (SURVEY §2.12 multimodal columns).

One registered query runs ALL THREE media dataflows (image resize,
video frame-sampling, audio feature extraction) as ONE scan of
``(doc_id, n_chars)`` and ONE ``mapInPandas``
(multimodal/media.py:media_metrics): each document's container is
built and decoded by its kind's transform in-process, and the pass
emits the long-format relation ``(kind, doc_id, metric, value)``
directly. The DuckDB oracle recomputes the exact integer size/feature
model from ``documents.n_chars`` and md5 — full value matches prove
the per-kind transforms without binary-capable SQL.

(Merged from 3 separate queries in round 2 so every media operator
lands inside the driver's 50-entry correctness window; the per-kind
transforms are still individually tested in tests/test_multimodal.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from monday_etl_automation_spark.multimodal import media
from monday_etl_automation_spark.sources.tables import load_table, snapshot_plan

_W = "100 + n_chars % 512"
_H = "100 + (n_chars * 7) % 512"


@snapshot_plan
def media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three media dataflows in one long-format relation. No
    ``spread_n`` here: the per-row generation is too cheap to amortize
    the extra tasks (r18: 1.1 s -> 2.2 s at sf0.1 when it was tried)."""
    return media.media_metrics(load_table(spark, sf_dir, "documents"))


_FEATS_LONG = "\n  UNION ALL\n  ".join(
    f"SELECT doc_id, 'f{i}' AS metric,"
    f" CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{i}'), 1, 7) AS BIGINT) AS value"
    f" FROM documents WHERE doc_id % 3 = 1"
    for i in range(8)
)

MEDIA_ORACLE = f"""
WITH img AS (
  SELECT doc_id, CAST({_W} AS INT) AS w, CAST({_H} AS INT) AS h
  FROM documents WHERE doc_id % 3 = 0
),
img_m AS (
  SELECT doc_id, 'out_width' AS metric,
         CAST(GREATEST(1, (w * {media.RESIZE_H}) // h) AS BIGINT) AS value FROM img
  UNION ALL
  SELECT doc_id, 'out_height', {media.RESIZE_H} FROM img
  UNION ALL
  SELECT doc_id, 'out_bytes',
         CAST(16 + (GREATEST(1, (w * {media.RESIZE_H}) // h) * {media.RESIZE_H}) // 16 AS BIGINT)
  FROM img
),
vid AS (
  SELECT doc_id, GREATEST(1, n_chars // 40) AS nf
  FROM documents WHERE doc_id % 3 = 2
),
vid_m AS (
  SELECT doc_id, 'n_frames' AS metric, CAST(nf AS BIGINT) AS value FROM vid
  UNION ALL
  SELECT doc_id, 'n_sampled', CAST(1 + (nf - 1) // {media.SAMPLE_EVERY} AS BIGINT) FROM vid
  UNION ALL
  SELECT doc_id, 'out_bytes',
         CAST(8 + (1 + (nf - 1) // {media.SAMPLE_EVERY}) * {media.FRAME_BYTES} AS BIGINT)
  FROM vid
),
aud_m AS (
  {_FEATS_LONG}
)
SELECT 'image' AS kind, doc_id, metric, value FROM img_m
UNION ALL
SELECT 'video', doc_id, metric, value FROM vid_m
UNION ALL
SELECT 'audio', doc_id, metric, value FROM aud_m
ORDER BY kind, doc_id, metric
""".strip()


QUERIES: dict[str, tuple] = {
    "media_pipeline": (media_pipeline, MEDIA_ORACLE),
}
