"""Image/audio/video pipeline query (SURVEY §2.12 multimodal columns).

One registered query runs ALL THREE media dataflows (image resize,
video frame-sampling, audio feature extraction — multimodal/media.py:
binary + typed metadata through Arrow mapInPandas stages) and unions
them into one long-format relation ``(kind, doc_id, metric, value)``.
The DuckDB oracle recomputes the exact integer size/feature model from
``documents.n_chars`` and md5 — full value matches prove the
distributed plumbing without binary-capable SQL.

(Merged from 3 separate queries in round 2 so every media operator
lands inside the driver's 50-entry correctness window; the per-kind
pipelines are unchanged and still individually tested in
tests/test_multimodal.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monday_etl_automation_spark.multimodal import media
from monday_etl_automation_spark.sources.tables import load_table, snapshot_plan

_W = "100 + n_chars % 512"
_H = "100 + (n_chars * 7) % 512"


def _media(spark: SparkSession, sf_dir: str, kind_mod: int | None = None) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    if kind_mod is not None:
        # push the kind predicate below the (expensive) binary
        # generation — the scan filter prunes before mapInPandas runs
        docs = docs.where(f"doc_id % 3 = {kind_mod}")
    # r18: a spread_n repartition here was measured and REVERTED
    # (1.1s -> 2.2s at sf0.1): three branches x repartition tripled the
    # task/worker fixed costs while the per-row generation is too cheap
    # to amortize them — the r14 binary-checkpoint lesson again.
    return media.documents_to_media(docs)


def media_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media.resize_images(_media(spark, sf_dir, kind_mod=0))


def media_video_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media.sample_video_frames(_media(spark, sf_dir, kind_mod=2))


def media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media.extract_audio_features(_media(spark, sf_dir, kind_mod=1))


def _unpivot(df: DataFrame, kind: str, metrics: list[str]) -> DataFrame:
    stack = ", ".join(f"'{m}', CAST({m} AS BIGINT)" for m in metrics)
    return df.selectExpr(
        f"'{kind}' AS kind",
        "doc_id",
        f"stack({len(metrics)}, {stack}) AS (metric, value)",
    )


@snapshot_plan
def media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three media dataflows in one long-format relation."""
    img = _unpivot(
        media_image_resize(spark, sf_dir), "image", ["out_width", "out_height", "out_bytes"]
    )
    vid = _unpivot(
        media_video_sample(spark, sf_dir), "video", ["n_frames", "n_sampled", "out_bytes"]
    )
    aud = _unpivot(
        media_audio_features(spark, sf_dir), "audio", [f"f{i}" for i in range(8)]
    )
    return img.unionByName(vid).unionByName(aud)


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
