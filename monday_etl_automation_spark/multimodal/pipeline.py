"""Distributed document pipelines over binary columns (SURVEY.md §2.9).

The Spark side is REAL (and is what matters at 100 TB): binary columns
flow through ``mapInPandas`` in Arrow batches, per-page fan-out is an
``explode``, seeds derive from key columns, and reassembly is a
grouped ``collect_list`` ordered by page index. Only the byte-level
codecs are deterministic fakes (multimodal/codecs.py).

Batch-size note: Arrow batches are capped via
``spark.sql.execution.arrow.maxRecordsPerBatch`` so a batch of
multi-MB documents cannot blow executor memory — the moral equivalent
of the reference's per-page ``del``/``gc.collect()`` dance
(app.py:213-216, §4.1).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from monday_etl_automation_spark.functions.scalar import make_signed_filename
from monday_etl_automation_spark.multimodal import codecs

DOC_BIN_SCHEMA = "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, content BINARY"


def documents_to_binary(documents: DataFrame, backend: str = "auto") -> DataFrame:
    """Materialize the PDF binary column from document text.

    (Stand-in for S7 download / binaryFile scan: real deployments read
    ``spark.read.format('binaryFile')`` or fetch via a UDF; here the
    bytes derive deterministically from the text fixture.)
    """
    # capture the backend NAME only; the module is re-resolved per task
    # (executors may lack — or uniquely have — the real libraries)
    backend_name = codecs.resolve_name(backend)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        codec = codecs.resolve(backend_name)
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    "source": pdf["source"],
                    "n_chars": pdf["n_chars"],
                    "content": pdf["text"].map(lambda t: codec.pdf_encode(t)),
                }
            )

    return documents.mapInPandas(encode, DOC_BIN_SCHEMA)


# ---------------------------------------------------------------------------
# B1 — compress: per-page rasterize -> jpeg -> rebuild
# ---------------------------------------------------------------------------

B1_SCHEMA = "doc_id BIGINT, n_pages BIGINT, in_bytes BIGINT, out_bytes BIGINT, out_sha STRING"


def compress_pdf(docs_bin: DataFrame, backend: str = "auto", with_sha: bool = True) -> DataFrame:
    """B1 (fixed_signature_utils.py:38-110): page-at-a-time rasterize at
    the preset DPI, 'sharpen', JPEG re-encode, rebuild the container.

    The preset is resolved PER ROW: a ``preset`` column on ``docs_bin``
    runs heterogeneous presets in ONE scan/pass instead of one branch
    (and one full input scan) per preset; without one, every document
    is stamped ``balanced``."""
    if "preset" not in docs_bin.columns:
        docs_bin = docs_bin.withColumn("preset", F.lit("balanced"))
    backend_name = codecs.resolve_name(backend)

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        codec = codecs.resolve(backend_name)
        for pdf in batches:
            rows = []
            for doc_id, content, pr in zip(pdf["doc_id"], pdf["content"], pdf["preset"]):
                dpi, quality = codec.quality_preset(pr)
                pages = codec.pdf_pages(bytes(content))
                images = [
                    codec.jpeg_encode(codec.rasterize_page(p, dpi), quality) for p in pages
                ]
                out = codec.pdf_from_page_images(images)
                sha = hashlib.sha256(out).hexdigest() if with_sha else None
                rows.append((doc_id, len(pages), len(content), len(out), sha))
            yield pd.DataFrame(rows, columns=["doc_id", "n_pages", "in_bytes", "out_bytes", "out_sha"])

    return docs_bin.mapInPandas(work, B1_SCHEMA)


# ---------------------------------------------------------------------------
# B7 — scan pipeline with per-page fan-out: pages -> effects ->
#       A4 normalize -> reassemble (the distributed page-parallel shape)
# ---------------------------------------------------------------------------

B7_SCHEMA = "doc_id BIGINT, page_idx INT, out_page BINARY"


def reassemble(scanned: DataFrame) -> DataFrame:
    """Collect pages back into documents, ordered by page index."""
    return (
        scanned.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("page_idx"), F.col("out_page")))
            ).alias("_pages")
        )
        .select(
            "doc_id",
            F.size("_pages").cast("bigint").alias("n_pages"),
            F.transform(F.col("_pages"), lambda s: s["out_page"]).alias("pages"),
        )
    )


def explode_scan_pages(docs_bin: DataFrame, backend: str = "auto") -> DataFrame:
    """B2/B3 page fan-out in one mapInPandas (r18, guide §4.1): one
    worker rasterizes each page at the row's preset DPI and applies the
    seeded scan effects + A4 normalization page-at-a-time, so every
    page raster makes one Arrow crossing. The seed is (doc_id,
    page_idx, preset) — retry-reproducible (§7.5 item 4). A ``preset``
    column on ``docs_bin`` wins; without one, every document is
    stamped ``balanced``. The distributed page fan-out happens at the
    reassembly exchange."""
    if "preset" not in docs_bin.columns:
        docs_bin = docs_bin.withColumn("preset", F.lit("balanced"))
    backend_name = codecs.resolve_name(backend)

    def split_scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        codec = codecs.resolve(backend_name)
        for pdf in batches:
            out: list[tuple] = []
            for doc_id, content, pr in zip(pdf["doc_id"], pdf["content"], pdf["preset"]):
                page_dpi = codec.quality_preset(pr)[0]
                for i, p in enumerate(codec.pdf_pages(bytes(content))):
                    eff = codec.scan_effects(
                        codec.rasterize_page(p, page_dpi), key=f"{doc_id}:{i}".encode(), preset=pr
                    )
                    out.append((doc_id, i, codec.a4_normalize(eff)))
            yield pd.DataFrame(out, columns=["doc_id", "page_idx", "out_page"])

    return docs_bin.mapInPandas(split_scan, B7_SCHEMA)


def scanned_pdf(docs_bin: DataFrame, backend: str = "auto", with_sha: bool = True) -> DataFrame:
    """Full B7: page scan -> reassemble -> rebuild container.

    Presets resolve per row as in ``explode_scan_pages``.
    ``with_sha=False`` skips the output sha256 for callers that drop
    the column (guide §1.2: don't compute what is thrown away) — every
    kept column is unchanged."""
    backend_name = codecs.resolve_name(backend)
    parts = reassemble(explode_scan_pages(docs_bin, backend=backend_name))

    def rebuild(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        codec = codecs.resolve(backend_name)
        for pdf in batches:
            rows = []
            for doc_id, n_pages, pages in zip(pdf["doc_id"], pdf["n_pages"], pdf["pages"]):
                out = codec.pdf_from_page_images([bytes(p) for p in pages])
                sha = hashlib.sha256(out).hexdigest() if with_sha else None
                rows.append((doc_id, int(n_pages), len(out), sha))
            yield pd.DataFrame(rows, columns=["doc_id", "n_pages", "out_bytes", "out_sha"])

    return parts.mapInPandas(rebuild, "doc_id BIGINT, n_pages BIGINT, out_bytes BIGINT, out_sha STRING")


# ---------------------------------------------------------------------------
# B4/B5 — compress + sign + rename (the /sign-pdf/ composition)
# ---------------------------------------------------------------------------


def sign_pipeline(
    docs_bin: DataFrame,
    signer: str = "engine",
    preset: str = "balanced",
    backend: str = "auto",
    with_sha: bool = True,
) -> DataFrame:
    """B5 (fixed_signature_utils.py:211-254): compress -> sign ->
    rename. The uvloop/ThreadPool plumbing of the reference disappears:
    Spark tasks are already parallel sync contexts (SURVEY §2.9 B4)."""
    backend_name = codecs.resolve_name(backend)
    # preset table is identical across backends — pure driver-side lookup
    dpi, quality = codecs.quality_preset(preset)

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        codec = codecs.resolve(backend_name)
        for pdf in batches:
            rows = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                pages = codec.pdf_pages(bytes(content))
                images = [
                    codec.jpeg_encode(codec.rasterize_page(p, dpi), quality) for p in pages
                ]
                compressed = codec.pdf_from_page_images(images)
                signed = codec.sign_pdf_bytes(compressed, signer)
                sha = hashlib.sha256(signed).hexdigest() if with_sha else None
                rows.append((doc_id, len(pages), len(signed), sha))
            yield pd.DataFrame(rows, columns=["doc_id", "n_pages", "out_bytes", "out_sha"])

    out = docs_bin.mapInPandas(work, "doc_id BIGINT, n_pages BIGINT, out_bytes BIGINT, out_sha STRING")
    name = F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".pdf"))
    return out.select(
        "doc_id",
        make_signed_filename(name).alias("file_name"),
        "n_pages",
        "out_bytes",
        "out_sha",
    )
