"""Distributed document pipelines over binary content (SURVEY.md §2.9).

Each document's codec composition is a plain Python function over a
resolved codec module (``compress_doc``, ``scan_doc``, ``sign_doc``:
bytes in, bytes out, pages walked in order). The Spark side is ONE
``mapInPandas`` (``binary_stages``): every document is encoded once
and runs all three compositions inside the same Arrow pass, so a
request pays one Python operator and one worker round trip instead of
one per stage, and no exchange ever carries derived page bytes. Seeds
derive from key columns, so a retried task reproduces its bytes. Only
the byte-level codecs are deterministic fakes (multimodal/codecs.py).

Batch-size note: Arrow batches are capped via
``spark.sql.execution.arrow.maxRecordsPerBatch`` so a batch of
multi-MB documents cannot blow executor memory — the moral equivalent
of the reference's per-page ``del``/``gc.collect()`` dance
(app.py:213-216, §4.1).
"""

from __future__ import annotations

from collections.abc import Iterator
from types import ModuleType

import pandas as pd
from pyspark.sql import DataFrame

from monday_etl_automation_spark.multimodal import codecs

SIGN_PRESET = "balanced"
SIGNER = "engine"

STAGES_SCHEMA = (
    "stage STRING, preset STRING, doc_id BIGINT, n_pages BIGINT, in_bytes BIGINT, out_bytes BIGINT"
)


def compress_doc(codec: ModuleType, content: bytes, preset: str) -> bytes:
    """B1 (fixed_signature_utils.py:38-110): page-at-a-time rasterize at
    the preset DPI, JPEG re-encode at the preset quality, rebuild the
    container."""
    dpi, quality = codec.quality_preset(preset)
    return codec.pdf_from_page_images(
        [codec.jpeg_encode(codec.rasterize_page(p, dpi), quality) for p in codec.pdf_pages(content)]
    )


def scan_doc(codec: ModuleType, content: bytes, preset: str, doc_id: int) -> bytes:
    """B2/B3/B7: rasterize each page at the preset DPI, apply the scan
    effects seeded by (doc_id, page index, preset) — retry-reproducible
    (§7.5 item 4) — A4-normalize, and rebuild in page order."""
    dpi = codec.quality_preset(preset)[0]
    return codec.pdf_from_page_images(
        [
            codec.a4_normalize(
                codec.scan_effects(codec.rasterize_page(p, dpi), key=f"{doc_id}:{i}".encode(), preset=preset)
            )
            for i, p in enumerate(codec.pdf_pages(content))
        ]
    )


def sign_doc(codec: ModuleType, content: bytes, signer: str) -> bytes:
    """B4/B5 (fixed_signature_utils.py:211-254): compress at
    ``SIGN_PRESET``, then stamp the signature. The uvloop/ThreadPool
    plumbing of the reference disappears: Spark tasks are already
    parallel sync contexts (SURVEY §2.9 B4)."""
    return codec.sign_pdf_bytes(compress_doc(codec, content, SIGN_PRESET), signer)


def binary_stages(docs: DataFrame, backend: str = "auto") -> DataFrame:
    """All three stages in one Arrow pass over ``(doc_id, text,
    preset)``: each document's PDF is encoded once (the stand-in for an
    S7 download or ``binaryFile`` scan) and yields the wide rows
    ``STAGES_SCHEMA`` of compress (at the row's preset), scan (at the
    row's preset) and sign (at ``SIGN_PRESET``); ``in_bytes`` is set on
    the compress row only."""
    # capture the backend NAME only; the module is re-resolved per task
    # (executors may lack — or uniquely have — the real libraries)
    backend_name = codecs.resolve_name(backend)

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        codec = codecs.resolve(backend_name)
        for pdf in batches:
            rows = []
            for doc_id, text, preset in zip(pdf["doc_id"], pdf["text"], pdf["preset"]):
                content = codec.pdf_encode(text)
                n_pages = codec.pdf_page_count(content)
                rows += [
                    ("compress", preset, doc_id, n_pages, len(content), len(compress_doc(codec, content, preset))),
                    ("scan", preset, doc_id, n_pages, None, len(scan_doc(codec, content, preset, doc_id))),
                    ("sign", SIGN_PRESET, doc_id, n_pages, None, len(sign_doc(codec, content, SIGNER))),
                ]
            out = pd.DataFrame(rows, columns=["stage", "preset", "doc_id", "n_pages", "in_bytes", "out_bytes"])
            yield out.astype({"in_bytes": "Int64"})

    return docs.select("doc_id", "text", "preset").mapInPandas(work, STAGES_SCHEMA)
