"""Real-codec backend (multimodal/codecs_real.py): auto-selection
probe + golden tests that RUN where PyMuPDF/PIL exist and SKIP here
(this container has neither — mirror of the protobuf gating pattern
in tests/test_streaming.py).

What is verified unconditionally: the probe/selector contract —
'auto' resolves to the stub in this container, 'real' raises cleanly,
and every pipeline entry point accepts the backend parameter. The
codec-level round-trips below exercise the real byte transforms when
the libraries are present.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from monday_etl_automation_spark.multimodal import codecs, codecs_real, pipeline

real_only = pytest.mark.skipif(
    not codecs_real.HAVE_REAL_CODECS, reason="PyMuPDF/PIL not installed in this container"
)


def test_auto_backend_matches_probe():
    expected = "real" if codecs_real.HAVE_REAL_CODECS else "stub"
    assert codecs.available_backend() == expected
    resolved = codecs.resolve("auto")
    assert (resolved is codecs_real) == codecs_real.HAVE_REAL_CODECS


def test_stub_backend_always_resolves():
    assert codecs.resolve("stub").pdf_encode("x").startswith(b"%FPDF")


def test_real_backend_raises_cleanly_when_absent():
    if codecs_real.HAVE_REAL_CODECS:
        pytest.skip("real codecs present — the failure path cannot occur")
    with pytest.raises(ImportError):
        codecs.resolve("real")
    with pytest.raises(ValueError):
        codecs.resolve("nonsense")


def test_pipeline_entry_points_accept_backend(spark, sf_dir):
    """The user-facing surface must route the parameter (a typo'd
    keyword would otherwise only explode in the full container)."""
    from monday_etl_automation_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(3).withColumn("preset", F.lit("balanced"))
    rows = pipeline.binary_stages(docs, backend="stub").collect()
    assert sorted(r.stage for r in rows) == ["compress"] * 3 + ["scan"] * 3 + ["sign"] * 3
    with pytest.raises(ValueError):
        pipeline.binary_stages(docs, backend="nonsense")


@real_only
def test_real_pdf_roundtrip():
    text = "word " * 123
    pdf = codecs_real.pdf_encode(text)
    assert pdf.startswith(b"%PDF")
    assert codecs_real.pdf_page_count(pdf) == 4  # 200 chars/page
    pages = codecs_real.pdf_pages(pdf)
    assert len(pages) == 4 and all(p.startswith(b"%PDF") for p in pages)


@real_only
def test_real_raster_and_jpeg():
    page = codecs_real.pdf_pages(codecs_real.pdf_encode("hello world"))[0]
    png = codecs_real.rasterize_page(page, 150)
    assert png.startswith(b"\x89PNG")
    jpg = codecs_real.jpeg_encode(png, 85)
    assert jpg.startswith(b"\xff\xd8")  # JPEG SOI
    # quality monotonicity: lower quality must not produce more bytes
    assert len(codecs_real.jpeg_encode(png, 40)) <= len(jpg)


@real_only
def test_real_scan_effects_seeded_retry_reproducible():
    page = codecs_real.pdf_pages(codecs_real.pdf_encode("hello"))[0]
    img = codecs_real.rasterize_page(page, 90)
    a = codecs_real.scan_effects(img, key=b"doc1:0", preset="balanced")
    b = codecs_real.scan_effects(img, key=b"doc1:0", preset="balanced")
    c = codecs_real.scan_effects(img, key=b"doc1:1", preset="balanced")
    assert a == b  # task retry reproduces bytes exactly
    assert a != c  # different keys decorrelate


@real_only
def test_real_distributed_pipeline_deterministic(spark, sf_dir):
    from monday_etl_automation_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(10).withColumn("preset", F.lit("balanced"))
    out = pipeline.binary_stages(docs, backend="real")
    a = sorted(out.collect())
    b = sorted(out.collect())
    assert a == b and len(a) == 3 * 10
    text = docs.first().text
    pdf = codecs_real.pdf_encode(text)
    assert pipeline.scan_doc(codecs_real, pdf, "balanced", 7) == pipeline.scan_doc(codecs_real, pdf, "balanced", 7)
