"""Executable coverage for codecs_real's library-free half.

The real-backend golden tests (tests/test_codecs_real.py) skip in
containers without PyMuPDF/PIL — which meant codecs_real.py never
executed AT ALL here, and a syntax or contract error could hide until
a user's full container hit it. These tests always run: they import
the module (the try/except-guarded imports make that safe anywhere),
compile its source, and exercise every pure function through the
module's own attributes — the code paths a real container shares.
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import inspect

import pytest

from monday_etl_automation_spark.multimodal import (
    codecs,
    codecs_common as common,
    codecs_real,
)


def test_codecs_real_imports_and_compiles_everywhere():
    """Import must succeed with or without the heavy libraries, and the
    source must parse+compile (catches syntax rot the skip-gated
    goldens cannot)."""
    mod = importlib.reload(codecs_real)
    src = inspect.getsource(mod)
    ast.parse(src)
    compile(src, mod.__file__, "exec")
    assert isinstance(mod.HAVE_REAL_CODECS, bool)


def test_missing_libraries_consistent_with_flag():
    missing = codecs_real.missing_libraries()
    assert isinstance(missing, list)
    assert (missing == []) == codecs_real.HAVE_REAL_CODECS
    if not codecs_real.HAVE_REAL_CODECS:
        # every entry names a concrete installable library
        assert all(("PyMuPDF" in m) or ("Pillow" in m) for m in missing)


def test_backend_surface_parity():
    """Both backends expose the same callable surface (pipeline.py
    calls these through whichever module resolve() returns)."""
    surface = [
        "quality_preset", "pdf_encode", "pdf_page_count", "pdf_pages",
        "pdf_from_page_images", "rasterize_page", "jpeg_encode",
        "scan_effects", "a4_normalize", "sign_pdf_bytes",
        "compressed_pdf_size",
    ]
    for name in surface:
        assert callable(getattr(codecs_real, name)), name
        assert callable(getattr(codecs, name)), name


def test_preset_tables_identical_across_backends():
    for name in ("minimum", "balanced", "high", "premium", "ultra"):
        assert codecs_real.quality_preset(name) == codecs.quality_preset(name)
    with pytest.raises(KeyError):
        codecs_real.quality_preset("no_such_preset")


def test_pagination_math():
    assert common.paginate("") == [""]
    assert common.paginate("x" * common.PAGE_CHARS) == ["x" * common.PAGE_CHARS]
    chunks = common.paginate("y" * (common.PAGE_CHARS * 2 + 1))
    assert [len(c) for c in chunks] == [common.PAGE_CHARS, common.PAGE_CHARS, 1]
    assert "".join(chunks) == "y" * (common.PAGE_CHARS * 2 + 1)


def test_scan_seed_deterministic_and_key_sensitive():
    s1 = common.scan_seed(b"IMG_HEAD", b"1:0", "balanced")
    assert s1 == common.scan_seed(b"IMG_HEAD", b"1:0", "balanced")
    assert s1 != common.scan_seed(b"IMG_HEAD", b"1:1", "balanced")
    assert s1 != common.scan_seed(b"IMG_HEAD", b"1:0", "ultra")
    assert 0 <= s1 < 2**64


def test_sign_mark_is_sha256_over_content_plus_signer():
    pdf, signer = b"%PDF-1.7 fake", "engine"
    assert common.sign_mark(pdf, signer) == hashlib.sha256(
        pdf + signer.encode()
    ).hexdigest()
    assert common.sign_mark(pdf, "other") != common.sign_mark(pdf, signer)


def test_stream_deterministic_prefix_stable():
    long = common.stream(b"seed", 100)
    assert common.stream(b"seed", 40) == long[:40]
    assert common.stream(b"seed2", 100) != long
    assert len(common.stream(b"s", 0)) == 0


def test_real_size_model_contract():
    """compressed_pdf_size is a deliberate NotImplementedError on the
    real backend (no closed form for real JPEG sizes) — pin that the
    contract error, not an AttributeError, is what callers see."""
    with pytest.raises(NotImplementedError):
        codecs_real.compressed_pdf_size(1000)


def test_resolve_name_and_real_import_error():
    assert codecs.resolve_name("stub") == "stub"
    assert codecs.resolve_name("auto") in ("stub", "real")
    with pytest.raises(ValueError):
        codecs.resolve_name("imaginary")
    if not codecs_real.HAVE_REAL_CODECS:
        with pytest.raises(ImportError) as ei:
            codecs.resolve("real")
        # the error must NAME the missing libraries (actionable on an
        # executor that lacks what the driver had)
        assert "PyMuPDF" in str(ei.value) or "Pillow" in str(ei.value)
