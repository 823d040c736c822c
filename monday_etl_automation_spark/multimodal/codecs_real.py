"""Real document/image codecs (SURVEY.md §2.9 B1-B7), used when the
container provides PyMuPDF + PIL.

Mirrors the byte-transform surface of multimodal/codecs.py (the
deterministic stub) one-for-one, implemented with the same libraries
the reference uses (fixed_signature_utils.py:38-110 get_pixmap + PIL
JPEG, 453-558 scan effects). Selection is automatic:
``codecs.resolve("auto")`` returns this module when ``HAVE_REAL_CODECS``
is true, the stub otherwise — so the SAME Spark pipeline
(multimodal/pipeline.py) produces real rasters where the libs exist
and exact-size fakes where they don't. The driver-oracle queries pin
``backend="stub"`` explicitly: their DuckDB twins recompute the stub's
exact size model, which no real JPEG encoder can promise.

Determinism policy is identical to the stub: every perturbation seeds
from (key, preset) — never wall-clock or global random — so Spark task
retries reproduce bytes exactly (SURVEY §7.5 item 4; the reference's
module-level ``random`` is the anti-pattern this fixes).

Cryptographic signing is the one deliberate divergence: a PKCS#12
signature (reference: pyhanko, fixed_signature_utils.py:132-205) needs
key material an engine cannot invent, so ``sign_pdf_bytes`` stamps a
visible sha256 trailer page instead; callers with a real certificate
should plug pyhanko in at deploy time.
"""

from __future__ import annotations

import io

from monday_etl_automation_spark.multimodal import codecs_common as _common

try:  # pragma: no cover - availability depends on the container
    import fitz  # PyMuPDF

    _HAVE_FITZ = True
except ImportError:  # pragma: no cover
    _HAVE_FITZ = False

try:  # pragma: no cover
    import numpy as _np
    from PIL import Image

    _HAVE_PIL = True
except ImportError:  # pragma: no cover
    _HAVE_PIL = False

HAVE_REAL_CODECS = _HAVE_FITZ and _HAVE_PIL


def missing_libraries() -> list[str]:
    """Names of the libraries the real backend still needs in THIS
    process (empty when HAVE_REAL_CODECS). Used for actionable
    ImportErrors on executors that lack what the driver had."""
    missing = []
    if not _HAVE_FITZ:
        missing.append("PyMuPDF (fitz)")
    if not _HAVE_PIL:
        missing.append("Pillow (PIL) + numpy")
    return missing

# pure halves (pagination, presets, seeds, signing marks) live in
# codecs_common so they stay pytest-executable in lib-less containers
PAGE_CHARS = _common.PAGE_CHARS
_A4_PT = _common.A4_PT
quality_preset = _common.quality_preset
_digest = _common.digest


# --- PDF container -----------------------------------------------------------


def pdf_encode(text: str) -> bytes:
    """text -> real PDF, PAGE_CHARS chars per A4 page."""
    chunks = _common.paginate(text)
    doc = fitz.open()
    for c in chunks:
        page = doc.new_page(width=_A4_PT[0], height=_A4_PT[1])
        page.insert_textbox(fitz.Rect(36, 36, _A4_PT[0] - 36, _A4_PT[1] - 36), c, fontsize=11)
    out = doc.tobytes()
    doc.close()
    return out


def pdf_page_count(pdf: bytes) -> int:
    with fitz.open(stream=pdf, filetype="pdf") as doc:
        return doc.page_count


def pdf_pages(pdf: bytes) -> list[bytes]:
    """Split into one single-page PDF per page (the per-page fan-out
    unit)."""
    out: list[bytes] = []
    with fitz.open(stream=pdf, filetype="pdf") as doc:
        for i in range(doc.page_count):
            single = fitz.open()
            single.insert_pdf(doc, from_page=i, to_page=i)
            out.append(single.tobytes())
            single.close()
    return out


def pdf_from_page_images(images: list[bytes]) -> bytes:
    """Rebuild a PDF from page images (compress/scan rebuild,
    app.py:288-296): one A4 page per image, image fitted full-bleed."""
    doc = fitz.open()
    for img in images:
        page = doc.new_page(width=_A4_PT[0], height=_A4_PT[1])
        page.insert_image(page.rect, stream=img)
    out = doc.tobytes()
    doc.close()
    return out


# --- image transforms --------------------------------------------------------


def rasterize_page(page: bytes, dpi: int) -> bytes:
    """Single-page PDF -> PNG raster at ``dpi`` (fitz get_pixmap,
    fixed_signature_utils.py:67-74)."""
    with fitz.open(stream=page, filetype="pdf") as doc:
        pix = doc[0].get_pixmap(dpi=dpi)
        return pix.tobytes("png")


def jpeg_encode(img: bytes, quality: int) -> bytes:
    im = Image.open(io.BytesIO(img)).convert("RGB")
    buf = io.BytesIO()
    im.save(buf, format="JPEG", quality=quality)
    return buf.getvalue()


def scan_effects(img: bytes, *, key: bytes, preset: str = "balanced") -> bytes:
    """Seeded scan look (B2/B3): slight rotation + luminance noise +
    mild contrast wobble. All randomness comes from sha256(key, preset)
    — task retries reproduce bytes exactly."""
    rng = _np.random.default_rng(_common.scan_seed(img[:64], key, preset))
    im = Image.open(io.BytesIO(img)).convert("RGB")
    angle = float(rng.uniform(-0.7, 0.7))
    im = im.rotate(angle, expand=False, fillcolor=(255, 255, 255))
    arr = _np.asarray(im).astype(_np.int16)
    noise = rng.integers(-6, 7, size=arr.shape[:2], dtype=_np.int16)[..., None]
    arr = _np.clip(arr + noise, 0, 255).astype(_np.uint8)
    out = io.BytesIO()
    Image.fromarray(arr).save(out, format="PNG")
    return out.getvalue()


def a4_normalize(img: bytes) -> bytes:
    """Resize to A4 geometry at 150 dpi (1240x1754), preserving mode."""
    im = Image.open(io.BytesIO(img)).convert("RGB").resize(_common.A4_PX_150DPI)
    out = io.BytesIO()
    im.save(out, format="PNG")
    return out.getvalue()


def sign_pdf_bytes(pdf: bytes, signer: str) -> bytes:
    """Visible-signature stamp: append a trailer page carrying the
    signer and the content sha256 (see module docstring for why this
    is a stamp, not a PKCS#12 signature)."""
    mark = _common.sign_mark(pdf, signer)
    doc = fitz.open(stream=pdf, filetype="pdf")
    page = doc[-1]
    page.insert_text((36, _A4_PT[1] - 24), f"Signed by {signer} sha256:{mark[:32]}", fontsize=8)
    out = doc.tobytes()
    doc.close()
    return out


def compressed_pdf_size(n_chars: int) -> int:  # pragma: no cover
    """Real JPEG output sizes are content-dependent; no closed form
    exists. Kept for surface parity — callers that need the exact size
    model (the driver-oracle queries) must pin backend='stub'."""
    raise NotImplementedError("real codecs have no exact size model; use the stub backend")


_stream = _common.stream
