"""Deterministic fake document/image codecs (SURVEY.md §2.9 B1-B7).

STUB LAYER — the container has no PDF/image libraries (PyMuPDF, PIL),
so the *decode/encode byte transforms* are deterministic fakes with
the same dataflow shape as the reference's real ones
(fixed_signature_utils.py:38-110, 369-558; app.py:199-332):

- a "PDF" is ``%FPDF`` + page count + length-prefixed page blocks;
- "rasterizing" a page at a DPI yields a pseudo-image whose size
  depends only on the DPI (like a fixed-size page raster);
- "JPEG" re-encode scales the payload by quality;
- scan effects perturb bytes with a **seeded** PRNG — the seed
  derives from (key, preset), never from time or global random, so
  Spark task retries are reproducible (SURVEY §7.5 item 4);
- "signing" appends a sha256 trailer over content+signer (the
  PKCS#12 stamp stand-in, fixed_signature_utils.py:132-205).

Every size is an exact function of (n_chars, dpi, quality), which is
what lets plans/binary_ops.py verify the whole distributed pipeline
against a pure-SQL DuckDB oracle. Swapping in real codecs changes
only this module.
"""

from __future__ import annotations

import struct
import sys
from types import ModuleType

from monday_etl_automation_spark.multimodal import codecs_common as _common


def available_backend() -> str:
    """'real' when PyMuPDF + PIL are importable in this environment,
    else 'stub'. Probed lazily so importing this module never pays
    (or fails on) the heavy imports."""
    from monday_etl_automation_spark.multimodal import codecs_real  # noqa: PLC0415

    return "real" if codecs_real.HAVE_REAL_CODECS else "stub"


def resolve_name(backend: str = "auto") -> str:
    """Normalize a backend request to a concrete name ('stub'/'real').

    Pipeline entry points call this ON THE DRIVER and capture only the
    resulting STRING in their pandas-UDF closures; the executor then
    calls ``resolve(name)`` at task time. Capturing the module object
    instead would serialize it by reference, and an executor missing
    PyMuPDF/PIL would fail deep inside a task with a bare NameError
    (codecs_real's imports are try/except-guarded) — or, worse, an
    'auto' probe answered on a lib-less driver would silently pick the
    stub even where executors DO have the real libraries. Resolving
    'auto' here makes the driver's answer authoritative for the whole
    job; a concrete 'real' then fails loudly on executors that can't
    honor it (see resolve()).
    """
    if backend == "auto":
        return available_backend()
    if backend not in ("stub", "real"):
        raise ValueError(f"unknown codec backend {backend!r}")
    return backend


def resolve(backend: str = "auto") -> ModuleType:
    """Select the codec backend module.

    - 'stub': this module (deterministic fakes with exact size
      oracles — what the driver-oracle queries pin).
    - 'real': multimodal/codecs_real.py (PyMuPDF/PIL); raises a clear
      ImportError naming the missing libraries when they are absent
      IN THE CALLING PROCESS (driver or executor).
    - 'auto': 'real' when available, else 'stub' — what the
      user-facing pipeline entry points default to.
    """
    backend = resolve_name(backend)
    if backend == "stub":
        return sys.modules[__name__]
    from monday_etl_automation_spark.multimodal import codecs_real  # noqa: PLC0415

    if not codecs_real.HAVE_REAL_CODECS:
        raise ImportError(
            "codec backend 'real' requires "
            + " and ".join(codecs_real.missing_libraries())
            + " (not importable in this process; on a cluster every "
            "executor needs them, not just the driver)"
        )
    return codecs_real


# pure shared logic (preset table, digests, byte stream) lives in
# codecs_common — ONE copy for both backends. Pagination is NOT
# shared: the stub chunks UTF-8 BYTES (its exact size model is
# byte-addressed), the real backend chunks characters (see
# codecs_common.paginate).
PAGE_CHARS = _common.PAGE_CHARS
_MAGIC = b"%FPDF\n"
_QUALITY = _common.QUALITY
quality_preset = _common.quality_preset
_digest = _common.digest


# --- "PDF" container --------------------------------------------------------


def pdf_encode(text: str) -> bytes:
    """text -> fake PDF: header + u32 page count + per-page blocks
    (b'PAGE:' + u64 length + utf-8 payload). Size = 10 + n*13 + len."""
    data = text.encode("utf-8")
    chunks = [data[i : i + PAGE_CHARS] for i in range(0, len(data), PAGE_CHARS)] or [b""]
    out = [_MAGIC, struct.pack(">I", len(chunks))]
    for c in chunks:
        out.append(b"PAGE:")
        out.append(struct.pack(">Q", len(c)))
        out.append(c)
    return b"".join(out)


def pdf_page_count(pdf: bytes) -> int:
    if not pdf.startswith(_MAGIC):
        raise ValueError("not a fake PDF")
    return struct.unpack(">I", pdf[6:10])[0]


def pdf_pages(pdf: bytes) -> list[bytes]:
    n = pdf_page_count(pdf)
    pages, off = [], 10
    for _ in range(n):
        if pdf[off : off + 5] != b"PAGE:":
            raise ValueError("corrupt fake PDF")
        ln = struct.unpack(">Q", pdf[off + 5 : off + 13])[0]
        pages.append(pdf[off + 13 : off + 13 + ln])
        off += 13 + ln
    return pages


def pdf_from_page_images(images: list[bytes]) -> bytes:
    """Rebuild a 'PDF' from page images (the compress/scan rebuild
    step, app.py:288-296). Same container, image payloads."""
    out = [_MAGIC, struct.pack(">I", len(images))]
    for img in images:
        out.append(b"PAGE:")
        out.append(struct.pack(">Q", len(img)))
        out.append(img)
    return b"".join(out)


# --- "image" transforms ------------------------------------------------------


def raster_size(dpi: int) -> int:
    """Payload bytes of a page rastered at ``dpi`` (content-independent,
    like a fixed-geometry page)."""
    return (dpi * dpi) // 100


def rasterize_page(page: bytes, dpi: int) -> bytes:
    """page bytes -> pseudo-image: b'IMG:' + 16-byte digest + payload.

    STUB for fitz page.get_pixmap (fixed_signature_utils.py:67-74):
    a real impl would decode and render; the fake derives payload
    bytes from a digest stream so content is deterministic.
    """
    seed = _digest(page, str(dpi).encode())
    payload = _stream(seed, raster_size(dpi))
    return b"IMG:" + seed[:16] + payload


def jpeg_encode(img: bytes, quality: int) -> bytes:
    """pseudo-JPEG: b'JPG:' + 16-byte digest + payload scaled by q.

    STUB for PIL save(format='JPEG', quality=q).
    """
    body = img[20:]
    out_len = (len(body) * quality) // 200
    seed = _digest(img, str(quality).encode())
    return b"JPG:" + seed[:16] + _stream(seed, out_len)


def scan_effects(img: bytes, *, key: bytes, preset: str = "balanced") -> bytes:
    """Seeded scan-look perturbation (B2/B3 stand-in).

    The reference's B3 uses module-level random (fixed_signature_
    utils.py:453-558) — unsafe under Spark task retry. Here the PRNG
    seed is (key, preset), so retries reproduce bytes exactly.
    """
    seed = _digest(img, key, preset.encode())
    noise = _stream(seed, len(img) - 20 if len(img) > 20 else len(img))
    head, body = img[:20], img[20:]
    mixed = bytes(b ^ n for b, n in zip(body, noise))
    return head[:4] + seed[:16] + mixed


def a4_normalize(img: bytes) -> bytes:
    """Stamp A4 geometry metadata (595x842 pt, app.py:220-221) in
    front of the payload; size +8."""
    return img[:4] + struct.pack(">HH", 595, 842) + img[4:][: len(img) - 4] + b"A4!!"


def sign_pdf_bytes(pdf: bytes, signer: str) -> bytes:
    """Append a visible-signature trailer: b'SIG:' + hex sha256 over
    content+signer (PKCS#12 stamp stand-in). Size +68. Idempotent
    signing is the caller's concern (filename rename F3)."""
    mark = _digest(pdf, signer.encode()).hex().encode()
    return pdf + b"SIG:" + mark


_stream = _common.stream


# --- exact size model (what the SQL oracle recomputes) ----------------------


def compressed_pdf_size(n_chars: int) -> int:
    """Exact output size of compress_pdf (B1) for an n_chars document:
    header 10 + per page (13 + 20 + raster*q//200)."""
    dpi, q = _QUALITY["balanced"]
    n_pages = max(1, -(-n_chars // PAGE_CHARS))
    jpg = 20 + (raster_size(dpi) * q) // 200
    return 10 + n_pages * (13 + jpg)
