"""Library-free codec logic shared by the stub (codecs.py) and real
(codecs_real.py) backends: preset tables, pagination math, seed
derivation, the deterministic byte stream, A4 geometry, and the
sha256 signing mark.

Split out so this half is EXECUTABLE (and pytest-covered) in
containers without PyMuPDF/PIL — previously it lived inside
codecs_real.py whose tests all skip there, so a regression in e.g.
seed derivation could hide until a fully-equipped container ran it.
Everything here is pure Python + hashlib: no imports can fail.
"""

from __future__ import annotations

import hashlib
import struct

PAGE_CHARS = 200  # chars per page — shared pagination unit
A4_PT = (595, 842)  # A4 in points (reference app.py:220-221)
A4_PX_150DPI = (1240, 1754)  # A4 at 150 dpi (real backend raster target)

# (dpi, jpeg_quality) presets — mirrors the reference's table
# (fixed_signature_utils.py:47-61)
QUALITY = {
    "minimum": (90, 50),
    "balanced": (150, 85),
    "high": (200, 90),
    "premium": (250, 95),
    "ultra": (300, 100),
}


def quality_preset(name: str) -> tuple[int, int]:
    return QUALITY[name]


def digest(*parts: bytes) -> bytes:
    h = hashlib.sha256()
    for p in parts:
        h.update(p)
    return h.digest()


def stream(seed: bytes, n: int) -> bytes:
    """Deterministic byte stream from a seed (sha256 in counter mode)."""
    out = bytearray()
    ctr = 0
    while len(out) < n:
        out.extend(digest(seed, struct.pack(">Q", ctr)))
        ctr += 1
    return bytes(out[:n])


def paginate(text: str) -> list[str]:
    """Split text into page-sized CHARACTER chunks; an empty document
    still has one (empty) page.

    Used by the REAL backend (text layout is character-based). The
    stub backend intentionally paginates UTF-8 BYTES instead — its
    exact size model (what the DuckDB oracles recompute from n_chars)
    is byte-addressed — so page counts agree between backends only for
    ASCII text. The synthetic corpus is ASCII; non-ASCII documents get
    backend-dependent pagination, which is fine because no caller
    mixes backends within one pipeline run (resolve_name pins one
    backend per job)."""
    data = text or ""
    return [data[i : i + PAGE_CHARS] for i in range(0, len(data), PAGE_CHARS)] or [""]


def scan_seed(img_head: bytes, key: bytes, preset: str) -> int:
    """The real backend's scan-effects PRNG seed: derived from content
    head + per-row key + preset, NEVER wall-clock or global random —
    Spark task retries must reproduce bytes exactly (SURVEY §7.5
    item 4; the reference's module-level ``random`` is the
    anti-pattern this fixes)."""
    return int.from_bytes(digest(img_head, key, preset.encode())[:8], "big")


def sign_mark(pdf: bytes, signer: str) -> str:
    """Hex sha256 over content+signer — the visible-signature stamp
    both backends embed (PKCS#12 stand-in)."""
    return hashlib.sha256(pdf + signer.encode()).hexdigest()
