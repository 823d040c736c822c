"""Scalar function surface (SURVEY.md §2.7, F1-F12).

Everything here is a ``Column -> Column`` helper built from Spark
built-ins (JVM-side, whole-stage-codegen'd) except ``unaccent``, which
has no Spark built-in and is an Arrow-vectorized pandas UDF matching
Python ``unicodedata`` NFD semantics exactly (SURVEY §7.5 item 1 —
rule matching depends on it; reference: Leyton_depot.py:133-138).
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# F1 — unaccent + normalization (Leyton_depot.py:133-138)
# ---------------------------------------------------------------------------


def _strip_accents(s: str) -> str:
    return "".join(c for c in unicodedata.normalize("NFD", s) if not unicodedata.combining(c))


@F.pandas_udf(T.StringType())
def unaccent_py(s: pd.Series) -> pd.Series:
    """NFD-decompose and drop combining marks ('SIGNÉ' -> 'SIGNE').

    Full-Unicode parity with Python unicodedata; Arrow-vectorized but
    still a Python round-trip — use :func:`unaccent` (JVM translate)
    in hot paths.
    """
    return s.map(lambda x: _strip_accents(x) if x is not None else None)


def _translate_tables() -> tuple[str, str]:
    """Build src/dst char tables for every 1-char NFD decomposition in
    the Latin-1 Supplement .. Latin Extended-B range.

    Exactly matches ``_strip_accents`` (and DuckDB ``strip_accents``)
    for these chars; chars that do not decompose (Ø, ł, …) are left
    alone by both. Built once at import, evaluated JVM-side.
    """
    src, dst = [], []
    for cp in range(0x00C0, 0x0250):
        ch = chr(cp)
        stripped = _strip_accents(ch)
        if stripped != ch and len(stripped) == 1:
            src.append(ch)
            dst.append(stripped)
    return "".join(src), "".join(dst)


_SRC, _DST = _translate_tables()


def unaccent(col: Column) -> Column:
    """JVM-side unaccent via translate; whole-stage-codegen friendly.

    Covers all decomposable Latin chars (the reference's data is
    French/Spanish filenames, Leyton_depot.py:133-138); for arbitrary
    Unicode use :func:`unaccent_py`.
    """
    return F.translate(col, _SRC, _DST)


def norm_name(col: Column) -> Column:
    """Full `_norm`: unaccent -> lower -> collapse whitespace -> trim."""
    return F.trim(F.regexp_replace(F.lower(unaccent(col)), r"\s+", " "))


# ---------------------------------------------------------------------------
# F2 — file extension from whitelist (Leyton_depot.py:140-145)
# ---------------------------------------------------------------------------

_EXT_RE = r"\.(pdf|jpe?g|png|xlsx?|docx?|txt)$"


def file_ext(name: Column) -> Column:
    """Lowercased known extension without the dot; '' when unknown."""
    return F.regexp_extract(F.lower(name), _EXT_RE, 1)


# ---------------------------------------------------------------------------
# F3 — idempotent signed-filename rename (fixed_signature_utils.py:116-124)
# ---------------------------------------------------------------------------


def trim_ws(col: Column) -> Column:
    """Python ``str.strip()`` parity: remove ALL leading/trailing
    whitespace (F.trim only strips spaces)."""
    return F.regexp_replace(col, r"^\s+|\s+$", "")


#: appended before ``.pdf`` to a signed document's name
_SIGNED_SUFFIX = " SIGNÉ"


def make_signed_filename(name: Column) -> Column:
    """Exact reference semantics (fixed_signature_utils.py:116-124):
    trim; if the suffix is already present (case-insensitive) return the
    name, appending '.pdf' only when missing; otherwise replace a
    trailing '.pdf' (any case) with '<suffix>.pdf', or append
    '<suffix>.pdf' to extensionless names."""
    return signed_filename_from_trimmed(trim_ws(name))


def signed_filename_from_trimmed(name: Column) -> Column:
    """``make_signed_filename`` minus the trim — for callers that have
    already materialized the trimmed name in a projection. Catalyst
    inlines a non-trivial argument into EVERY branch of the CASE below
    (conditional branches are outside common-subexpression
    elimination), so passing the raw trim expression here costs ~7
    regexp evaluations per row; staging it through a projection
    boundary costs one."""
    lower = F.lower(name)
    has_sfx = lower.contains(_SIGNED_SUFFIX.lower())
    is_pdf = lower.endswith(".pdf")
    base = F.substring(name, 1, F.length(name) - F.lit(4))
    return (
        F.when(has_sfx & is_pdf, name)
        .when(has_sfx, F.concat(name, F.lit(".pdf")))
        .when(is_pdf, F.concat(base, F.lit(_SIGNED_SUFFIX + ".pdf")))
        .otherwise(F.concat(name, F.lit(_SIGNED_SUFFIX + ".pdf")))
    )


# ---------------------------------------------------------------------------
# F4 — sink-safe name sanitization (Leyton_depot.py:491-495)
# ---------------------------------------------------------------------------


def sanitize_drive_name(name: Column) -> Column:
    return F.trim(F.regexp_replace(F.regexp_replace(name, r'[\\/:*?"<>|]', "-"), r"\s+", " "))


# ---------------------------------------------------------------------------
# F5/F6 — extension <-> MIME maps (Leyton_depot.py:458-515)
# ---------------------------------------------------------------------------

_MIME_BY_EXT = {
    "pdf": "application/pdf",
    "jpg": "image/jpeg",
    "jpeg": "image/jpeg",
    "png": "image/png",
    "xlsx": "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
    "xls": "application/vnd.ms-excel",
    "docx": "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
    "doc": "application/msword",
    "txt": "text/plain",
}
_EXT_BY_MIME = {
    "application/pdf": ".pdf",
    "image/jpeg": ".jpg",
    "image/png": ".png",
    "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet": ".xlsx",
    "application/vnd.ms-excel": ".xls",
    "application/vnd.openxmlformats-officedocument.wordprocessingml.document": ".docx",
    "application/msword": ".doc",
    "text/plain": ".txt",
}


def _map_literal(d: dict[str, str]) -> Column:
    pairs: list[Column] = []
    for k, v in d.items():
        pairs.append(F.lit(k))
        pairs.append(F.lit(v))
    return F.create_map(*pairs)


def mime_from_name(name: Column) -> Column:
    """Name -> MIME via the extension map, fallback passthrough (F6)."""
    return mime_from_ext(file_ext(name))


def mime_from_ext(ext: Column) -> Column:
    """MIME from a precomputed extension (one regexp per row when the
    caller stages ``file_ext`` in a projection)."""
    return F.coalesce(_map_literal(_MIME_BY_EXT)[ext], F.lit("application/octet-stream"))


def ext_from_name_or_ctype(name: Column, content_type: Column) -> Column:
    """Extension from name, else from MIME map, else '.bin' (F5)."""
    return ext_from_ext_or_ctype(file_ext(name), content_type)


def ext_from_ext_or_ctype(from_name: Column, content_type: Column) -> Column:
    """F5 fallback chain over a precomputed name-extension."""
    from_mime = _map_literal(_EXT_BY_MIME)[content_type]
    return F.coalesce(
        F.when(from_name != "", F.concat(F.lit("."), from_name)),
        from_mime,
        F.lit(".bin"),
    )


# ---------------------------------------------------------------------------
# F8/F9 — deterministic sink naming (Leyton_depot.py:241-244)
# ---------------------------------------------------------------------------


def dossier_name(client_id: Column, client_name: Column) -> Column:
    """ACT_{id}_{UPPER(name) with spaces -> underscores}."""
    return F.concat(
        F.lit("ACT_"),
        client_id.cast("string"),
        F.lit("_"),
        F.translate(F.upper(client_name), " ", "_"),
    )


def lot_name(n: Column) -> Column:
    """CLM_GE_{n:02d} lot folder name."""
    return F.concat(F.lit("CLM_GE_"), F.lpad(n.cast("string"), 2, "0"))
