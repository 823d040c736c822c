"""Image / audio / video columns as opaque binary + typed metadata
(SURVEY §2.12 "multimodal columns"; task brief: decode / resize /
frame-sample / feature-extract as Pandas UDFs).

STUB LAYER like multimodal/codecs.py: the container has no
PIL/ffmpeg/librosa, so the byte-level decoders are deterministic fakes
— clearly marked, swappable for real ones — while everything Spark
cares about is REAL: one Arrow-batched ``mapInPandas`` pass that builds
each opaque container (its header carries the typed metadata) and
decodes it with its kind's transform, routed in-process, and exact
integer size models that a pure-SQL oracle can recompute from the
``documents`` fixture (the same verification strategy as
plans/binary_ops.py).

Derivation (all integer, dialect-common):
- kind        = doc_id % 3 -> image | audio | video
- image       : width  = 100 + n_chars % 512
                height = 100 + (n_chars * 7) % 512
                bytes  = 16 + (width * height) // 16
- audio       : duration_ms = n_chars * 50
                bytes = 20 + duration_ms // 4
- video       : n_frames = max(1, n_chars // 40), frame = 500 bytes
                bytes = 8 + n_frames * 500
Transforms:
- resize (image): target height 64, width scaled w64 = max(1,
  (width * 64) // height); out = 16 + (w64 * 64) // 16
- frame-sample (video): every 10th frame, n_sampled = 1 +
  (n_frames - 1) // 10; out = 8 + n_sampled * 500
- features (audio): 8 ints, feature i = first 7 md5 hex chars of
  "{doc_id}:{i}" as int (md5-derived => identical in Spark/DuckDB)
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

FRAME_BYTES = 500
RESIZE_H = 64
SAMPLE_EVERY = 10

MEDIA_LONG_SCHEMA = "kind STRING, doc_id BIGINT, metric STRING, value BIGINT"


def _stream(seed: bytes, n: int) -> bytes:
    out = bytearray()
    ctr = 0
    while len(out) < n:
        out.extend(hashlib.sha256(seed + struct.pack(">Q", ctr)).digest())
        ctr += 1
    return bytes(out[:n])


def _image_bytes(doc_id: int, w: int, h: int) -> bytes:
    return b"IMGX" + struct.pack(">II", w, h) + _stream(f"img:{doc_id}".encode(), 4 + (w * h) // 16)


def _audio_bytes(doc_id: int, duration_ms: int) -> bytes:
    return b"AUDX" + struct.pack(">QI", duration_ms, 0) + _stream(f"aud:{doc_id}".encode(), 4 + duration_ms // 4)


def _video_bytes(doc_id: int, n_frames: int) -> bytes:
    head = b"VIDX" + struct.pack(">I", n_frames)
    frames = [_stream(f"vid:{doc_id}:{i}".encode(), FRAME_BYTES) for i in range(n_frames)]
    return head + b"".join(frames)


def encode_media(doc_id: int, n_chars: int) -> tuple[str, bytes]:
    """The document's fake media container, kind-routed by doc_id % 3.
    (STUB for a binaryFile scan of a real media lake.)"""
    kind = ("image", "audio", "video")[doc_id % 3]
    if kind == "image":
        return kind, _image_bytes(doc_id, 100 + n_chars % 512, 100 + (n_chars * 7) % 512)
    if kind == "audio":
        return kind, _audio_bytes(doc_id, n_chars * 50)
    return kind, _video_bytes(doc_id, max(1, n_chars // 40))


def resize_image(doc_id: int, raw: bytes) -> dict[str, int]:
    """Aspect-preserving resize to height 64 (STUB for PIL resize —
    real impl decodes, resamples, re-encodes; the fake reads the
    geometry from the container header and re-derives a payload of the
    modeled size)."""
    if raw[:4] != b"IMGX":
        raise ValueError("resize_image fed a non-image container")
    w, h = struct.unpack(">II", raw[4:12])
    w64 = max(1, (w * RESIZE_H) // h)
    out = b"IMGX" + struct.pack(">II", w64, RESIZE_H) + _stream(f"rsz:{doc_id}".encode(), 4 + (w64 * RESIZE_H) // 16)
    return {"out_width": w64, "out_height": RESIZE_H, "out_bytes": len(out)}


def sample_video_frames(raw: bytes) -> dict[str, int]:
    """Every-10th-frame sampling (STUB for ffmpeg frame extraction);
    parses the real frame layout of the fake container."""
    if raw[:4] != b"VIDX":
        raise ValueError("sample_video_frames fed a non-video container")
    nf = struct.unpack(">I", raw[4:8])[0]
    frames = [raw[8 + i * FRAME_BYTES : 8 + (i + 1) * FRAME_BYTES] for i in range(0, nf, SAMPLE_EVERY)]
    out = b"VIDX" + struct.pack(">I", len(frames)) + b"".join(frames)
    return {"n_frames": nf, "n_sampled": len(frames), "out_bytes": len(out)}


def extract_audio_features(doc_id: int, raw: bytes) -> dict[str, int]:
    """8-dim integer feature vector (STUB for an MFCC-ish extractor):
    feature i = 28-bit int from md5(f'{doc_id}:{i}') — md5-derived so a
    SQL oracle recomputes it exactly."""
    if raw[:4] != b"AUDX":
        raise ValueError("extract_audio_features fed a non-audio container")
    return {f"f{i}": int(hashlib.md5(f"{doc_id}:{i}".encode()).hexdigest()[:7], 16) for i in range(8)}


def media_metrics(docs: DataFrame) -> DataFrame:
    """All three media dataflows in ONE Arrow pass over ``(doc_id,
    n_chars)``: each row's container is built, routed by kind to its
    transform (resize / frame-sample / features), decoded there, and
    emitted as long ``MEDIA_LONG_SCHEMA`` rows."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                doc_id = int(doc_id)
                kind, raw = encode_media(doc_id, int(n_chars))
                if kind == "image":
                    metrics = resize_image(doc_id, raw)
                elif kind == "video":
                    metrics = sample_video_frames(raw)
                else:
                    metrics = extract_audio_features(doc_id, raw)
                rows += [(kind, doc_id, m, v) for m, v in metrics.items()]
            yield pd.DataFrame(rows, columns=["kind", "doc_id", "metric", "value"])

    return docs.select("doc_id", "n_chars").mapInPandas(work, MEDIA_LONG_SCHEMA)
