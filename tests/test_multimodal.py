"""Binary pipeline behavior tests (SURVEY.md §2.9, §7.5 item 4).

Golden/property checks the SQL oracle cannot express: content-hash
determinism (incl. seeded scan effects under simulated retry),
page-order preservation of the per-document scan, and codec
round-trips.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from monday_etl_automation_spark.multimodal import codecs, media, pipeline
from monday_etl_automation_spark.sources.tables import load_table

_PRESETS = ("minimum", "balanced", "high", "premium", "ultra")


def test_pdf_roundtrip():
    text = "word " * 123
    pdf = codecs.pdf_encode(text)
    pages = codecs.pdf_pages(pdf)
    assert b"".join(pages).decode() == text
    assert codecs.pdf_page_count(pdf) == len(pages) == 4


def test_scan_effects_seeded_retry_reproducible():
    img = codecs.rasterize_page(b"some page", 150)
    a = codecs.scan_effects(img, key=b"doc1:0", preset="balanced")
    b = codecs.scan_effects(img, key=b"doc1:0", preset="balanced")
    c = codecs.scan_effects(img, key=b"doc1:1", preset="balanced")
    assert a == b  # task retry reproduces bytes exactly
    assert a != c  # but different keys decorrelate
    assert len(a) == len(img)


def test_sign_is_content_addressed():
    pdf = codecs.pdf_encode("hello")
    s1 = codecs.sign_pdf_bytes(pdf, "alice")
    s2 = codecs.sign_pdf_bytes(pdf, "bob")
    assert s1[: len(pdf)] == pdf and len(s1) == len(pdf) + 68
    assert s1 != s2


def test_distributed_pipeline_deterministic(spark, sf_dir):
    preset = F.element_at(F.array(*map(F.lit, _PRESETS)), (F.col("doc_id") % 5 + 1).cast("int"))
    docs = load_table(spark, sf_dir, "documents").limit(50).withColumn("preset", preset)
    out = pipeline.binary_stages(docs, backend="stub")
    a = sorted(out.collect())
    b = sorted(out.collect())
    assert a == b and len(a) == 3 * 50
    assert {r.stage for r in a} == {"compress", "scan", "sign"}


def test_reassembly_preserves_page_order():
    """The per-document scan equals the hand-written page loop, page by
    page in order, at every preset."""
    text = "".join(f"page {i:02d} " * 25 for i in range(7))
    content = codecs.pdf_encode(text)
    for doc_id, preset in enumerate(_PRESETS):
        dpi = codecs.quality_preset(preset)[0]
        imgs = []
        for i, p in enumerate(codecs.pdf_pages(content)):
            img = codecs.rasterize_page(p, dpi)
            eff = codecs.scan_effects(img, key=f"{doc_id}:{i}".encode(), preset=preset)
            imgs.append(codecs.a4_normalize(eff))
        expected = hashlib.sha256(codecs.pdf_from_page_images(imgs)).hexdigest()
        got = hashlib.sha256(pipeline.scan_doc(codecs, content, preset, doc_id)).hexdigest()
        assert got == expected, preset


def test_media_transforms_decode_their_containers():
    """Each per-kind transform reads its own container and rejects the
    others: the fused pass routes by doc_id % 3 before decoding."""
    kind, img = media.encode_media(3, 700)
    w, h = 100 + 700 % 512, 100 + (700 * 7) % 512  # the documented size model
    w64 = (w * 64) // h
    assert kind == "image" and media.resize_image(3, img) == {
        "out_width": w64,
        "out_height": 64,
        "out_bytes": 16 + (w64 * 64) // 16,
    }
    kind, vid = media.encode_media(5, 700)
    assert kind == "video" and media.sample_video_frames(vid) == {"n_frames": 17, "n_sampled": 2, "out_bytes": 1008}
    kind, aud = media.encode_media(4, 700)
    assert kind == "audio" and len(media.extract_audio_features(4, aud)) == 8
    for decode in (lambda raw: media.resize_image(0, raw), media.sample_video_frames):
        with pytest.raises(ValueError):
            decode(aud)
    with pytest.raises(ValueError):
        media.extract_audio_features(0, img)
