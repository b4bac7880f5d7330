"""Error-containment fuzzing: no byte stream may raise out of the kernel.

At 10^12-document scale every malformed input WILL occur; the contract is
``extract_text`` always returns a row (with ``error`` set), never throws
(api.py error containment, SURVEY.md section 4.2-3).
"""

import pytest
from hypothesis import given, settings, strategies as st

from livre_spark.pdf.api import extract_text
from livre_spark.pdf.genpdf import build_pdf, fixture_cases, generate_row


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=2048))
def test_random_bytes_never_raise(data):
    result = extract_text(data)
    assert isinstance(result["text"], str)
    assert result["error"] is not None or result["text"] == ""


@settings(max_examples=150, deadline=None)
@given(st.integers(min_value=0, max_value=10_000), st.integers(0, 3))
def test_truncated_valid_pdfs_never_raise(i, frac):
    row = generate_row(i % 50)
    pdf = row["html"]
    cut = len(pdf) * (frac + 1) // 5
    result = extract_text(pdf[:cut])
    assert isinstance(result["text"], str)


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_byte_flips_never_raise(data):
    pdf = build_pdf([b"BT /F1 12 Tf 72 720 Td (fuzz target) Tj ET"])
    pos = data.draw(st.integers(0, len(pdf) - 1))
    val = data.draw(st.integers(0, 255))
    mutated = pdf[:pos] + bytes([val]) + pdf[pos + 1:]
    result = extract_text(mutated)
    assert isinstance(result["text"], str)
    assert isinstance(result["spans"], list)


def test_fixture_pdfs_deterministic_under_repeat():
    for case in fixture_cases()[:8]:
        r1 = extract_text(case["pdf"])
        r2 = extract_text(case["pdf"])
        assert r1["text"] == r2["text"]
        assert r1["spans"] == r2["spans"]


# --- media decoder fuzz (crawl engines live on poisoned payloads) -----------

_MEDIA_MAGICS = [b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff", b"GIF89a",
                 b"GIF87a", b"II*\x00", b"MM\x00*", b"RIFFxxxxWAVE",
                 b"RIFFxxxxWEBPVP8L\x10\x00\x00\x00\x2f",
                 b"P6\n", b"P5\n", b"BM", b""]


@settings(max_examples=300, deadline=None)
@given(st.sampled_from(_MEDIA_MAGICS), st.binary(max_size=1024))
def test_media_decode_random_bytes_contained(magic, tail):
    """decode_image on arbitrary bytes (magic-prefixed to reach every
    decoder) either returns a valid triple or raises a CONTAINED error
    (ValueError family / NotImplementedError) - never crashes, hangs or
    leaks an unexpected exception type."""
    from livre_spark.functions.multimodal import decode_image
    try:
        w, h, feats = decode_image(magic + tail)
        assert w >= 1 and h >= 1 and len(feats) == 16
    except (ValueError, NotImplementedError):
        pass  # ImageDecodeError/JpegError/GifError are ValueErrors


@settings(max_examples=120, deadline=None)
@given(st.data())
def test_media_byte_flips_contained(data):
    """Single byte flips in VALID media files stay contained."""
    from livre_spark.functions.genimg import (
        encode_bmp, encode_png, encode_tiff, encode_wav,
    )
    from livre_spark.functions.gif import encode_gif
    from livre_spark.functions.jpeg import (
        encode_jpeg, encode_jpeg_progressive,
    )
    from livre_spark.functions.multimodal import decode_image
    from livre_spark.functions.webp import encode_webp_lossless

    px = bytes((i * 17 + 3) & 0xFF for i in range(9 * 7 * 3))
    gray = px[: 9 * 7]
    palette = bytes(range(48))
    idx = bytes(i % 16 for i in range(9 * 7))
    files = [
        encode_png(9, 7, px), encode_png(9, 7, px, interlace=1),
        encode_jpeg(9, 7, px), encode_jpeg_progressive(9, 7, px),
        encode_gif(9, 7, idx, palette),
        encode_tiff(9, 7, px, compression="lzw", predictor=2),
        encode_tiff(9, 7, px, compression="packbits", tile=(4, 4)),
        encode_bmp(9, 7, px),
        encode_wav(8000, 1, [i * 100 - 3000 for i in range(60)]),
        encode_webp_lossless(9, 7, px, use_lz77=True, cache_bits=3),
        b"P5\n9 7\n255\n" + gray,
    ]
    buf = bytearray(data.draw(st.sampled_from(files)))
    pos = data.draw(st.integers(0, len(buf) - 1))
    buf[pos] ^= data.draw(st.integers(1, 255))
    try:
        w, h, feats = decode_image(bytes(buf))
        assert w >= 1 and h >= 1 and len(feats) == 16
    except (ValueError, NotImplementedError):
        pass


@settings(max_examples=120, deadline=None)
@given(st.data())
def test_pdf_image_extraction_byte_flips_contained(data):
    """Byte flips in an image-bearing PDF: extract_pdf_images either
    reports rows (with contained per-image errors) or raises the pdf
    kernel's own contained error types."""
    from livre_spark.functions.jpeg import encode_jpeg
    from livre_spark.functions.pdfimages import extract_pdf_images
    from livre_spark.pdf.errors import CutError, ParseError
    from livre_spark.pdf.genpdf import build_pdf

    px = bytes([200, 64, 30] * (8 * 8))
    pdf = bytearray(build_pdf(
        [b"BT (x) Tj ET"],
        images=[{"name": "Im1", "width": 8, "height": 8,
                 "jpeg": encode_jpeg(8, 8, px)},
                {"name": "Im2", "width": 4, "height": 4,
                 "samples": bytes(48)}]))
    pos = data.draw(st.integers(0, len(pdf) - 1))
    pdf[pos] ^= data.draw(st.integers(1, 255))
    try:
        rows = extract_pdf_images(bytes(pdf))
        for r in rows:
            assert (r["features"] is None) == (r["error"] is not None)
    except (ParseError, CutError, ValueError, NotImplementedError):
        pass


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=256),
       st.sampled_from([-1, 0, 1, 4]),
       st.integers(1, 80))
def test_ccitt_decode_random_bytes_contained(data, k, columns):
    """decode_ccitt on arbitrary bits: decodes or raises ParseError -
    never crashes, never loops (the zero-fill break and the rows bound
    guard both exits)."""
    from livre_spark.pdf.ccitt import decode_ccitt
    from livre_spark.pdf.errors import ParseError
    try:
        out = decode_ccitt(data, columns=columns, rows=0, k=k)
        assert len(out) % ((columns + 7) // 8) == 0
    except ParseError:
        pass


@settings(max_examples=120, deadline=None)
@given(st.data())
def test_ccitt_byte_flips_contained(data):
    """Single byte flips in a VALID fax stream stay contained."""
    from livre_spark.pdf.ccitt import decode_ccitt, encode_ccitt
    from livre_spark.pdf.errors import ParseError

    img = bytes((i * 37 + 11) & 0xFF for i in range(9 * 5))
    k = data.draw(st.sampled_from([-1, 0, 4]))
    enc = bytearray(encode_ccitt(img, 72, 5, k=k))
    pos = data.draw(st.integers(0, len(enc) - 1))
    enc[pos] ^= data.draw(st.integers(1, 255))
    try:
        decode_ccitt(bytes(enc), columns=72, rows=5, k=k)
    except ParseError:
        pass
