"""PDF embedded-image extraction: kernel goldens + the Spark bridge.

Fixtures are written by genpdf (image XObjects: /DCTDecode payloads from
the deterministic JPEG encoder, Flate rasters) so expected features
derive by construction; encrypted variants cover the per-object image
decrypt path."""

import numpy as np
import pytest

from livre_spark.functions.jpeg import encode_jpeg, encode_jpeg_progressive
from livre_spark.functions.multimodal import FEATURE_DIM
from livre_spark.functions.pdfimages import extract_pdf_images
from livre_spark.pdf.api import extract_text
from livre_spark.pdf.genpdf import build_pdf


def _expected_features(samples: bytes):
    hist = np.bincount(np.frombuffer(samples, dtype=np.uint8) >> 4,
                       minlength=FEATURE_DIM).astype(np.float64)
    return [float(x) for x in (hist / hist.sum()).astype(np.float32)]


def _gradient(n):
    return bytes((i * 17 + 3) & 0xFF for i in range(n))


@pytest.mark.parametrize("scheme", [None, "rc4-40", "rc4-128", "aes-128",
                                    "aes-256"])
def test_jpeg_and_raster_xobjects(scheme):
    w, h = 16, 12
    px = bytes([200, 64, 30] * (w * h))
    raster = _gradient(8 * 6 * 3)
    pdf = build_pdf(
        [b"BT /F1 9 Tf (text) Tj ET"], flate=True, encrypt=scheme,
        images=[{"name": "Im1", "width": w, "height": h,
                 "jpeg": encode_jpeg(w, h, px)},
                {"name": "Im2", "width": 8, "height": 6,
                 "samples": raster}])
    rows = {r["name"]: r for r in extract_pdf_images(pdf)}
    assert rows["Im1"]["kind"] == "jpeg"
    assert (rows["Im1"]["width"], rows["Im1"]["height"]) == (w, h)
    assert rows["Im1"]["features"] == _expected_features(px)
    assert rows["Im1"]["error"] is None
    assert rows["Im2"]["kind"] == "raster"
    assert rows["Im2"]["features"] == _expected_features(raster)
    # text extraction is untouched by the embedded images
    assert extract_text(pdf)["text"] == "\ntext"


def test_progressive_jpeg_inside_pdf():
    w, h = 19, 13
    px = bytes(min(255, x * 2 + y * 3 + c * 20)
               for y in range(h) for x in range(w) for c in range(3))
    pdf = build_pdf(
        [b"BT (x) Tj ET"],
        images=[{"name": "ImP", "width": w, "height": h,
                 "jpeg": encode_jpeg_progressive(w, h, px)}])
    (row,) = extract_pdf_images(pdf)
    assert row["kind"] == "jpeg" and row["error"] is None
    assert (row["width"], row["height"]) == (w, h)


def test_unsupported_codec_and_bad_raster_contained():
    # JPX: payload kept, decode contained as an error row
    pdf = build_pdf([b"BT (x) Tj ET"],
                    images=[{"name": "Im1", "width": 4, "height": 4,
                             "samples": _gradient(48)}])
    # equal-length swap keeps the xref offsets valid
    assert len(b"/Filter /JPXDecode ") == len(b"/Filter/FlateDecode")
    pdf = pdf.replace(b"/Filter/FlateDecode", b"/Filter /JPXDecode ", 1)
    # Length now mismatches the flate payload, but the walk still
    # reports the image with its error
    rows = extract_pdf_images(pdf)
    assert len(rows) == 1
    assert rows[0]["kind"].startswith("codec:JPX")
    assert "NotImplementedError" in rows[0]["error"]
    # raster whose size contradicts width/height
    pdf2 = build_pdf([b"BT (x) Tj ET"],
                     images=[{"name": "Im1", "width": 9, "height": 9,
                              "samples": _gradient(48),
                              "color_space": "DeviceRGB"}])
    # writer asserts nothing about w*h; decoder must
    (row2,) = extract_pdf_images(pdf2)
    assert "raster size mismatch" in (row2["error"] or "")


def test_shared_xobject_reported_once_and_cap():
    raster = _gradient(8 * 6 * 3)
    imgs = [{"name": f"Im{i}", "width": 8, "height": 6,
             "samples": raster} for i in range(5)]
    pdf = build_pdf([b"BT (x) Tj ET"], images=imgs)
    assert len(extract_pdf_images(pdf)) == 5
    assert len(extract_pdf_images(pdf, max_images=2)) == 2


def test_spark_document_images(spark):
    from livre_spark.functions.pdfimages import extract_document_images

    w, h = 8, 8
    px = bytes([10, 20, 250] * (w * h))
    pdf = build_pdf([b"BT (x) Tj ET"],
                    images=[{"name": "Im1", "width": w, "height": h,
                             "jpeg": encode_jpeg(w, h, px)}],
                    encrypt="rc4-128")
    pages = spark.createDataFrame(
        [("u1", bytearray(pdf)), ("u2", bytearray(b"%PDF-garbage"))],
        "url string, html binary")
    got = {r["url"]: r for r in
           extract_document_images(pages).collect()}
    assert got["u1"]["name"] == "Im1" and got["u1"]["kind"] == "jpeg"
    assert got["u1"]["features"] == _expected_features(px)
    assert got["u2"]["name"] is None and got["u2"]["error"] is not None


def test_spark_document_without_images_yields_no_rows(spark):
    """An image-free PDF makes zero output rows; a batch of only such
    documents is an empty batch, not a failed task."""
    from livre_spark.functions.pdfimages import extract_document_images

    pages = spark.createDataFrame(
        [("u1", bytearray(build_pdf([b"BT (x) Tj ET"])))],
        "url string, html binary")
    assert extract_document_images(pages).collect() == []
