"""PDF embedded-image extraction: the pdf-kernel -> multimodal bridge.

The reference rejects image codecs outright (src/filtering.rs:50-53 -
its text path cuts on /DCTDecode).  This module goes beyond: the
document walk (document.py:page_images) collects /XObject /Image
streams - decrypting per object in encrypted documents - and routes
each payload to the REAL decoders: /DCTDecode payloads are complete
JPEG files for functions/jpeg.py (baseline AND progressive), plain
filtered streams are raw rasters (Flate/LZW/... already applied by the
shared chain, including predictors).  A crawl PDF yields text AND its
images through one kernel.

Per-image failures land in the row's error column; a document-level
parse failure yields a single diagnostic row - the containment contract
every other kernel follows.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, FloatType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from ..operators.extraction import map_rows
from .multimodal import _pixel_features

_CS_COMPONENTS = {"DeviceRGB": 3, "DeviceGray": 1, "CalRGB": 3,
                  "CalGray": 1, "DeviceCMYK": 4}


def extract_pdf_images(buf: bytes, max_images: int = 64) -> list[dict]:
    """All embedded images of one PDF -> feature rows.

    Each row: ``{name, page, width, height, bpc, color_space, kind,
    n_bytes, features, error}``; ``features`` is the shared 16-bin
    histogram over decoded samples (None when decode failed, with the
    error recorded).  Raises on document-level parse failure - the
    Spark wrapper contains that into a diagnostic row.
    """
    from ..pdf.document import open_document

    rows: list[dict] = []
    for im in open_document(buf).page_images(max_images=max_images):
        row = {"name": im.get("name"), "page": im.get("page"),
               "width": im.get("width"), "height": im.get("height"),
               "bpc": im.get("bpc"), "color_space": im.get("color_space"),
               "kind": im.get("kind"), "n_bytes": len(im.get("data") or b""),
               "features": None, "error": None}
        try:
            data = im["data"]
            if im["kind"] == "jpeg":
                from .jpeg import decode_jpeg

                w, h, samples = decode_jpeg(data)
                row["width"], row["height"] = w, h
            elif im["kind"] == "raster":
                comps = _CS_COMPONENTS.get(im.get("color_space") or "")
                if comps is None:
                    raise NotImplementedError(
                        f"color space {im.get('color_space')}")
                if im.get("bpc") == 1 and comps == 1:
                    # bilevel raster (CCITT fax path): rows packed MSB
                    # first, byte-padded; expand to 0/255 gray samples
                    import numpy as np

                    w, h = im["width"] or 0, im["height"] or 0
                    stride = (w + 7) >> 3
                    if len(data) != stride * h:
                        raise ValueError("raster size mismatch")
                    bits = np.unpackbits(
                        np.frombuffer(data, dtype=np.uint8)
                        .reshape(h, stride), axis=1)[:, :w]
                    samples = (bits * 255).astype(np.uint8).tobytes()
                elif im.get("bpc") != 8:
                    raise NotImplementedError(f"BitsPerComponent "
                                              f"{im.get('bpc')}")
                else:
                    expected = ((im["width"] or 0) * (im["height"] or 0)
                                * comps)
                    if len(data) != expected:
                        raise ValueError("raster size mismatch")
                    samples = data
            else:
                raise NotImplementedError(im["kind"])
            row["features"] = _pixel_features(samples)
        except Exception as exc:  # per-image containment
            row["error"] = f"{type(exc).__name__}: {exc}"
        rows.append(row)
    return rows


PDF_IMAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("name", StringType()),
    StructField("page", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("kind", StringType()),
    StructField("n_bytes", LongType()),
    StructField("features", ArrayType(FloatType())),
    StructField("error", StringType()),
])


def pdf_image_rows(url: str, html: bytes | None,
                   max_images: int = 64) -> Iterator[dict]:
    """Row function: (url, html) -> one row per embedded image, or one
    diagnostic row when the document itself fails to parse."""
    try:
        for r in extract_pdf_images(html or b"", max_images=max_images):
            yield dict(r, url=url)
    except Exception as exc:  # document-level containment
        yield {"url": url, "n_bytes": 0,
               "error": f"{type(exc).__name__}: {exc}"}


def extract_document_images(pages: DataFrame,
                            max_images: int = 64) -> DataFrame:
    """Vectorized embedded-image extraction over (url, html) rows -
    the same ``map_rows`` shape as text extraction; a crawl pipeline
    runs both branches off one scan."""
    return map_rows(pages.select("url", "html"),
                    partial(pdf_image_rows, max_images=max_images),
                    PDF_IMAGES_SCHEMA)
