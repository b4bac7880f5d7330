"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The Spark-side machinery - schema, Arrow batching, partitioning, UDF
signatures - is format-agnostic.  ``decode_image`` really decodes
**PNG** (1/2/4/8/16-bit gray/RGB/palette/alpha, Adam7 interlace, multi-chunk
IDAT, CRC-checked, all five row filters via the shared ``pdf.filters``
PNG unfilter), **JPEG** (functions/jpeg.py: baseline AND
progressive/SOF2, Huffman + IDCT + YCbCr, 4:4:4/4:2:2/4:2:0, restart
markers), **GIF** (functions/gif.py:
LSB-first LZW, interlace, first frame of animations), **PPM/PGM**
(binary P6/P5), **BMP** (24-bit uncompressed), **TIFF** (strips AND
tiles, 8/16-bit, none/LZW/PackBits/CCITT-fax, horizontal predictor,
either endianness, multi-page IFD chains via ``decode_tiff_page``),
**WebP lossless** (VP8L, functions/webp.py), **WebP lossy** (VP8 key
frame, functions/vp8.py - RFC 6386 boolean decoder, intra prediction,
loop filter) and **WAV** audio (RIFF PCM 8/16-bit; the metadata slots
carry sample rate / channels) in pure Python - no PIL/libvips in this
container.  Remaining formats (arithmetic JPEG; JPEG 2000) raise
``NotImplementedError``,
contained into the ``error`` column like every other per-row failure -
with ``image_dimensions`` still recovering header width/height for
those rows.  ``fake=True`` keeps the
deterministic raw-byte-histogram path used by the DuckDB oracle twin
(SQL can mirror byte histograms, not inflate).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator
from functools import partial

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, FloatType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from ..operators.extraction import map_rows
from ..pdf.filters import apply_predictor

FEATURE_DIM = 16

MEDIA_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("n_bytes", LongType()),
    StructField("width", IntegerType()),      # stub metadata
    StructField("height", IntegerType()),
    StructField("features", ArrayType(FloatType())),
    StructField("error", StringType()),
])


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


class ImageDecodeError(ValueError):
    """Malformed image payload - contained into the error column."""


# Adam7 pass geometry: (x origin, y origin, x step, y step) per pass
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _unfilter_subimage(raw: bytes, off: int, pw: int, ph: int, ch: int,
                       depth: int) -> tuple[np.ndarray, int]:
    """Unfilter one (sub)image of ``ph`` rows x ``pw`` pixels starting at
    ``off`` in the inflated stream; returns (ph, pw, ch) uint8 samples
    and the new offset.  16-bit depth keeps the high byte (the PNG byte
    order is big-endian, so a stride-2 view is the standard 8-bit
    reduction); sub-byte depths (1/2/4, single-channel only) unpack
    MSB-first per row - VALUES ARE RAW (palette indices or tiny gray
    levels); the caller scales gray to 8-bit."""
    row_bytes = (ch * depth * pw + 7) // 8
    sub_len = ph * (1 + row_bytes)
    sub = raw[off : off + sub_len]
    if len(sub) != sub_len:
        raise ImageDecodeError("pixel buffer size mismatch")
    try:
        flat = apply_predictor(sub, 10, colors=ch, bpc=depth, columns=pw)
    except Exception as exc:
        raise ImageDecodeError(f"row unfilter: {exc}") from exc
    if depth < 8:
        rows = np.frombuffer(flat, dtype=np.uint8).reshape(ph, row_bytes)
        bits = np.unpackbits(rows, axis=1)  # MSB-first per byte = spec
        per = 8 // depth
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
        samples = (bits[:, : row_bytes * 8]
                   .reshape(ph, row_bytes * per, depth) * weights)
        arr = samples.sum(axis=2).astype(np.uint8)[:, :pw, None]
        return arr, off + sub_len
    arr = np.frombuffer(flat, dtype=np.uint8).reshape(
        ph, pw, ch * (depth // 8))
    if depth == 16:
        arr = arr[:, :, ::2]
    return arr, off + sub_len


def _decode_png(buf: bytes) -> tuple[int, int, bytes]:
    """Pure-Python PNG: IHDR + PLTE + multi-chunk IDAT -> zlib inflate ->
    PNG row unfilter (shared with pdf/filters.py predictors) -> samples.

    All five depths (16-bit reduces to the high byte; 1/2/4-bit gray
    and palette unpack MSB-first, gray scaled exactly to 8-bit),
    interlace 0 and 1 (Adam7 - each of the seven passes is an
    independently filtered sub-image, unfiltered separately and
    scattered into place); palette images are expanded to RGB so the
    features see colors, not indices."""
    if buf[:8] != _PNG_SIG:
        raise ImageDecodeError("bad PNG signature")
    pos = 8
    width = height = None
    color_type = depth = interlace = 0
    palette = b""
    idat = bytearray()
    while pos + 8 <= len(buf):
        (length,) = struct.unpack(">I", buf[pos : pos + 4])
        ctype = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(buf):
            raise ImageDecodeError("truncated chunk")
        (crc,) = struct.unpack(">I", buf[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + data) != crc:
            raise ImageDecodeError(f"bad CRC in {ctype!r}")
        pos += 12 + length
        if ctype == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = \
                struct.unpack(">IIBBBBB", data)
            if depth not in (1, 2, 4, 8, 16):
                raise ImageDecodeError(f"PNG bit depth {depth}")
            if color_type not in _PNG_CHANNELS:
                raise ImageDecodeError(f"PNG color type {color_type}")
            if depth == 16 and color_type == 3:
                raise ImageDecodeError("16-bit palette PNG is invalid")
            if depth < 8 and color_type not in (0, 3):
                raise ImageDecodeError(
                    f"sub-byte depth with color type {color_type}")
            if comp != 0 or filt != 0:
                raise ImageDecodeError("bad IHDR compression/filter")
            if interlace not in (0, 1):
                raise ImageDecodeError(f"PNG interlace {interlace}")
        elif ctype == b"PLTE":
            palette = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise ImageDecodeError("missing IHDR/IDAT")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ImageDecodeError(f"IDAT inflate: {exc}") from exc
    ch = _PNG_CHANNELS[color_type]
    if interlace == 0:
        arr, off = _unfilter_subimage(raw, 0, width, height, ch, depth)
        samples = arr.tobytes()
    else:
        out = np.zeros((height, width, ch), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            arr, off = _unfilter_subimage(raw, off, pw, ph, ch, depth)
            out[y0::dy, x0::dx, :] = arr
        samples = out.tobytes()
    if off != len(raw):
        raise ImageDecodeError("pixel buffer size mismatch")
    if depth < 8 and color_type == 0:
        # scale tiny gray levels to 8-bit (255 divides exactly for
        # 1/3/15, so this is the spec's sample expansion, not a guess)
        factor = 255 // ((1 << depth) - 1)
        samples = (np.frombuffer(samples, np.uint8) * factor) \
            .astype(np.uint8).tobytes()
    if color_type == 3:
        if len(palette) < 3:
            raise ImageDecodeError("palette image without PLTE")
        pal = np.frombuffer(palette, dtype=np.uint8)
        pal = pal[: (len(pal) // 3) * 3].reshape(-1, 3)
        idx = np.frombuffer(samples, dtype=np.uint8)
        if idx.max(initial=0) >= len(pal):
            raise ImageDecodeError("palette index out of range")
        samples = pal[idx].tobytes()
    return width, height, samples


def _decode_ppm(buf: bytes) -> tuple[int, int, bytes]:
    """Binary PPM (P6) / PGM (P5), maxval <= 255, '#' comments."""
    magic = buf[:2]
    ch = 3 if magic == b"P6" else 1
    fields: list[int] = []
    i = 2
    n = len(buf)
    while len(fields) < 3 and i < n:
        c = buf[i]
        if c == 0x23:  # '#' comment to end of line
            while i < n and buf[i] not in (0x0A, 0x0D):
                i += 1
        elif c in b" \t\r\n":
            i += 1
        elif 0x30 <= c <= 0x39:
            j = i
            while j < n and 0x30 <= buf[j] <= 0x39:
                j += 1
            fields.append(int(buf[i:j]))
            i = j
        else:
            raise ImageDecodeError(f"bad PPM header byte 0x{c:02x}")
    if len(fields) < 3:
        raise ImageDecodeError("truncated PPM header")
    width, height, maxval = fields
    if not (0 < maxval < 256):
        raise NotImplementedError(f"PPM maxval {maxval}")
    # exactly one whitespace byte after maxval per spec, but writers on
    # Windows emit CRLF - tolerate the pair; anything non-whitespace is a
    # detected error, not a one-byte raster shift
    if i >= n or buf[i] not in b" \t\r\n":
        raise ImageDecodeError("missing whitespace after PPM maxval")
    if buf[i : i + 2] == b"\r\n":
        i += 1
    i += 1
    samples = buf[i : i + width * height * ch]
    if len(samples) != width * height * ch:
        raise ImageDecodeError("truncated PPM pixels")
    return width, height, samples


def _decode_bmp(buf: bytes) -> tuple[int, int, bytes]:
    """24-bit uncompressed BITMAPINFOHEADER BMP (bottom-up or top-down)."""
    if len(buf) < 54:
        raise ImageDecodeError("truncated BMP header")
    (pixel_off,) = struct.unpack_from("<I", buf, 10)
    (hdr_size,) = struct.unpack_from("<I", buf, 14)
    if hdr_size < 40:
        raise NotImplementedError(f"BMP core header {hdr_size}")
    width, height = struct.unpack_from("<ii", buf, 18)
    (bpp,) = struct.unpack_from("<H", buf, 28)
    (compression,) = struct.unpack_from("<I", buf, 30)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"BMP bpp={bpp} compression={compression}")
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height <= 0:
        raise ImageDecodeError("bad BMP dimensions")
    row_len = width * 3
    stride = row_len + ((-row_len) % 4)
    if pixel_off + stride * height > len(buf):
        raise ImageDecodeError("truncated BMP pixels")
    out = bytearray()
    rows = range(height) if top_down else range(height - 1, -1, -1)
    for r in rows:
        row = buf[pixel_off + r * stride : pixel_off + r * stride + row_len]
        bgr = np.frombuffer(row, dtype=np.uint8).reshape(-1, 3)
        out += bgr[:, ::-1].tobytes()  # BGR -> RGB
    return width, height, bytes(out)


def _pixel_features(samples: bytes) -> list[float]:
    """16-bin high-nibble histogram over decoded sample bytes, normalized."""
    hist = np.bincount(np.frombuffer(samples, dtype=np.uint8) >> 4,
                       minlength=FEATURE_DIM).astype(np.float64)
    total = hist.sum() or 1.0
    return [float(x) for x in (hist / total).astype(np.float32)]


def _packbits_decode(data: bytes) -> bytes:
    """TIFF PackBits (Apple RLE): n in 0..127 -> copy n+1 literals;
    n in -127..-1 -> repeat next byte 1-n times; -128 is a no-op."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        c = data[i]
        i += 1
        if c < 128:
            out += data[i : i + c + 1]
            if i + c + 1 > n:
                raise ImageDecodeError("truncated PackBits literal")
            i += c + 1
        elif c > 128:
            if i >= n:
                raise ImageDecodeError("truncated PackBits run")
            out += bytes([data[i]]) * (257 - c)
            i += 1
        # c == 128: no-op
    return bytes(out)


def _tiff_ifd_offsets(buf: bytes, max_pages: int = 1024) -> list[int]:
    """All IFD offsets following the next-IFD chain (cycle-guarded);
    one IFD per page - scanned/fax documents are routinely
    multi-page."""
    if buf[:4] == b"II*\x00":
        e = "<"
    elif buf[:4] == b"MM\x00*":
        e = ">"
    else:
        raise ImageDecodeError("bad TIFF signature")
    if len(buf) < 8:
        raise ImageDecodeError("truncated TIFF header")
    offs: list[int] = []
    seen: set[int] = set()
    (off,) = struct.unpack_from(e + "I", buf, 4)
    while off and off not in seen and len(offs) < max_pages:
        if off + 2 > len(buf):
            raise ImageDecodeError("truncated IFD")
        seen.add(off)
        offs.append(off)
        (n_tags,) = struct.unpack_from(e + "H", buf, off)
        nxt = off + 2 + 12 * n_tags
        if nxt + 4 > len(buf):
            break  # no room for a next pointer: chain ends here
        (off,) = struct.unpack_from(e + "I", buf, nxt)
    if not offs:
        raise ImageDecodeError("truncated IFD")
    return offs


def tiff_page_count(buf: bytes) -> int:
    """Number of pages (IFDs) in a TIFF file."""
    return len(_tiff_ifd_offsets(buf))


def decode_tiff_page(buf: bytes, page: int) -> tuple[int, int, bytes]:
    """Decode one page of a multi-page TIFF (the scanned/fax-document
    norm: one IFD per page); page 0 equals the ``decode_image`` path."""
    return _decode_tiff(buf, page)


def _tiff_tags(buf: bytes, page: int = 0) -> dict[int, list[int]]:
    """One page's IFD tag table (integer-typed tags only)."""
    e = "<" if buf[:2] == b"II" else ">"
    offs = _tiff_ifd_offsets(buf)
    if not 0 <= page < len(offs):
        raise ImageDecodeError(f"TIFF page {page} of {len(offs)}")
    ifd_off = offs[page]
    (n_tags,) = struct.unpack_from(e + "H", buf, ifd_off)
    tags: dict[int, list[int]] = {}
    sizes = {1: 1, 2: 1, 3: 2, 4: 4}
    for t in range(n_tags):
        off = ifd_off + 2 + 12 * t
        if off + 12 > len(buf):
            raise ImageDecodeError("truncated IFD entry")
        tag, typ, count = struct.unpack_from(e + "HHI", buf, off)
        if typ not in sizes:
            continue  # rationals etc: not needed for the layout tags
        size = sizes[typ] * count
        if size <= 4:
            voff = off + 8
        else:
            (voff,) = struct.unpack_from(e + "I", buf, off + 8)
        if voff + size > len(buf):
            raise ImageDecodeError("truncated tag value")
        fmt = {1: "B", 2: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = list(struct.unpack_from(e + fmt * count, buf, voff))
    return tags


def _tiff_decompress(raw: bytes, compression: int) -> bytes:
    from ..pdf.filters import lzw_decode

    if compression == 1:
        return raw
    if compression == 5:
        try:
            return lzw_decode(raw)
        except Exception as exc:
            raise ImageDecodeError(f"strip LZW: {exc}") from exc
    if compression == 32773:
        return _packbits_decode(raw)
    raise NotImplementedError(f"TIFF compression {compression}")


def _decode_tiff_fax(buf: bytes, tags: dict, one,
                     compression: int) -> tuple[int, int, bytes]:
    """Bilevel fax TIFF (the scanned-document norm): compression 2
    (Modified Huffman, every row byte-aligned per TIFF 6.0), 3 (T.4 G3,
    T4Options bit 0 = 2-D, bit 2 = byte-aligned EOLs) and 4 (T.6 G4,
    reusing pdf/ccitt.py).  Strip layout; white decodes to 255."""
    from ..pdf.ccitt import decode_ccitt
    from ..pdf.errors import ParseError

    width, height = one(256), one(257)
    if one(277, 1) != 1 or any(b != 1 for b in tags.get(258, [1])):
        raise NotImplementedError("fax TIFF must be 1-bit single-sample")
    if one(262, 0) != 0:
        # CCITT runs code white/black directly; photometric 0
        # (min-is-white) is the only coherent pairing
        raise NotImplementedError("fax TIFF photometric != 0")
    if 322 in tags or 323 in tags:
        raise NotImplementedError("tiled fax TIFF")
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ImageDecodeError("missing strip layout")
    rows_per_strip = one(278, height)
    if compression == 2:
        k, byte_align = 0, True
    elif compression == 3:
        t4 = one(292, 0)
        k, byte_align = (4 if t4 & 1 else 0), bool(t4 & 4)
    else:
        k, byte_align = -1, bool(one(293, 0) & 4)
    fill_order = one(266, 1)
    if fill_order not in (1, 2):
        raise ImageDecodeError(f"bad FillOrder {fill_order}")
    stride = (width + 7) >> 3
    out = bytearray()
    for si, (soff, scnt) in enumerate(zip(offsets, counts)):
        raw = buf[soff : soff + scnt]
        if len(raw) != scnt:
            raise ImageDecodeError("truncated strip")
        if fill_order == 2:
            # fax-originated scans store code bits LSB-first within
            # each byte; bit-reverse back to the T.4/T.6 MSB order
            raw = np.packbits(np.unpackbits(
                np.frombuffer(raw, dtype=np.uint8)
                .reshape(-1, 1), axis=1, bitorder="little")).tobytes()
        n_rows = min(rows_per_strip, height - si * rows_per_strip)
        try:
            packed = decode_ccitt(raw, columns=width, rows=n_rows, k=k,
                                  byte_align=byte_align)
        except ParseError as exc:
            raise ImageDecodeError(f"fax strip: {exc}") from exc
        # decode_ccitt's white bit is 1 -> white sample 255
        bits_arr = np.unpackbits(
            np.frombuffer(packed, dtype=np.uint8)
            .reshape(n_rows, stride), axis=1)[:, :width]
        out += (bits_arr * 255).astype(np.uint8).tobytes()
    if len(out) != height * width:
        raise ImageDecodeError("pixel buffer size mismatch")
    return width, height, bytes(out)


def _decode_tiff(buf: bytes, page: int = 0,
                 max_pixels: int = 1 << 26) -> tuple[int, int, bytes]:
    """Baseline + tiled TIFF: little/big-endian, any page of the IFD
    chain (``decode_tiff_page``/``tiff_page_count`` expose the
    multi-page surface - scanned/fax documents' standard shape), strip
    (273/279) or tile (322-325) layout; compression none(1) / LZW(5,
    the MSB-first variant shared with PDF LZWDecode incl. its
    EarlyChange width rule) / PackBits(32773); horizontal-differencing
    predictor 2 via the shared pdf.filters predictor (per strip/tile
    row); 8/16-bit gray or RGB(A); chunky (284=1) or planar (284=2,
    strip layout - separate component planes interleaved after
    decode).  Exotic photometrics and planar tiles stay honest
    NotImplementedError boundaries."""
    from ..pdf.filters import apply_predictor

    tags = _tiff_tags(buf, page)

    def one(tag, default=None):
        v = tags.get(tag)
        if not v:  # absent OR hostile zero-count entry
            if default is None:
                raise ImageDecodeError(f"missing TIFF tag {tag}")
            return default
        return v[0]
    width, height = one(256), one(257)
    if width < 1 or height < 1:
        raise ImageDecodeError("bad TIFF dimensions")
    if width * height > max_pixels:
        # decompression-bomb guard (same rule as decode_ccitt /
        # decode_vp8l): dims come straight from attacker-controlled
        # header tags, and the tile path preallocates the full raster -
        # a hostile 65536x65536 header would be a multi-GB allocation
        # before any pixel data is validated
        raise ImageDecodeError(
            f"TIFF {width}x{height} exceeds max_pixels bound")
    spp = one(277, 1)
    bits = tags.get(258) or [8] * spp
    compression = one(259, 1)
    if compression in (2, 3, 4):
        return _decode_tiff_fax(buf, tags, one, compression)
    if all(b == 16 for b in bits):
        sample_bytes = 2  # reduced to the high byte after assembly
    elif all(b == 8 for b in bits):
        sample_bytes = 1
    else:
        raise NotImplementedError(f"TIFF bit depths {bits}")
    if spp not in (1, 3, 4):
        raise NotImplementedError(f"TIFF {spp} samples/pixel")
    planar = one(284, 1)
    if planar not in (1, 2):
        raise NotImplementedError(f"TIFF planar config {planar}")
    if planar == 2 and (322 in tags or 323 in tags):
        raise NotImplementedError("planar tiled TIFF")
    # PhotometricInterpretation: 0 WhiteIsZero (fax/scanner gray,
    # inverted below), 1 BlackIsZero, 2 RGB; palette(3)/CMYK(5)/YCbCr(6)
    # etc. stay honest boundaries
    photometric = one(262, 1 if spp == 1 else 2)
    if photometric not in (0, 1, 2):
        raise NotImplementedError(f"TIFF photometric {photometric}")
    predictor = one(317, 1)
    if predictor == 2 and sample_bytes != 1:
        # the 8-bit TIFF differencing predictor is byte-wise; 16-bit
        # differencing operates on 16-bit lanes - keep the honest
        # boundary rather than corrupt silently
        raise NotImplementedError("16-bit TIFF predictor")
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor}")
    row_bytes = width * spp * sample_bytes
    if 322 in tags or 323 in tags:
        # tile layout (the modern writer default): fixed-size blocks
        # left-to-right, top-to-bottom, edge tiles padded to full size
        tile_w, tile_h = one(322), one(323)
        if tile_w < 1 or tile_h < 1:
            raise ImageDecodeError("bad tile size")
        offsets = tags.get(324)
        counts = tags.get(325)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ImageDecodeError("missing tile layout")
        across = (width + tile_w - 1) // tile_w
        down = (height + tile_h - 1) // tile_h
        if len(offsets) != across * down:
            raise ImageDecodeError("tile count mismatch")
        tile_row_bytes = tile_w * spp * sample_bytes
        out = bytearray(height * row_bytes)
        for ti, (toff, tcnt) in enumerate(zip(offsets, counts)):
            raw = buf[toff : toff + tcnt]
            if len(raw) != tcnt:
                raise ImageDecodeError("truncated tile")
            tile = _tiff_decompress(raw, compression)
            if len(tile) < tile_h * tile_row_bytes:
                raise ImageDecodeError("short tile")
            tile = tile[: tile_h * tile_row_bytes]
            if predictor == 2:
                tile = apply_predictor(tile, 2, colors=spp, bpc=8,
                                       columns=tile_w)
            tx, ty = ti % across, ti // across
            vis_bytes = (min(tile_w, width - tx * tile_w)
                         * spp * sample_bytes)
            x_byte = tx * tile_w * spp * sample_bytes
            for r in range(min(tile_h, height - ty * tile_h)):
                dst = (ty * tile_h + r) * row_bytes + x_byte
                src = r * tile_row_bytes
                out[dst : dst + vis_bytes] = tile[src : src + vis_bytes]
    elif planar == 2:
        # PlanarConfiguration=2: separate component planes, strip list
        # plane-major (all of plane 0's strips, then plane 1's, ...);
        # each plane decodes like a 1-sample image, then interleaves
        offsets = tags.get(273)
        counts = tags.get(279)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ImageDecodeError("missing strip layout")
        rows_per_strip = one(278, height)
        if rows_per_strip < 1:
            raise ImageDecodeError("bad rows per strip")
        per_plane = (height + rows_per_strip - 1) // rows_per_strip
        if len(offsets) != spp * per_plane:
            raise ImageDecodeError("planar strip count mismatch")
        plane_row_bytes = width * sample_bytes
        planes = []
        for s in range(spp):
            plane = bytearray()
            for si in range(per_plane):
                soff = offsets[s * per_plane + si]
                scnt = counts[s * per_plane + si]
                raw = buf[soff : soff + scnt]
                if len(raw) != scnt:
                    raise ImageDecodeError("truncated strip")
                strip = _tiff_decompress(raw, compression)
                n_rows = min(rows_per_strip,
                             height - si * rows_per_strip)
                if len(strip) < n_rows * plane_row_bytes:
                    raise ImageDecodeError("short strip")
                strip = strip[: n_rows * plane_row_bytes]
                if predictor == 2:
                    strip = apply_predictor(strip, 2, colors=1, bpc=8,
                                            columns=width)
                plane += strip
            planes.append(plane)
        out = np.stack(
            [np.frombuffer(bytes(p), np.uint8)
             .reshape(height, width, sample_bytes) for p in planes],
            axis=2).tobytes()
    else:
        offsets = tags.get(273)
        counts = tags.get(279)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ImageDecodeError("missing strip layout")
        rows_per_strip = one(278, height)
        out = bytearray()
        for si, (soff, scnt) in enumerate(zip(offsets, counts)):
            raw = buf[soff : soff + scnt]
            if len(raw) != scnt:
                raise ImageDecodeError("truncated strip")
            strip = _tiff_decompress(raw, compression)
            n_rows = min(rows_per_strip, height - si * rows_per_strip)
            if len(strip) < n_rows * row_bytes:
                raise ImageDecodeError("short strip")
            strip = strip[: n_rows * row_bytes]
            if predictor == 2:
                strip = apply_predictor(strip, 2, colors=spp, bpc=8,
                                        columns=width)
            out += strip
    if len(out) != height * row_bytes:
        raise ImageDecodeError("pixel buffer size mismatch")
    if sample_bytes == 2:
        # 16-bit samples reduce to the high byte, endian-aware
        endian = "<" if buf[:2] == b"II" else ">"
        a16 = np.frombuffer(bytes(out), dtype=endian + "u2")
        out = (a16 >> 8).astype(np.uint8).tobytes()
    if photometric == 0:  # WhiteIsZero: invert to the common convention
        out = (255 - np.frombuffer(bytes(out), np.uint8)).tobytes()
    # RGBA keeps its alpha channel in the sample stream, like PNG
    return width, height, bytes(out)


def _decode_wav(buf: bytes) -> tuple[int, int, bytes]:
    """RIFF/WAVE PCM (8-bit unsigned or 16-bit signed LE) -> (sample
    rate, n_channels, samples reduced to unsigned 8-bit).  The reduction
    (16-bit keeps the high byte, offset to unsigned) feeds the same
    16-bin histogram featurizer as images - audio rows get real decoded
    features, not byte noise."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ImageDecodeError("bad WAV signature")
    pos = 12
    fmt = None
    data = None
    n = len(buf)
    while pos + 8 <= n:
        cid = buf[pos : pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ImageDecodeError("truncated WAV chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ImageDecodeError("missing fmt/data chunk")
    if len(fmt) < 16:
        raise ImageDecodeError("short fmt chunk")
    audio_fmt, channels, rate, _br, _ba, bits = struct.unpack_from(
        "<HHIIHH", fmt, 0)
    if audio_fmt != 1:  # PCM only; float/ADPCM need real codecs
        raise NotImplementedError(f"WAV format {audio_fmt}")
    if channels < 1 or rate < 1:
        raise ImageDecodeError("bad WAV fmt")
    if bits == 8:
        samples = data
    elif bits == 16:
        arr = np.frombuffer(data[: len(data) // 2 * 2], dtype="<i2")
        samples = ((arr.astype(np.int32) >> 8) + 128).astype(
            np.uint8).tobytes()
    else:
        raise NotImplementedError(f"WAV bit depth {bits}")
    return rate, channels, samples


def decode_image(buf: bytes, fake: bool = False):
    """Decode an image/audio payload to (width, height, feature vector).

    Magic-byte dispatch, all pure-Python decoders in this repo: PNG
    (all filters/depths/Adam7), JPEG (baseline + progressive +
    CMYK/YCCK, functions/jpeg.py), GIF (incl. animated compositing,
    functions/gif.py), TIFF (strips + tiles + CCITT fax,
    LZW/flate/packbits), WebP lossless (VP8L, functions/webp.py), WAV
    (PCM; width/height carry rate/channels), PPM/PGM, BMP24.  Formats
    with no decoder here (lossy WebP, JPEG 2000, ...) raise
    ``NotImplementedError``.  ``fake=True`` keeps the deterministic
    raw-byte-histogram path - the DuckDB-mirrorable oracle contract -
    with dimensions derived from the payload length.
    """
    if fake:
        hist = np.bincount(np.frombuffer(buf, dtype=np.uint8) >> 4,
                           minlength=FEATURE_DIM).astype(np.float64)
        total = hist.sum() or 1.0
        features = (hist / total).astype(np.float32)
        # fake dimensions derived deterministically from the payload
        width = int(len(buf) % 640) + 1
        height = int((len(buf) // 640) % 480) + 1
        return width, height, [float(x) for x in features]
    if buf[:8] == _PNG_SIG:
        w, h, samples = _decode_png(buf)
    elif buf[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg
        w, h, samples = decode_jpeg(buf)
    elif buf[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import decode_gif
        w, h, samples = decode_gif(buf)
    elif buf[:4] in (b"II*\x00", b"MM\x00*"):
        w, h, samples = _decode_tiff(buf)
    elif buf[:4] == b"RIFF" and buf[8:12] == b"WAVE":
        # audio: (width, height) carry (sample rate, channels) - the
        # schema's metadata slots are modality-dependent by design
        w, h, samples = _decode_wav(buf)
    elif buf[:2] in (b"P5", b"P6"):
        w, h, samples = _decode_ppm(buf)
    elif buf[:2] == b"BM":
        w, h, samples = _decode_bmp(buf)
    elif buf[:4] == b"RIFF" and buf[8:12] == b"WEBP":
        # lossless (VP8L, functions/webp.py) and lossy (VP8 key frame,
        # functions/vp8.py) both decode for real; route on which chunk
        # the container holds (NOT try/except - a real VP8L decode
        # error must surface as itself, not as "no VP8 chunk")
        if _webp_is_lossy(buf):
            from .vp8 import decode_webp_lossy
            w, h, samples = decode_webp_lossy(buf)
        else:
            from .webp import decode_webp_lossless
            w, h, samples = decode_webp_lossless(buf)
    elif _is_isobmff_image(buf):
        raise NotImplementedError(
            "AVIF/HEIC pixel decode (AV1/HEVC) is out of scope; "
            "image_dimensions recovers width/height from the ispe box")
    else:
        raise NotImplementedError(
            "unrecognized image format (PNG/JPEG/GIF/TIFF/WAV/PPM/PGM/"
            "BMP/WebP lossless+lossy decode in pure Python here; JPX "
            "etc. need a codec library not in this container)")
    return w, h, _pixel_features(samples)


_ISOBMFF_IMAGE_BRANDS = (b"avif", b"avis", b"heic", b"heix", b"heim",
                         b"heis", b"hevc", b"mif1", b"msf1")


def _is_isobmff_image(buf: bytes) -> bool:
    """AVIF / HEIC sniff: a leading ftyp box with an image brand."""
    if len(buf) < 12 or buf[4:8] != b"ftyp":
        return False
    size = struct.unpack_from(">I", buf, 0)[0]
    if size < 16 or size > len(buf):
        return False
    brands = {buf[8:12]} | {buf[i : i + 4] for i in range(16, size, 4)}
    return any(b in brands for b in _ISOBMFF_IMAGE_BRANDS)


def avif_dimensions(buf: bytes) -> tuple[int, int] | None:
    """AVIF/HEIC (ISOBMFF) width/height from the ``ispe`` property box
    - full AV1/HEVC pixel decode is out of scope (the only remaining
    major crawl image codec), but dimensions are a cheap box walk so
    those rows keep metadata next to their contained error.

    Walk: meta (fullbox) -> iprp -> ipco -> ispe (fullbox: u32 w, h).
    Container boxes are traversed recursively; the FIRST ispe wins
    (the primary item's property in practice)."""
    containers = {b"meta", b"iprp", b"ipco"}

    def walk(pos: int, end: int, depth: int):
        while pos + 8 <= end:
            size = struct.unpack_from(">I", buf, pos)[0]
            btype = buf[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:  # 64-bit largesize
                if pos + 16 > end:
                    return None
                size = struct.unpack_from(">Q", buf, pos + 8)[0]
                body = pos + 16
            if size == 0:
                size = end - pos
            if size < 8 or pos + size > end:
                return None
            if btype == b"ispe" and size >= body - pos + 12:
                w, h = struct.unpack_from(">II", buf, body + 4)
                return (int(w), int(h))
            if btype in containers and depth < 8:
                inner = body + (4 if btype == b"meta" else 0)  # fullbox
                got = walk(inner, pos + size, depth + 1)
                if got:
                    return got
            pos += size
        return None

    if not _is_isobmff_image(buf):
        return None
    return walk(0, len(buf), 0)


def _webp_is_lossy(buf: bytes) -> bool:
    """True when the container's first image chunk is VP8 (lossy),
    walking top-level chunks and ANMF animation frames."""
    pos = 12
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        size = struct.unpack_from("<I", buf, pos + 4)[0]
        if cid == b"VP8 ":
            return True
        if cid == b"VP8L":
            return False
        if cid == b"ANMF" and size > 16:
            inner = buf[pos + 8 + 16 : pos + 8 + size]
            ipos = 0
            while ipos + 8 <= len(inner):
                icid = inner[ipos : ipos + 4]
                isize = struct.unpack_from("<I", inner, ipos + 4)[0]
                if icid == b"VP8 ":
                    return True
                if icid == b"VP8L":
                    return False
                ipos += 8 + isize + (isize & 1)
        pos += 8 + size + (size & 1)
    return False


def image_dimensions(buf: bytes) -> tuple[int, int] | None:
    """Header-only (width, height), or None - recovers metadata for
    formats whose FULL decode is unsupported (progressive JPEG, 12-bit
    precision, exotic BMP), so those rows keep dimensions next to their
    error instead of nulls."""
    try:
        if buf[:8] == _PNG_SIG and len(buf) >= 24:
            w, h = struct.unpack_from(">II", buf, 16)
            return int(w), int(h)
        if buf[:2] == b"\xff\xd8":
            from .jpeg import jpeg_dimensions
            w, h, _nc = jpeg_dimensions(buf)
            return w, h
        if buf[:6] in (b"GIF87a", b"GIF89a") and len(buf) >= 10:
            w, h = struct.unpack_from("<HH", buf, 6)
            return int(w), int(h)
        if buf[:4] in (b"II*\x00", b"MM\x00*"):
            tags = _tiff_tags(buf)
            if 256 in tags and 257 in tags:
                return int(tags[256][0]), int(tags[257][0])
        if buf[:2] == b"BM" and len(buf) >= 26:
            w, h = struct.unpack_from("<ii", buf, 18)
            return int(w), abs(int(h))
        if buf[:4] == b"RIFF" and buf[8:12] == b"WEBP":
            return _webp_dimensions(buf)
        if _is_isobmff_image(buf):
            return avif_dimensions(buf)
    except Exception:
        return None
    return None


def _webp_dimensions(buf: bytes) -> tuple[int, int] | None:
    """WebP canvas dims from the first chunk header - full decode is
    unsupported (VP8 entropy coding), but dims are a 30-byte read.

    Three container layouts: ``VP8X`` (extended) carries 24-bit
    canvas-minus-one fields; ``VP8 `` (lossy) a keyframe header with
    14-bit dims after the 0x9D012A start code; ``VP8L`` (lossless) two
    packed 14-bit minus-one fields after the 0x2F signature byte."""
    cid, size = buf[12:16], struct.unpack_from("<I", buf, 16)[0]
    p = buf[20:20 + size]
    if cid == b"VP8X" and len(p) >= 10:
        w = int.from_bytes(p[4:7], "little") + 1
        h = int.from_bytes(p[7:10], "little") + 1
        return w, h
    if cid == b"VP8 " and len(p) >= 10 and p[3:6] == b"\x9d\x01\x2a":
        w = struct.unpack_from("<H", p, 6)[0] & 0x3FFF
        h = struct.unpack_from("<H", p, 8)[0] & 0x3FFF
        return w, h
    if cid == b"VP8L" and len(p) >= 5 and p[0] == 0x2F:
        bits = int.from_bytes(p[1:5], "little")
        return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
    return None


def resize_image(samples: bytes, w: int, h: int, ch: int, nw: int,
                 nh: int, method: str = "bilinear") -> bytes:
    """Resize an interleaved 8-bit raster (numpy, no codec libs).

    ``nearest`` = index map (exact for integer upscales); ``bilinear``
    = separable interpolation with edge clamp (align-corners=False, the
    torchvision/PIL convention).  The thumbnail primitive for
    training-data pipelines - decode once, resize per target."""
    if w * h * ch != len(samples):
        raise ImageDecodeError("raster size mismatch")
    if nw < 1 or nh < 1:
        raise ImageDecodeError("bad target size")
    arr = np.frombuffer(samples, dtype=np.uint8).reshape(h, w, ch)
    if method == "nearest":
        ys = np.minimum(((np.arange(nh) + 0.5) * h / nh).astype(int),
                        h - 1)
        xs = np.minimum(((np.arange(nw) + 0.5) * w / nw).astype(int),
                        w - 1)
        out = arr[ys][:, xs]
        return out.tobytes()
    if method != "bilinear":
        raise ValueError(f"resize method {method}")
    fy = (np.arange(nh) + 0.5) * h / nh - 0.5
    fx = (np.arange(nw) + 0.5) * w / nw - 0.5
    y0 = np.clip(np.floor(fy).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(fx).astype(int), 0, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = np.clip(fy - y0, 0.0, 1.0)[:, None, None]
    wx = np.clip(fx - x0, 0.0, 1.0)[None, :, None]
    a = arr.astype(np.float64)
    top = a[y0][:, x0] * (1 - wx) + a[y0][:, x1] * wx
    bot = a[y1][:, x0] * (1 - wx) + a[y1][:, x1] * wx
    out = top * (1 - wy) + bot * wy
    return np.clip(np.rint(out), 0, 255).astype(np.uint8).tobytes()


VIDEO_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("n_frames", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("sampled", IntegerType()),     # frames actually featurized
    StructField("features", ArrayType(FloatType())),  # mean over samples
    StructField("error", StringType()),
])


def video_frame_row(mid: int, content: bytes | None,
                    sample_frames: int = 4,
                    max_frames: int = 64) -> Iterator[dict]:
    """Row function for the VIDEO modality (animated GIF is the
    in-container stand-in; real codecs slot in behind the same shape):
    decode up to ``max_frames`` composited frames, uniformly sample
    ``sample_frames`` of them, average their histograms.  The per-row
    work is bounded by max_frames regardless of hostile frame counts."""
    from .gif import decode_gif_frames

    try:
        w, h, frames = decode_gif_frames(content or b"",
                                         max_frames=max_frames)
        n = len(frames)
        k = min(sample_frames, n)
        picks = [int(i * (n - 1) / max(k - 1, 1)) for i in
                 range(k)] if k > 1 else [0]
        feats = np.mean([_pixel_features(frames[p]) for p in picks], axis=0)
        yield {"media_id": mid, "n_frames": n, "width": w, "height": h,
               "sampled": len(picks),
               "features": [float(x) for x in feats]}
    except Exception as exc:  # containment per row
        yield {"media_id": mid, "error": f"{type(exc).__name__}: {exc}"}


def extract_video_features(media: DataFrame, sample_frames: int = 4,
                           max_frames: int = 64) -> DataFrame:
    """Vectorized frame-sampled features over a binary video column."""
    row = partial(video_frame_row, sample_frames=sample_frames,
                  max_frames=max_frames)
    return map_rows(media.select("media_id", "content"), row,
                    VIDEO_FEATURES_SCHEMA)


def media_feature_row(mid: int, kind: str, content: bytes | None,
                      fake: bool = True) -> Iterator[dict]:
    """Row function: (media_id, kind, content) -> one
    MEDIA_FEATURES_SCHEMA row."""
    buf = content or b""
    out = {"media_id": mid, "kind": kind, "n_bytes": len(buf)}
    try:
        out["width"], out["height"], out["features"] = \
            decode_image(buf, fake=fake)
    except Exception as exc:  # containment: a poisoned payload
        dims = image_dimensions(buf)  # must not kill the job;
        # header-only metadata survives unsupported-codec rows
        if dims:
            out["width"], out["height"] = dims[0], dims[1]
        out["error"] = f"{type(exc).__name__}: {exc}"
    yield out


def extract_media_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """Vectorized feature extraction over a binary ``content`` column."""
    return map_rows(media.select("media_id", "kind", "content"),
                    partial(media_feature_row, fake=fake),
                    MEDIA_FEATURES_SCHEMA)
