"""Real (pure-Python) image decode goldens: PNG / PPM / BMP fixtures are
written by livre_spark.functions.genimg with known pixels, so expected
width/height/features derive by construction."""

import numpy as np
import pytest

from livre_spark.functions.genimg import (
    encode_bmp, encode_png, encode_ppm, encode_tiff,
)
from livre_spark.functions.multimodal import (
    FEATURE_DIM, ImageDecodeError, decode_image,
)


def _gradient(n: int) -> bytes:
    return bytes((i * 17 + 3) & 0xFF for i in range(n))


def _expected_features(samples: bytes) -> list[float]:
    hist = np.bincount(np.frombuffer(samples, dtype=np.uint8) >> 4,
                       minlength=FEATURE_DIM).astype(np.float64)
    return [float(x) for x in (hist / hist.sum()).astype(np.float32)]


@pytest.mark.parametrize("ft", [0, 1, 2, 4])
@pytest.mark.parametrize("color_type, ch", [(0, 1), (2, 3), (4, 2), (6, 4)])
def test_png_golden(color_type, ch, ft):
    w, h = 5, 4
    pixels = _gradient(w * h * ch)
    buf = encode_png(w, h, pixels, color_type=color_type, filter_type=ft)
    gw, gh, feats = decode_image(buf)
    assert (gw, gh) == (w, h)
    assert feats == _expected_features(pixels)


def test_png_palette_expands_to_rgb():
    w, h = 4, 2
    palette = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B
    idx = bytes([0, 1, 2, 0, 1, 2, 0, 1])
    buf = encode_png(w, h, idx, color_type=3, palette=palette)
    gw, gh, feats = decode_image(buf)
    assert (gw, gh) == (w, h)
    rgb = b"".join(palette[i * 3 : i * 3 + 3] for i in idx)
    assert feats == _expected_features(rgb)


def test_png_corruption_contained():
    buf = bytearray(encode_png(3, 3, _gradient(27)))
    buf[30] ^= 0xFF  # flip a byte inside IHDR/IDAT -> CRC mismatch
    with pytest.raises(ImageDecodeError):
        decode_image(bytes(buf))
    with pytest.raises(ImageDecodeError):
        decode_image(encode_png(3, 3, _gradient(27))[:40])  # truncated
    from livre_spark.functions.jpeg import JpegError
    with pytest.raises(JpegError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg soi")  # truncated segment
    from livre_spark.functions.gif import GifError
    with pytest.raises(GifError):
        decode_image(b"GIF89a rest")  # truncated screen descriptor
    from livre_spark.functions.vp8 import Vp8Error
    with pytest.raises((Vp8Error, ValueError)):
        decode_image(b"RIFF\x04\x00\x00\x00WEBP")  # no VP8L/VP8 chunk
    with pytest.raises(Vp8Error):  # lossy VP8 decodes now; empty = contained
        decode_image(b"RIFF\x0c\x00\x00\x00WEBPVP8 \x00\x00\x00\x00")


@pytest.mark.parametrize("gray", [False, True])
def test_ppm_golden(gray):
    w, h = 6, 3
    ch = 1 if gray else 3
    pixels = _gradient(w * h * ch)
    gw, gh, feats = decode_image(encode_ppm(w, h, pixels, gray=gray))
    assert (gw, gh) == (w, h)
    assert feats == _expected_features(pixels)


def test_ppm_truncated():
    w, h = 6, 3
    buf = encode_ppm(w, h, _gradient(w * h * 3))
    with pytest.raises(ImageDecodeError):
        decode_image(buf[:-5])


def test_bmp_golden():
    w, h = 5, 3  # odd width exercises the 4-byte row padding
    pixels = _gradient(w * h * 3)
    gw, gh, feats = decode_image(encode_bmp(w, h, pixels))
    assert (gw, gh) == (w, h)
    assert feats == _expected_features(pixels)


def test_fake_path_unchanged():
    # the oracle contract: raw-byte nibble histogram + length-derived dims
    buf = b"\x00\x01" * 50
    w, h, feats = decode_image(buf, fake=True)
    assert (w, h) == (101, 1)
    assert feats[0] == 1.0  # all bytes have high nibble 0


def test_spark_real_decode(spark):
    from livre_spark.functions.multimodal import extract_media_features

    w, h = 4, 4
    png_px = _gradient(w * h * 3)
    ppm_px = _gradient(w * h * 3)
    media = spark.createDataFrame(
        [(1, "image", bytearray(encode_png(w, h, png_px))),
         (2, "image", bytearray(encode_ppm(w, h, ppm_px))),
         (3, "image", bytearray(encode_bmp(w, h, png_px))),
         (4, "image",
          bytearray(b"RIFF\x0c\x00\x00\x00WEBPVP8 \x00\x00\x00\x00")),
         (5, "image", bytearray(encode_png(w, h, png_px)[:30])),
         (6, "image", bytearray(b"\xff\xd8\xffjpeg"))],
        "media_id long, kind string, content binary")
    got = {r["media_id"]: r for r in
           extract_media_features(media, fake=False).collect()}
    for mid, px in ((1, png_px), (2, ppm_px), (3, png_px)):
        assert (got[mid]["width"], got[mid]["height"]) == (w, h)
        assert got[mid]["features"] == _expected_features(px)
        assert got[mid]["error"] is None
    # lossy VP8 decodes for real now; the empty chunk is a
    # CONTAINED Vp8Error - row kept either way
    assert "Vp8Error" in got[4]["error"]
    assert got[5]["error"] is not None
    assert got[5]["features"] is None
    assert "JpegError" in got[6]["error"]  # truncated JPEG contained


def test_ppm_crlf_after_maxval():
    """Windows writers emit CRLF after maxval; the raster must not shift
    by one byte (silent corruption), and non-whitespace is a detected
    error rather than a skipped byte."""
    w, h = 6, 3
    pixels = _gradient(w * h * 3)
    buf = encode_ppm(w, h, pixels)
    crlf = buf.replace(b"255\n", b"255\r\n", 1)
    gw, gh, feats = decode_image(crlf)
    assert (gw, gh) == (w, h)
    assert feats == _expected_features(pixels)
    with pytest.raises(ImageDecodeError):
        decode_image(b"P6\n6 3 255x" + pixels)


@pytest.mark.parametrize("ft", [0, 1, 2, 4])
@pytest.mark.parametrize("color_type, ch", [(0, 1), (2, 3), (6, 4)])
def test_png_adam7_matches_progressive(color_type, ch, ft):
    """Adam7 decode == interlace-0 decode of the same pixels, for sizes
    that exercise empty and partial passes (1x1 hits 5 empty passes)."""
    for w, h in [(1, 1), (3, 2), (8, 8), (9, 5), (16, 11)]:
        pixels = _gradient(w * h * ch)
        plain = decode_image(encode_png(w, h, pixels,
                                        color_type=color_type,
                                        filter_type=ft))
        adam = decode_image(encode_png(w, h, pixels,
                                       color_type=color_type,
                                       filter_type=ft, interlace=1))
        assert adam == plain == (w, h, _expected_features(pixels))


@pytest.mark.parametrize("interlace", [0, 1])
def test_png_16bit_high_byte_reduction(interlace):
    """16-bit samples decode as their high bytes (big-endian per spec)."""
    w, h, ch = 6, 5, 3
    high = _gradient(w * h * ch)
    pixels16 = b"".join(bytes([hb, (hb * 7 + 1) & 0xFF]) for hb in high)
    buf = encode_png(w, h, pixels16, color_type=2, filter_type=2,
                     depth=16, interlace=interlace)
    gw, gh, feats = decode_image(buf)
    assert (gw, gh) == (w, h)
    assert feats == _expected_features(high)


def test_png_16bit_palette_invalid():
    import struct, zlib
    from livre_spark.functions.genimg import PNG_SIG, _chunk
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)
    bad = (PNG_SIG + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(b"\x00" * 20))
           + _chunk(b"IEND", b""))
    with pytest.raises(ImageDecodeError):
        decode_image(bad)


def test_png_adam7_truncated_pass_contained():
    w, h = 9, 5
    buf = encode_png(w, h, _gradient(w * h * 3), interlace=1)
    # re-deflate a shortened pixel stream: drop the last 10 bytes
    import struct, zlib
    from livre_spark.functions.genimg import PNG_SIG, _chunk
    sig_ihdr = buf[:8 + 12 + 13]
    raw = zlib.decompress(b"".join(
        buf[p + 8 : p + 8 + struct.unpack(">I", buf[p:p+4])[0]]
        for p in _iter_chunks(buf) if buf[p + 4 : p + 8] == b"IDAT"))
    short = sig_ihdr + _chunk(b"IDAT", zlib.compress(raw[:-10])) \
        + _chunk(b"IEND", b"")
    with pytest.raises(ImageDecodeError):
        decode_image(short)


def _iter_chunks(buf):
    import struct
    pos = 8
    while pos + 8 <= len(buf):
        (length,) = struct.unpack(">I", buf[pos : pos + 4])
        yield pos
        pos += 12 + length


# --- baseline JPEG goldens ---------------------------------------------------

def _smooth_rgb(w, h):
    return bytes(min(255, x * 2 + y * 3 + c * 20)
                 for y in range(h) for x in range(w) for c in range(3))


def test_jpeg_constant_exact():
    """quant=1 + DC-only blocks: constant-color decode is EXACT, so the
    whole marker/Huffman/IDCT/color pipeline is pinned bit-for-bit."""
    from livre_spark.functions.jpeg import decode_jpeg, encode_jpeg
    w, h = 16, 12
    for color, sub in [((200, 64, 30), "444"), ((90, 160, 210), "420"),
                       ((5, 250, 128), "422")]:
        px = bytes(color) * (w * h)
        gw, gh, samples = decode_jpeg(encode_jpeg(w, h, px,
                                                  subsampling=sub))
        assert (gw, gh) == (w, h)
        assert samples == px, f"{color} {sub}"


@pytest.mark.parametrize("sub", ["444", "422", "420"])
@pytest.mark.parametrize("rst", [0, 3])
def test_jpeg_smooth_gradient_tolerance(sub, rst):
    """Smooth gradients round-trip within quantization+subsampling
    tolerance on odd (non-MCU-aligned) dimensions."""
    from livre_spark.functions.jpeg import decode_jpeg, encode_jpeg
    w, h = 19, 13
    px = _smooth_rgb(w, h)
    gw, gh, samples = decode_jpeg(encode_jpeg(
        w, h, px, subsampling=sub, quant=2, restart_interval=rst))
    assert (gw, gh) == (w, h)
    a = np.frombuffer(samples, dtype=np.uint8).astype(int)
    e = np.frombuffer(px, dtype=np.uint8).astype(int)
    assert np.abs(a - e).max() <= 4


def test_jpeg_gray_gradient_exact():
    from livre_spark.functions.jpeg import decode_jpeg, encode_jpeg
    w, h = 19, 13
    px = bytes(((x * 7 + y * 11) & 0xFF) for y in range(h)
               for x in range(w))
    gw, gh, samples = decode_jpeg(encode_jpeg(w, h, px, gray=True,
                                              restart_interval=2))
    assert (gw, gh, samples) == (w, h, px)


def test_jpeg_through_decode_image():
    from livre_spark.functions.jpeg import encode_jpeg
    w, h = 8, 8
    px = bytes([10, 20, 250] * (w * h))
    gw, gh, feats = decode_image(encode_jpeg(w, h, px))
    assert (gw, gh) == (w, h)
    assert feats == _expected_features(px)


def test_jpeg_dimensions_and_lossless_metadata():
    """SOF3 (lossless - still a boundary) rows keep width/height
    metadata while the decode error is recorded - the header scan
    works on any SOFn.  (SOF9/SOF10 arithmetic DECODE for real now.)"""
    from livre_spark.functions.jpeg import (
        decode_jpeg, encode_jpeg, jpeg_dimensions,
    )
    from livre_spark.functions.multimodal import image_dimensions
    buf = bytearray(encode_jpeg(24, 17, _smooth_rgb(24, 17)))
    assert jpeg_dimensions(bytes(buf)) == (24, 17, 3)
    assert image_dimensions(bytes(buf)) == (24, 17)
    # flip SOF0 -> SOF3: dimensions still parse, decode refuses
    sof = bytes(buf).index(b"\xff\xc0")
    buf[sof + 1] = 0xC3
    assert jpeg_dimensions(bytes(buf)) == (24, 17, 3)
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(buf))


@pytest.mark.parametrize("sub, q", [("444", 1), ("420", 2), ("422", 3)])
def test_jpeg_progressive_matches_baseline(sub, q):
    """Progressive (SOF2) and baseline files carry the SAME quantized
    coefficients, so their decodes must be BYTE-IDENTICAL - this pins
    all four progressive paths (DC first/refine, AC spectral-selection
    first pass, AC successive-approximation refinement with EOB runs)
    against the independently-tested sequential decoder."""
    from livre_spark.functions.jpeg import (
        decode_jpeg, encode_jpeg, encode_jpeg_progressive,
    )
    w, h = 19, 13
    px = _smooth_rgb(w, h)
    assert decode_jpeg(encode_jpeg_progressive(w, h, px, subsampling=sub,
                                               quant=q)) == \
        decode_jpeg(encode_jpeg(w, h, px, subsampling=sub, quant=q))


def test_jpeg_progressive_noise_stress():
    """Random pixels maximize AC symbol diversity (ZRL, EOB runs,
    corrections interleaved with new significances) - the encoder/
    decoder refinement sync dies loudly here if either side drifts."""
    import random
    from livre_spark.functions.jpeg import (
        decode_jpeg, encode_jpeg, encode_jpeg_progressive,
    )
    rnd = random.Random(7)
    for w, h, sub, q in [(40, 33, "420", 8), (24, 24, "422", 1),
                         (17, 9, "444", 16)]:
        px = bytes(rnd.randrange(256) for _ in range(w * h * 3))
        assert decode_jpeg(encode_jpeg_progressive(
            w, h, px, subsampling=sub, quant=q)) == \
            decode_jpeg(encode_jpeg(w, h, px, subsampling=sub, quant=q))


def test_jpeg_progressive_through_decode_image():
    from livre_spark.functions.jpeg import encode_jpeg_progressive
    w, h = 8, 8
    px = bytes([10, 20, 250] * (w * h))
    gw, gh, feats = decode_image(encode_jpeg_progressive(w, h, px))
    assert (gw, gh) == (w, h)
    assert feats == _expected_features(px)


def test_unsupported_codec_rows_keep_header_dimensions():
    """media_feature_row: a lossless-JPEG (SOF3 boundary) row lands with
    width/height populated AND the error recorded."""
    from livre_spark.functions.jpeg import encode_jpeg
    from livre_spark.functions.multimodal import media_feature_row
    buf = bytearray(encode_jpeg(24, 17, _smooth_rgb(24, 17)))
    sof = bytes(buf).index(b"\xff\xc0")
    buf[sof + 1] = 0xC3
    (row,) = media_feature_row(1, "image", bytes(buf), fake=False)
    assert (row["width"], row["height"]) == (24, 17)
    assert row.get("features") is None
    assert "SOF3" in row["error"]


# --- GIF goldens -------------------------------------------------------------

def _gif_case(w, h, n_colors, seed=0):
    palette = bytes(((i * 53 + c * 17 + seed) & 0xFF)
                    for i in range(n_colors) for c in range(3))
    idx = bytes(((x * 3 + y * 7 + seed) % n_colors)
                for y in range(h) for x in range(w))
    return idx, palette


@pytest.mark.parametrize("n_colors", [2, 4, 16, 256])
def test_gif_golden(n_colors):
    from livre_spark.functions.gif import encode_gif
    w, h = 13, 9
    idx, palette = _gif_case(w, h, n_colors)
    gw, gh, feats = decode_image(encode_gif(w, h, idx, palette))
    rgb = b"".join(palette[i * 3 : i * 3 + 3] for i in idx)
    assert (gw, gh) == (w, h)
    assert feats == _expected_features(rgb)


def test_gif_interlaced_matches_progressive():
    from livre_spark.functions.gif import decode_gif, encode_gif
    for w, h in [(1, 1), (8, 8), (13, 9), (17, 23)]:
        idx, palette = _gif_case(w, h, 16, seed=3)
        plain = decode_gif(encode_gif(w, h, idx, palette))
        inter = decode_gif(encode_gif(w, h, idx, palette, interlace=True))
        assert inter == plain


def test_gif_lzw_width_growth_and_big_image():
    """>4096 distinct runs force LZW code-width growth through 12 bits
    and a mid-stream table reset - the encoder/decoder width sync."""
    from livre_spark.functions.gif import decode_gif, encode_gif
    w, h = 101, 97
    idx, palette = _gif_case(w, h, 256, seed=7)
    gw, gh, rgb = decode_gif(encode_gif(w, h, idx, palette))
    exp = b"".join(palette[i * 3 : i * 3 + 3] for i in idx)
    assert (gw, gh) == (w, h) and rgb == exp


def test_gif_first_frame_of_animation():
    from livre_spark.functions.gif import decode_gif, encode_gif
    w, h = 7, 5
    idx, palette = _gif_case(w, h, 4)
    buf = encode_gif(w, h, idx, palette, animated_tail=True)
    gw, gh, rgb = decode_gif(buf)
    exp = b"".join(palette[i * 3 : i * 3 + 3] for i in idx)
    assert (gw, gh, rgb) == (w, h, exp)


def test_gif_corruption_contained():
    from livre_spark.functions.gif import GifError, encode_gif
    w, h = 7, 5
    idx, palette = _gif_case(w, h, 4)
    buf = encode_gif(w, h, idx, palette)
    with pytest.raises(GifError):
        decode_image(buf[:20])          # truncated mid-frame
    with pytest.raises(GifError):
        decode_image(buf[:6])           # no screen descriptor
    from livre_spark.functions.multimodal import image_dimensions
    assert image_dimensions(buf) == (w, h)


# --- WAV audio ---------------------------------------------------------------

def test_wav_golden():
    """16-bit PCM decodes to high-byte-reduced samples; the metadata
    slots carry (sample rate, channels)."""
    from livre_spark.functions.genimg import encode_wav
    samples = [(i * 997 - 16000) % 65536 - 32768 for i in range(300)]
    buf = encode_wav(8000, 2, samples)
    rate, ch, feats = decode_image(buf)
    assert (rate, ch) == (8000, 2)
    reduced = bytes(((s >> 8) + 128) & 0xFF for s in samples)
    assert feats == _expected_features(reduced)


def test_wav_containment():
    from livre_spark.functions.genimg import encode_wav
    buf = encode_wav(8000, 1, [0, 1000, -1000])
    with pytest.raises(ImageDecodeError):
        decode_image(buf[:20])  # truncated chunk
    # float PCM (format 3) is an honest codec boundary
    import struct as _s
    bad = bytearray(buf)
    fmt_at = bytes(buf).index(b"fmt ") + 8
    bad[fmt_at:fmt_at + 2] = _s.pack("<H", 3)
    with pytest.raises(NotImplementedError):
        decode_image(bytes(bad))
    # lossy WebP (RIFF but not WAVE) routes to the VP8 decoder; an
    # empty chunk is a contained error
    with pytest.raises((NotImplementedError, ValueError)):
        decode_image(b"RIFF\x0c\x00\x00\x00WEBPVP8 \x00\x00\x00\x00")


# --- TIFF --------------------------------------------------------------------

@pytest.mark.parametrize("spp, comp, pred, endian", [
    (3, "none", 1, "<"), (3, "lzw", 1, "<"), (3, "lzw", 2, ">"),
    (1, "packbits", 1, "<"), (4, "lzw", 2, "<"), (1, "none", 1, ">"),
])
def test_tiff_golden(spp, comp, pred, endian):
    """Strip TIFF across endianness, compression (none / the shared
    MSB-first LZW / PackBits) and the horizontal predictor."""
    from livre_spark.functions.genimg import encode_tiff
    from livre_spark.functions.multimodal import image_dimensions
    w, h = 13, 9
    px = _gradient(w * h * spp)
    buf = encode_tiff(w, h, px, spp=spp, compression=comp,
                      predictor=pred, endian=endian)
    gw, gh, feats = decode_image(buf)
    assert (gw, gh) == (w, h)
    assert feats == _expected_features(px)
    assert image_dimensions(buf) == (w, h)


def test_tiff_containment():
    from livre_spark.functions.genimg import encode_tiff
    w, h = 13, 9
    buf = encode_tiff(w, h, _gradient(w * h * 3))
    with pytest.raises(ImageDecodeError):
        decode_image(buf[:30])  # truncated IFD / tag values
    # 16-bit stays an honest boundary: patch BitsPerSample
    import struct as _s
    b = bytearray(buf)
    # find the 258 entry in the IFD (little-endian fixture)
    n = _s.unpack_from("<H", b, 8)[0]
    for t in range(n):
        off = 10 + 12 * t
        if _s.unpack_from("<H", b, off)[0] == 258:
            voff = _s.unpack_from("<I", b, off + 8)[0]
            _s.pack_into("<H", b, voff, 16)
    with pytest.raises(NotImplementedError):
        decode_image(bytes(b))


# --- animated GIF frames / video modality / resize ---------------------------

def test_gif_frames_compositing():
    """Frame offsets + transparency composite onto the running canvas;
    transparent pixels leave previous content visible."""
    from livre_spark.functions.gif import decode_gif_frames, encode_gif_animated
    palette = bytes([255, 0, 0,  0, 255, 0,  0, 0, 255,  9, 9, 9])
    sw, sh = 4, 3
    base = bytes([0] * (sw * sh))                # all red
    patch = bytes([1, 3, 1, 3])                  # 2x2: green/transp rows
    buf = encode_gif_animated(sw, sh, palette, [
        (0, 0, sw, sh, base, None),
        (1, 1, 2, 2, patch, 3),                  # index 3 transparent
    ])
    gw, gh, frames = decode_gif_frames(buf)
    assert (gw, gh, len(frames)) == (sw, sh, 2)
    red, green = palette[0:3], palette[3:6]
    f0 = frames[0]
    assert f0 == red * (sw * sh)
    f1 = frames[1]
    def px(fr, x, y):
        return fr[(y * sw + x) * 3 : (y * sw + x) * 3 + 3]
    assert px(f1, 1, 1) == green and px(f1, 2, 1) == red  # transp kept
    assert px(f1, 1, 2) == green and px(f1, 2, 2) == red
    assert px(f1, 0, 0) == red                  # outside patch untouched
    # max_frames cap
    assert len(decode_gif_frames(buf, max_frames=1)[2]) == 1


def test_video_frame_features_batches():
    from livre_spark.functions.gif import encode_gif_animated
    from livre_spark.functions.multimodal import video_frame_row
    palette = bytes([i * 85 for i in range(4) for _ in range(3)])[:12]
    sw, sh = 5, 4
    frames = [(0, 0, sw, sh, bytes([f % 4] * (sw * sh)), None)
              for f in range(6)]
    buf = encode_gif_animated(sw, sh, palette, frames)
    (ok,) = video_frame_row(1, buf, sample_frames=3)
    assert (ok["n_frames"], ok["width"], ok["height"], ok["sampled"]) \
        == (6, sw, sh, 3)
    assert abs(sum(ok["features"]) - 1.0) < 1e-6
    (bad,) = video_frame_row(2, b"not a gif", sample_frames=3)
    assert bad.get("features") is None and "GifError" in bad["error"]


def test_resize_nearest_exact_upscale():
    from livre_spark.functions.multimodal import resize_image
    w, h = 3, 2
    px = _gradient(w * h * 3)
    up = resize_image(px, w, h, 3, 6, 4, method="nearest")
    a = np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3)
    b = np.frombuffer(up, dtype=np.uint8).reshape(4, 6, 3)
    # integer 2x nearest: each source pixel becomes a 2x2 block
    assert (b == np.repeat(np.repeat(a, 2, 0), 2, 1)).all()


def test_resize_bilinear_preserves_linear_ramp():
    """Bilinear resampling of a linear ramp stays (near) linear, and
    constant images stay exactly constant at any target size."""
    from livre_spark.functions.multimodal import resize_image
    w, h = 16, 1
    ramp = bytes(i * 16 for i in range(w))
    out = resize_image(ramp, w, h, 1, 8, 1)
    vals = list(out)
    diffs = [b - a for a, b in zip(vals, vals[1:])]
    assert max(diffs) - min(diffs) <= 1          # near-constant slope
    const = bytes([77]) * (5 * 7 * 3)
    assert resize_image(const, 5, 7, 3, 11, 3) == bytes([77]) * (11 * 3 * 3)
    with pytest.raises(ImageDecodeError):
        resize_image(const, 5, 7, 3, 0, 3)


def test_spark_video_frame_features(spark):
    from livre_spark.functions.gif import encode_gif_animated
    from livre_spark.functions.multimodal import extract_video_features
    palette = bytes([i * 85 for i in range(4) for _ in range(3)])[:12]
    sw, sh = 5, 4
    frames = [(0, 0, sw, sh, bytes([f % 4] * (sw * sh)), None)
              for f in range(5)]
    buf = encode_gif_animated(sw, sh, palette, frames)
    media = spark.createDataFrame(
        [(1, bytearray(buf)), (2, bytearray(b"junk"))],
        "media_id long, content binary")
    got = {r["media_id"]: r for r in
           extract_video_features(media, sample_frames=2).collect()}
    assert got[1]["n_frames"] == 5 and got[1]["sampled"] == 2
    assert got[1]["error"] is None
    assert got[2]["error"] is not None


@pytest.mark.parametrize("sub, q", [("444", 1), ("420", 2), ("422", 3)])
def test_jpeg_multiscan_sequential_matches_interleaved(sub, q):
    """One non-interleaved scan per component (the common scanner
    layout) decodes byte-identically to the interleaved baseline."""
    from livre_spark.functions.jpeg import (
        decode_jpeg, encode_jpeg, encode_jpeg_multiscan,
    )
    w, h = 19, 13
    px = _smooth_rgb(w, h)
    assert decode_jpeg(encode_jpeg_multiscan(w, h, px, subsampling=sub,
                                             quant=q)) == \
        decode_jpeg(encode_jpeg(w, h, px, subsampling=sub, quant=q))


def test_jpeg_multiscan_component_coverage_checked():
    from livre_spark.functions.jpeg import (
        JpegError, decode_jpeg, encode_jpeg_multiscan,
    )
    w, h = 16, 8
    buf = bytearray(encode_jpeg_multiscan(w, h, _smooth_rgb(w, h)))
    # drop the LAST scan (truncate before its DHT pair): component
    # coverage mismatch must be a detected error, not silent gray
    import struct as _s
    # find the third-from-last DHT (each scan emits DHT,DHT,SOS)
    positions = []
    i = 2
    while i + 4 <= len(buf):
        if buf[i] == 0xFF and buf[i + 1] == 0xC4:
            positions.append(i)
        i += 1
    cut = positions[-2]  # start of the last scan's DHT pair
    with pytest.raises(JpegError):
        decode_jpeg(bytes(buf[:cut]) + b"\xff\xd9")


@pytest.mark.parametrize("tf", [0, 2])
def test_jpeg_cmyk_adobe(tf):
    """Adobe 4-component JPEG (APP14 transform 0 = inverted CMYK,
    2 = YCCK): decode converts to RGB via the libjpeg convention
    RGB = stored_cmy * stored_k / 255.  Constant ink is exact."""
    from livre_spark.functions.jpeg import decode_jpeg, encode_jpeg_cmyk
    w, h = 16, 12
    cmyk = bytes([40, 200, 10, 30] * (w * h))
    gw, gh, samples = decode_jpeg(encode_jpeg_cmyk(w, h, cmyk,
                                                   transform=tf))
    a = np.frombuffer(cmyk, dtype=np.uint8).reshape(h, w, 4).astype(float)
    exp = np.clip(np.rint((255.0 - a[..., :3]) * (255.0 - a[..., 3:4])
                          / 255.0), 0, 255).astype(np.uint8)
    assert (gw, gh) == (w, h)
    assert samples == exp.tobytes()
    # smooth ink gradients stay within transform rounding
    cmyk2 = bytes(min(255, x * 3 + y * 2 + c * 10)
                  for y in range(h) for x in range(w) for c in range(4))
    _, _, s2 = decode_jpeg(encode_jpeg_cmyk(w, h, cmyk2, transform=tf))
    a2 = np.frombuffer(cmyk2, dtype=np.uint8).reshape(h, w, 4).astype(float)
    exp2 = np.clip(np.rint((255.0 - a2[..., :3]) * (255.0 - a2[..., 3:4])
                           / 255.0), 0, 255).astype(int)
    got2 = np.frombuffer(s2, dtype=np.uint8).reshape(h, w, 3).astype(int)
    assert np.abs(got2 - exp2).max() <= 1


def test_tiff_white_is_zero_inverted():
    """Photometric 0 (WhiteIsZero, the fax/scanner convention) decodes
    inverted; photometric 3 (palette) is an honest boundary."""
    import struct as _s
    from livre_spark.functions.genimg import encode_tiff
    w, h = 6, 4
    px = _gradient(w * h)
    buf = bytearray(encode_tiff(w, h, px, spp=1))
    n = _s.unpack_from("<H", buf, 8)[0]
    for t in range(n):
        off = 10 + 12 * t
        if _s.unpack_from("<H", buf, off)[0] == 262:
            _s.pack_into("<H", buf, off + 8, 0)      # -> WhiteIsZero
    gw, gh, feats = decode_image(bytes(buf))
    inv = bytes(255 - b for b in px)
    assert (gw, gh) == (w, h) and feats == _expected_features(inv)
    for t in range(n):
        off = 10 + 12 * t
        if _s.unpack_from("<H", buf, off)[0] == 262:
            _s.pack_into("<H", buf, off + 8, 3)      # -> palette
    with pytest.raises(NotImplementedError):
        decode_image(bytes(buf))


@pytest.mark.parametrize("interlace", [0, 1])
@pytest.mark.parametrize("depth", [1, 2, 4])
def test_png_sub_byte_gray(depth, interlace):
    """1/2/4-bit grayscale unpacks MSB-first and scales exactly to
    8-bit (255 divides by 1/3/15)."""
    w, h = 11, 5
    levels = bytes((x + y) % (1 << depth) for y in range(h)
                   for x in range(w))
    buf = encode_png(w, h, levels, color_type=0, depth=depth,
                     interlace=interlace)
    gw, gh, feats = decode_image(buf)
    factor = 255 // ((1 << depth) - 1)
    expanded = bytes(v * factor for v in levels)
    assert (gw, gh) == (w, h)
    assert feats == _expected_features(expanded)


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_png_sub_byte_palette(depth):
    w, h = 9, 4
    n = 1 << depth
    palette = bytes(((i * 53 + c * 29) & 0xFF)
                    for i in range(n) for c in range(3))
    idx = bytes((x * 3 + y) % n for y in range(h) for x in range(w))
    buf = encode_png(w, h, idx, color_type=3, palette=palette,
                     depth=depth)
    gw, gh, feats = decode_image(buf)
    rgb = b"".join(palette[i * 3 : i * 3 + 3] for i in idx)
    assert (gw, gh) == (w, h)
    assert feats == _expected_features(rgb)


@pytest.mark.parametrize("endian", ["<", ">"])
def test_tiff_16bit_high_byte(endian):
    import struct as _s
    from livre_spark.functions.genimg import encode_tiff
    w, h = 7, 5
    high = _gradient(w * h * 3)
    px16 = b"".join(_s.pack(endian + "H", (hb << 8) | ((hb * 7) & 0xFF))
                    for hb in high)
    buf = encode_tiff(w, h, px16, spp=3, compression="lzw",
                      endian=endian, bits=16)
    gw, gh, feats = decode_image(buf)
    assert (gw, gh) == (w, h)
    assert feats == _expected_features(high)


def _webp_container(cid: bytes, payload: bytes) -> bytes:
    chunk = cid + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def test_webp_dimensions_all_layouts():
    """VP8X / VP8 (lossy keyframe) / VP8L header dims - full decode
    stays unsupported, but dimensions must be recovered."""
    from livre_spark.functions.multimodal import image_dimensions

    # VP8X: flags(4) + 24-bit canvas-minus-one fields
    p = b"\x00\x00\x00\x00" + (639).to_bytes(3, "little") + \
        (479).to_bytes(3, "little")
    assert image_dimensions(_webp_container(b"VP8X", p)) == (640, 480)
    # VP8 lossy keyframe: 3-byte frame tag, 9D 01 2A start code,
    # then 14-bit LE width/height (upper 2 bits = scaling)
    p = b"\x00\x00\x00" + b"\x9d\x01\x2a" + \
        (33 | 0x4000).to_bytes(2, "little") + (21).to_bytes(2, "little")
    assert image_dimensions(_webp_container(b"VP8 ", p)) == (33, 21)
    # VP8L: 0x2F signature then packed 14-bit minus-one fields
    bits = (17 - 1) | ((11 - 1) << 14)
    p = b"\x2f" + bits.to_bytes(4, "little")
    assert image_dimensions(_webp_container(b"VP8L", p)) == (17, 11)
    # truncated/garbage WebP -> None, never a raise
    assert image_dimensions(b"RIFF\x08\x00\x00\x00WEBP") is None
    assert image_dimensions(_webp_container(b"VP8 ", b"\x00" * 10)) is None


def test_webp_lossless_decodes_through_decode_image():
    """VP8L roundtrips through the multimodal dispatch; a truncated
    VP8L stream is a contained error; lossy VP8 stays a codec
    boundary (NotImplementedError)."""
    import pytest as _pytest

    from livre_spark.functions.multimodal import decode_image
    from livre_spark.functions.webp import (
        WebpError, encode_webp_lossless,
    )

    w, h = 9, 6
    px = _gradient(w * h * 3)
    buf = encode_webp_lossless(w, h, px)
    gw, gh, feats = decode_image(buf)
    assert (gw, gh) == (w, h)
    assert feats == _expected_features(px)
    # RGBA: alpha rides along like PNG color type 6
    pxa = _gradient(w * h * 4)
    gw, gh, feats = decode_image(
        encode_webp_lossless(w, h, pxa, channels=4))
    assert (gw, gh) == (w, h) and feats == _expected_features(pxa)
    with _pytest.raises(WebpError):
        decode_image(buf[: len(buf) - 6])
    # lossy VP8 now decodes for real (functions/vp8.py); a garbage
    # 10-byte chunk is a CONTAINED error, not a crash
    from livre_spark.functions.vp8 import Vp8Error
    with _pytest.raises(Vp8Error):
        decode_image(_webp_container(b"VP8 ", b"\x00" * 10))


@pytest.mark.parametrize("tile", [(16, 16), (8, 4), (5, 7)])
@pytest.mark.parametrize("comp", ["none", "lzw", "packbits"])
def test_tiff_tiled_golden(tile, comp):
    """Tile layout (322-325): edge tiles padded, predictor applied per
    tile row, every compression - equals the strip-layout pixels."""
    w, h = 17, 13
    for spp in (1, 3):
        px = _gradient(w * h * spp)
        for pred in (1, 2):
            buf = encode_tiff(w, h, px, spp=spp, compression=comp,
                              predictor=pred, tile=tile)
            gw, gh, feats = decode_image(buf)
            assert (gw, gh) == (w, h)
            assert feats == _expected_features(px)


@pytest.mark.parametrize("endian", ["<", ">"])
def test_tiff_tiled_16bit(endian):
    import struct as _s
    from livre_spark.functions.genimg import encode_tiff as _et
    w, h = 10, 6
    high = _gradient(w * h * 3)
    px16 = b"".join(_s.pack(endian + "H", (hb << 8) | ((hb * 3) & 0xFF))
                    for hb in high)
    buf = _et(w, h, px16, spp=3, compression="lzw", endian=endian,
              bits=16, tile=(4, 4))
    gw, gh, feats = decode_image(buf)
    assert (gw, gh) == (w, h)
    assert feats == _expected_features(high)


def test_tiff_tiled_containment():
    """Tile-layout damage (bad counts, truncation) stays contained."""
    from livre_spark.functions.genimg import encode_tiff as _et
    buf = bytearray(_et(16, 16, _gradient(16 * 16 * 3), tile=(8, 8)))
    with pytest.raises((ValueError, NotImplementedError)):
        decode_image(bytes(buf[: len(buf) // 2]))


@pytest.mark.parametrize("comp", ["ccitt-mh", "ccitt-g3", "ccitt-g3-2d",
                                  "ccitt-g4"])
@pytest.mark.parametrize("rps", [None, 5])
def test_tiff_fax_compressions(comp, rps):
    """Scanned-TIFF path: compressions 2/3/4 route through pdf/ccitt.py
    (MH byte-aligned rows / G3 EOL lines incl. 2-D / G4), white -> 255,
    multi-strip restart included."""
    import random as _random

    rng = _random.Random(13)
    w, h = 41, 13
    stride = (w + 7) >> 3
    img = bytearray()
    rowsbits = []
    prev = [rng.randrange(2) for _ in range(w)]
    for _ in range(h):
        rowpx = [p if rng.random() < 0.85 else 1 - p for p in prev]
        prev = rowpx
        rowsbits.append(rowpx)
        row = bytearray(stride)
        for i, p in enumerate(rowpx):
            if p:
                row[i >> 3] |= 0x80 >> (i & 7)
        img += row
    buf = encode_tiff(w, h, bytes(img), compression=comp,
                      rows_per_strip=rps)
    gw, gh, feats = decode_image(buf)
    expected = bytes(255 * p for r in rowsbits for p in r)
    assert (gw, gh) == (w, h)
    assert feats == _expected_features(expected)


def test_tiff_fax_containment():
    """Truncated fax payload -> contained ImageDecodeError (short rows
    can't complete), and fax+tiles stays an honest boundary."""
    buf = encode_tiff(16, 9, b"\xf0\x0f" * 9, compression="ccitt-g4")
    with pytest.raises((ValueError, NotImplementedError)):
        decode_image(buf[: len(buf) - 4])


def test_tiff_fax_fillorder2():
    """FillOrder=2 (tag 266): fax devices store code bits LSB-first per
    byte; decode must bit-reverse before the T.4/T.6 reader."""
    img = b"\xf0\x0f" * 9
    buf = encode_tiff(16, 9, img, compression="ccitt-g4", fill_order=2)
    buf1 = encode_tiff(16, 9, img, compression="ccitt-g4")
    assert buf != buf1  # the coded bytes really are reversed
    assert decode_image(buf) == decode_image(buf1)


def test_tiff_multi_page():
    """Multi-page TIFF (IFD chain): each page decodes independently,
    mixed layouts/compressions per page, page 0 = the decode_image
    path; out-of-range pages and truncated chains are contained."""
    from livre_spark.functions.genimg import encode_tiff_multi
    from livre_spark.functions.multimodal import (
        decode_tiff_page, tiff_page_count,
    )

    pages = [
        dict(width=9, height=7, pixels=_gradient(9 * 7 * 3),
             compression="lzw", predictor=2),
        dict(width=16, height=9, pixels=_gradient(16 * 9 * 3),
             compression="packbits", tile=(8, 4)),
        dict(width=12, height=4, pixels=_gradient(12 * 4), spp=1),
        dict(width=16, height=9, pixels=b"\xf0\x0f" * 9,
             compression="ccitt-g4"),
    ]
    buf = encode_tiff_multi(pages)
    assert tiff_page_count(buf) == 4
    for i in (0, 1, 2):
        w, h, samples = decode_tiff_page(buf, i)
        assert (w, h) == (pages[i]["width"], pages[i]["height"])
        assert samples == pages[i]["pixels"]
    w, h, fax = decode_tiff_page(buf, 3)
    assert (w, h) == (16, 9) and set(fax) == {0, 255}
    assert decode_image(buf)[:2] == (9, 7)  # page 0 via the dispatch
    with pytest.raises(ImageDecodeError):
        decode_tiff_page(buf, 4)


def test_tiff_dimension_bomb_guard():
    """A tiny hostile TIFF declaring 65536x65536 must be rejected BEFORE
    the raster buffer is allocated (same max_pixels rule as
    decode_ccitt / decode_vp8l) - not spike a multi-GB bytearray."""
    import struct

    from livre_spark.functions.multimodal import _decode_tiff

    def ifd_entry(tag, value):
        return struct.pack("<HHI I", tag, 4, 1, value)

    hostile = (b"II*\x00" + struct.pack("<I", 8)
               + struct.pack("<H", 2)
               + ifd_entry(256, 65536) + ifd_entry(257, 65536)
               + struct.pack("<I", 0))
    with pytest.raises(ImageDecodeError, match="max_pixels"):
        _decode_tiff(hostile)
    zero = (b"II*\x00" + struct.pack("<I", 8)
            + struct.pack("<H", 2)
            + ifd_entry(256, 0) + ifd_entry(257, 4)
            + struct.pack("<I", 0))
    with pytest.raises(ImageDecodeError, match="bad TIFF dimensions"):
        _decode_tiff(zero)


@pytest.mark.parametrize("spp, comp, pred, endian", [
    (3, "none", 1, "<"), (3, "lzw", 1, ">"), (3, "lzw", 2, "<"),
    (4, "packbits", 1, "<"), (4, "none", 2, ">"),
])
def test_tiff_planar_golden(spp, comp, pred, endian):
    """PlanarConfiguration=2 strip TIFF: separate component planes,
    plane-major strip list, per-plane predictor - pixels equal the
    chunky layout's."""
    from livre_spark.functions.genimg import encode_tiff
    w, h = 13, 9
    px = _gradient(w * h * spp)
    buf = encode_tiff(w, h, px, spp=spp, compression=comp,
                      predictor=pred, endian=endian, planar=True,
                      rows_per_strip=4)
    gw, gh, feats = decode_image(buf)
    assert (gw, gh) == (w, h)
    assert feats == _expected_features(px)


@pytest.mark.parametrize("endian", ["<", ">"])
def test_tiff_planar_16bit(endian):
    import struct as _s

    from livre_spark.functions.genimg import encode_tiff
    w, h = 10, 6
    high = _gradient(w * h * 3)
    px16 = b"".join(_s.pack(endian + "H", (hb << 8) | ((hb * 5) & 0xFF))
                    for hb in high)
    buf = encode_tiff(w, h, px16, spp=3, compression="packbits",
                      endian=endian, bits=16, planar=True)
    gw, gh, feats = decode_image(buf)
    assert (gw, gh) == (w, h)
    assert feats == _expected_features(high)


def test_tiff_planar_containment():
    """Planar tiles stay an honest boundary; strip-count mismatch and
    truncation are contained errors."""
    import struct as _s

    from livre_spark.functions.genimg import encode_tiff
    w, h = 13, 9
    buf = encode_tiff(w, h, _gradient(w * h * 3), planar=True,
                      rows_per_strip=4)
    with pytest.raises((ValueError, NotImplementedError)):
        decode_image(bytes(buf[: len(buf) // 2]))
    # planar + tile tags = NotImplementedError, not silent garbage
    b = bytearray(buf)
    n = _s.unpack_from("<H", b, 8)[0]
    for t in range(n):
        off = 10 + 12 * t
        if _s.unpack_from("<H", b, off)[0] == 273:
            _s.pack_into("<H", b, off, 322)  # strip offsets -> tile w
    with pytest.raises((NotImplementedError, ValueError)):
        decode_image(bytes(b))


@pytest.mark.parametrize("sub, rst", [("444", 0), ("420", 2), ("422", 0)])
def test_jpeg_12bit_golden(sub, rst):
    """12-bit extended-sequential JPEG (SOF1, 16-bit DQT, DC categories
    past the 8-bit 11 cap): quant=1 roundtrips the x16-scaled samples
    exactly back to the 8-bit input after the decoder's 12->8
    reduction."""
    from livre_spark.functions.jpeg import decode_jpeg, encode_jpeg
    w, h = 17, 24
    px = _gradient(w * h * 3)
    buf = encode_jpeg(w, h, px, bits=12, subsampling=sub,
                      restart_interval=rst)
    gw, gh, out = decode_jpeg(buf)
    assert (gw, gh) == (w, h)
    if sub == "444":
        assert out == px          # chroma untouched -> exact
    else:
        got = decode_image(buf)
        assert got[0] == w and got[1] == h
    # the full decode_image path routes and features it
    gw, gh, feats = decode_image(buf)
    assert (gw, gh) == (w, h)


def test_jpeg_12bit_gray_and_containment():
    from livre_spark.functions.jpeg import (
        JpegError, decode_jpeg, encode_jpeg,
    )
    g = bytes(range(64))
    buf = encode_jpeg(8, 8, g, gray=True, bits=12)
    assert decode_jpeg(buf)[2] == g
    # hostile precision byte stays a boundary
    import struct as _s
    b = bytearray(buf)
    at = b.index(b"\xff\xc1") + 4
    b[at] = 10
    with pytest.raises((NotImplementedError, JpegError)):
        decode_jpeg(bytes(b))


def test_jpeg_12bit_multiscan_matches_interleaved():
    from livre_spark.functions.jpeg import (
        decode_jpeg, encode_jpeg, encode_jpeg_multiscan,
    )
    w, h = 17, 13
    px = _gradient(w * h * 3)
    a = decode_jpeg(encode_jpeg(w, h, px, bits=12))
    b = decode_jpeg(encode_jpeg_multiscan(w, h, px, bits=12))
    assert a == b


def test_avif_heic_dimensions():
    """AVIF/HEIC (ISOBMFF) ispe box walk: dimensions recovered for the
    one major crawl image codec whose pixel decode stays out of scope;
    pixel decode is an explicit NotImplementedError boundary."""
    import struct as _s

    from livre_spark.functions.multimodal import (
        avif_dimensions, image_dimensions,
    )

    def box(btype, payload):
        return _s.pack(">I", 8 + len(payload)) + btype + payload

    def full(btype, payload):
        return box(btype, b"\x00\x00\x00\x00" + payload)

    ispe = full(b"ispe", _s.pack(">II", 640, 480))
    container = (box(b"ftyp", b"heic\x00\x00\x00\x00heicmif1")
                 + full(b"meta", box(b"iprp", box(b"ipco", ispe))))
    assert avif_dimensions(container) == (640, 480)
    assert image_dimensions(container) == (640, 480)
    with pytest.raises(NotImplementedError, match="AVIF/HEIC"):
        decode_image(container)
    # an mp4-brand ftyp is NOT an image container
    mp4 = box(b"ftyp", b"isom\x00\x00\x00\x00isommp42") + container[24:]
    assert avif_dimensions(mp4) is None
    # truncation/hostility contained
    assert avif_dimensions(container[:20]) is None
    bad = bytearray(container)
    _s.pack_into(">I", bad, 24, 0xFFFFFFF0)  # hostile meta size
    assert avif_dimensions(bytes(bad)) is None


def test_avif_dimensions_real_libavif_file(tmp_path):
    """A REAL libavif-encoded file (generated in a subprocess via the
    public ctypes ABI; skips when the library is absent or the ABI
    probe fails)."""
    import subprocess
    import sys as _sys

    out = str(tmp_path / "t.avif")
    r = subprocess.run(
        [_sys.executable, "tests/avif_gen_harness.py", "20", "12", out],
        capture_output=True, timeout=60)
    if r.returncode != 0:
        pytest.skip(f"libavif unavailable/ABI mismatch: {r.returncode}")
    from livre_spark.functions.multimodal import avif_dimensions
    buf = open(out, "rb").read()
    assert buf[4:8] == b"ftyp"
    assert avif_dimensions(buf) == (20, 12)
