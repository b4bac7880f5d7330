"""Pure-Python JPEG (ITU-T T.81) codec for the multimodal path.

The reference rejects ``DCTDecode`` outright (src/filtering.rs:50-53 -
image codecs are out of its text-extraction scope), and this container
has no codec library - but JPEG is the most common image format in
crawls, so ``decode_jpeg`` implements it for real: baseline sequential
DCT (SOF0/1, interleaved or one-scan-per-component multi-scan) AND
progressive (SOF2 - spectral selection + successive approximation, the
libjpeg-default script shape).  Scans decode into
per-component coefficient arrays (marker parse DQT/DHT/SOFn/DRI/SOS,
canonical Huffman with byte unstuffing and restart markers, DC
first/refine, AC first with EOB runs, AC refinement per T.81 G.1.2.3);
dequantize + orthonormal float64 IDCT + nearest chroma upsampling +
BT.601 YCbCr->RGB run once at the end, so progressive and baseline
files carrying the same coefficients decode BYTE-IDENTICALLY - the
property the fixtures pin.  Grayscale, 3-component YCbCr at any
baseline sampling grid (4:4:4, 4:2:2, 4:2:0) and Adobe 4-component
CMYK/YCCK (APP14 transform, inverted-ink convention); 12-bit
precision (SOF1 extended sequential / SOF2 progressive: DC categories
to 15, 16-bit DQT, output reduced to 8-bit before color conversion);
arithmetic coding raises ``NotImplementedError`` - ``jpeg_dimensions``
still recovers width/height from ANY SOFn header so those rows keep
their metadata.

``encode_jpeg`` / ``encode_jpeg_progressive`` are the deterministic
fixture twins (genimg-style): same pipeline forward, canonical
single-length Huffman tables built so the all-ones codeword stays
unused.  Constant-color images round-trip EXACTLY (DC-only blocks,
quantizer 1); gradients round-trip within quantization tolerance - all
pinned in tests/test_multimodal_decode.py.
"""

from __future__ import annotations

import struct

import numpy as np


class JpegError(ValueError):
    """Malformed JPEG payload - contained into the error column."""


# --- shared tables -----------------------------------------------------------

def _zigzag() -> list[int]:
    """Natural-order index for each zigzag position (generated, not
    transcribed): T.81 alternates the traversal direction per
    anti-diagonal - odd diagonals walk down-left (increasing row),
    even diagonals up-right (decreasing row).  The round-5 version
    mis-ordered the even diagonals (the coordinate swap meant to flip
    the sort also transposed the emitted position); the twin-only
    goldens were blind to it, libjpeg cross-validation was not."""
    order = sorted(((r + c, r if (r + c) % 2 else -r, r, c)
                    for r in range(8) for c in range(8)))
    return [r * 8 + c for _, _, r, c in order]


ZIGZAG = _zigzag()  # zigzag position -> natural index

_COS = np.array([[np.cos((2 * n + 1) * k * np.pi / 16) for n in range(8)]
                 for k in range(8)])
_DCT = _COS * np.sqrt(2 / 8)
_DCT[0] = np.sqrt(1 / 8)  # orthonormal DCT-II basis rows


def dct2(block: np.ndarray) -> np.ndarray:
    return _DCT @ block @ _DCT.T


def _ycbcr_from_rgb(rgb: np.ndarray) -> np.ndarray:
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    return np.stack([
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ], axis=-1)


def _rgb_from_ycbcr(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    return np.stack([
        y + 1.402 * cr,
        y - 0.344136 * cb - 0.714136 * cr,
        y + 1.772 * cb,
    ], axis=-1)


# --- Huffman -----------------------------------------------------------------

class _HuffTable:
    """Canonical JPEG Huffman table from the DHT (bits, symbols) form."""

    __slots__ = ("lookup", "max_len")

    def __init__(self, counts: list[int], symbols: bytes):
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                if k >= len(symbols):
                    raise JpegError("DHT symbol underrun")
                self.lookup[(length, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1
        self.max_len = max((ln for ln, _ in self.lookup), default=0)


class _BitReader:
    """Entropy-segment bit reader: FF00 unstuffing, RSTn awareness."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        b = self.buf
        if self.pos >= len(b):
            raise JpegError("entropy segment truncated")
        byte = b[self.pos]
        if byte == 0xFF:
            nxt = b[self.pos + 1] if self.pos + 1 < len(b) else None
            if nxt == 0x00:
                self.pos += 2
            elif nxt is not None and 0xD0 <= nxt <= 0xD7:
                raise JpegError("hit restart marker mid-symbol")
            else:
                # EOI or another marker: the stream ran dry; pad with 1s
                # like every decoder (trailing EOB may be elided)
                self.acc = (self.acc << 8) | 0xFF
                self.n += 8
                return
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.n += 8

    def bits(self, k: int) -> int:
        while self.n < k:
            self._fill()
        self.n -= k
        out = (self.acc >> self.n) & ((1 << k) - 1)
        self.acc &= (1 << self.n) - 1
        return out

    def huff(self, table: _HuffTable) -> int:
        length = 0
        code = 0
        while length < 16:
            code = (code << 1) | self.bits(1)
            length += 1
            sym = table.lookup.get((length, code))
            if sym is not None:
                return sym
        raise JpegError("invalid Huffman code")

    def restart(self) -> None:
        """Consume an RSTn marker at a byte boundary; reset bit state."""
        self.acc = 0
        self.n = 0
        b = self.buf
        if (self.pos + 1 < len(b) and b[self.pos] == 0xFF
                and 0xD0 <= b[self.pos + 1] <= 0xD7):
            self.pos += 2
        else:
            raise JpegError("expected restart marker")


def _extend(value: int, size: int) -> int:
    """T.81 EXTEND: map the ``size``-bit amplitude to its signed value."""
    if size == 0:
        return 0
    if value < (1 << (size - 1)):
        return value - (1 << size) + 1
    return value


# --- marker-level parse ------------------------------------------------------

_SOF_ALL = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def _segments(buf: bytes):
    """Yield (marker, payload, payload_pos); stops at SOS or EOI."""
    if buf[:2] != b"\xff\xd8":
        raise JpegError("bad SOI")
    pos = 2
    n = len(buf)
    while pos + 4 <= n:
        if buf[pos] != 0xFF:
            raise JpegError(f"marker desync at {pos}")
        marker = buf[pos + 1]
        if marker == 0xD9:  # EOI
            return
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (length,) = struct.unpack_from(">H", buf, pos + 2)
        payload = buf[pos + 4 : pos + 2 + length]
        if len(payload) != length - 2:
            raise JpegError("truncated segment")
        yield marker, payload, pos + 4
        pos += 2 + length
        if marker == 0xDA:  # SOS: entropy data follows, caller takes over
            return
    raise JpegError("ran off the end before SOS/EOI")


def jpeg_dimensions(buf: bytes) -> tuple[int, int, int]:
    """(width, height, n_components) from the first SOFn header - works
    for progressive/arithmetic files the full decoder rejects."""
    for marker, payload, _ in _segments(buf):
        if marker in _SOF_ALL:
            if len(payload) < 6:
                raise JpegError("short SOF")
            _prec, h, w, nc = struct.unpack_from(">BHHB", payload, 0)
            return w, h, nc
    raise JpegError("no SOF marker")


# --- decoder -----------------------------------------------------------------

def _all_segments(buf: bytes):
    """Yield (marker, payload, payload_pos) across the WHOLE stream,
    skipping the entropy-coded data that follows each SOS (progressive
    files carry many scans)."""
    if buf[:2] != b"\xff\xd8":
        raise JpegError("bad SOI")
    pos = 2
    n = len(buf)
    while pos + 2 <= n:
        if buf[pos] != 0xFF:
            raise JpegError(f"marker desync at {pos}")
        marker = buf[pos + 1]
        if marker == 0xD9:  # EOI
            return
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if pos + 4 > n:
            raise JpegError("truncated segment")
        (length,) = struct.unpack_from(">H", buf, pos + 2)
        payload = buf[pos + 4 : pos + 2 + length]
        if len(payload) != length - 2:
            raise JpegError("truncated segment")
        yield marker, payload, pos + 4
        pos += 2 + length
        if marker == 0xDA:
            # skip entropy bytes to the next true marker (FF00 stuffing
            # and RSTn belong to the scan)
            while pos < n:
                if buf[pos] != 0xFF:
                    pos += 1
                elif pos + 1 < n and (buf[pos + 1] == 0x00
                                      or 0xD0 <= buf[pos + 1] <= 0xD7):
                    pos += 2
                else:
                    break
            if pos >= n:
                raise JpegError("ran off the end in entropy data")
    raise JpegError("no EOI")


def _block_baseline(reader: _BitReader, dc: _HuffTable, ac: _HuffTable,
                    coef: np.ndarray, pred: int,
                    dc_max: int = 11) -> int:
    """Sequential full-band block: DC diff + AC run-length.  ``dc_max``
    is 11 for 8-bit precision, 15 for 12-bit (T.81 F.1.2.1.2)."""
    size = reader.huff(dc)
    if size > dc_max:
        raise JpegError("DC size out of range")
    pred += _extend(reader.bits(size), size)
    coef[0] = pred
    k = 1
    while k < 64:
        rs = reader.huff(ac)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            break  # EOB
        k += r
        if k > 63:
            raise JpegError("AC index overflow")
        coef[ZIGZAG[k]] = _extend(reader.bits(s), s)
        k += 1
    return pred


def _dc_first(reader: _BitReader, dc: _HuffTable, coef: np.ndarray,
              pred: int, al: int, dc_max: int = 11) -> int:
    size = reader.huff(dc)
    if size > dc_max:
        raise JpegError("DC size out of range")
    pred += _extend(reader.bits(size), size)
    coef[0] = pred << al
    return pred


def _dc_refine(reader: _BitReader, coef: np.ndarray, al: int) -> None:
    # two's-complement OR: -6 | 1 == -5, exactly the T.81 successive-
    # approximation bit append for negative DC values
    if reader.bits(1):
        coef[0] = int(coef[0]) | (1 << al)


def _ac_first(reader: _BitReader, ac: _HuffTable, coef: np.ndarray,
              ss: int, se: int, al: int, eobrun: int) -> int:
    """Spectral-selection first pass (Ah=0): values arrive <<Al; EOB
    runs span whole blocks."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.huff(ac)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            eobrun = 1 << r
            if r:
                eobrun += reader.bits(r)
            return eobrun - 1  # this block is the first of the run
        k += r
        if k > se:
            raise JpegError("AC index overflow")
        coef[ZIGZAG[k]] = _extend(reader.bits(s), s) << al
        k += 1
    return 0


def _ac_refine(reader: _BitReader, ac: _HuffTable, coef: np.ndarray,
               ss: int, se: int, al: int, eobrun: int) -> int:
    """Successive-approximation AC refinement (T.81 G.1.2.3 / IJG
    decode_mcu_AC_refine): already-significant coefficients absorb one
    correction bit whenever the scan passes them; newly-significant
    ones arrive as +-1<<Al after a run of zero-HISTORY positions."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.huff(ac)
            r, s = rs >> 4, rs & 0x0F
            if s == 0 and r < 15:
                eobrun = 1 << r
                if r:
                    eobrun += reader.bits(r)
                break
            newval = 0
            if s:
                if s != 1:
                    raise JpegError("refinement size != 1")
                newval = p1 if reader.bits(1) else -p1
            # advance over r zero-history positions, correcting the
            # nonzero-history coefficients passed on the way
            while k <= se:
                z = ZIGZAG[k]
                cur = int(coef[z])
                if cur != 0:
                    if reader.bits(1) and (abs(cur) & p1) == 0:
                        coef[z] = cur + (p1 if cur > 0 else -p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                coef[ZIGZAG[k]] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            z = ZIGZAG[k]
            cur = int(coef[z])
            if cur != 0:
                if reader.bits(1) and (abs(cur) & p1) == 0:
                    coef[z] = cur + (p1 if cur > 0 else -p1)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_scan(buf: bytes, scan: dict, frame: dict, progressive: bool,
                 mcux: int, mcuy: int) -> None:
    byid = {c["id"]: c for c in frame["comps"]}
    sel = []
    for cid, td, ta in scan["sel"]:
        c = byid.get(cid)
        if c is None:
            raise JpegError("scan/frame component mismatch")
        sel.append((c, scan["huff"].get((0, td)), scan["huff"].get((1, ta))))
    ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
    if progressive:
        if ss > se or se > 63 or (ss == 0) != (se == 0):
            raise JpegError("bad spectral band")
        if ss > 0 and len(sel) != 1:
            raise JpegError("interleaved AC scan")
    elif not (ss == 0 and se == 63 and ah == 0 and al == 0):
        raise NotImplementedError("multi-band sequential scan")
    # DC-first scans huff-decode sizes; DC-refine reads raw bits only;
    # AC scans (and the baseline full band) huff-decode run/size pairs
    needs_dc = ss == 0 and (not progressive or ah == 0)
    needs_ac = not progressive or ss > 0
    for c, dc, ac in sel:
        if needs_dc and dc is None:
            raise JpegError("missing DHT table")
        if needs_ac and ac is None:
            raise JpegError("missing DHT table")
    reader = _BitReader(buf, scan["pos"])
    dri = scan["dri"]
    dc_max = 15 if frame.get("prec", 8) == 12 else 11
    pred = [0] * len(sel)
    eobrun = 0
    count = 0

    def maybe_restart() -> None:
        nonlocal pred, eobrun
        if dri and count and count % dri == 0:
            reader.restart()
            pred = [0] * len(sel)
            eobrun = 0

    if len(sel) > 1:  # interleaved: MCU order (DC or full-band only)
        for my in range(mcuy):
            for mx in range(mcux):
                maybe_restart()
                for si, (c, dc, ac) in enumerate(sel):
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            coef = c["coef"][my * c["v"] + by,
                                             mx * c["h"] + bx]
                            if not progressive:
                                pred[si] = _block_baseline(
                                    reader, dc, ac, coef, pred[si],
                                    dc_max)
                            elif ah == 0:
                                pred[si] = _dc_first(reader, dc, coef,
                                                     pred[si], al,
                                                     dc_max)
                            else:
                                _dc_refine(reader, coef, al)
                count += 1
    else:  # non-interleaved: the component's OWN block grid, row-major
        c, dc, ac = sel[0]
        for by in range(c["bh"]):
            for bx in range(c["bw"]):
                maybe_restart()
                coef = c["coef"][by, bx]
                if not progressive:
                    pred[0] = _block_baseline(reader, dc, ac, coef,
                                              pred[0], dc_max)
                elif ss == 0:
                    if ah == 0:
                        pred[0] = _dc_first(reader, dc, coef, pred[0],
                                            al, dc_max)
                    else:
                        _dc_refine(reader, coef, al)
                elif ah == 0:
                    eobrun = _ac_first(reader, ac, coef, ss, se, al,
                                       eobrun)
                else:
                    eobrun = _ac_refine(reader, ac, coef, ss, se, al,
                                        eobrun)
                count += 1


# --- arithmetic entropy coding (T.81 Annex D QM-coder + F.1.4/G models) -----

# QM-coder probability estimation state machine (ITU T.81 Table D.3
# + the non-adapting index-113 'fixed' state): (Qe, NLPS, NMPS, SW)
ARITH_QE = (
    (23069, 1, 1, 1),
    (9606, 14, 2, 0),
    (4372, 16, 3, 0),
    (2059, 18, 4, 0),
    (984, 20, 5, 0),
    (474, 23, 6, 0),
    (229, 25, 7, 0),
    (111, 28, 8, 0),
    (54, 30, 9, 0),
    (26, 33, 10, 0),
    (13, 35, 11, 0),
    (6, 9, 12, 0),
    (3, 10, 13, 0),
    (1, 12, 13, 0),
    (23167, 15, 15, 1),
    (16165, 36, 16, 0),
    (11506, 38, 17, 0),
    (8316, 39, 18, 0),
    (6073, 40, 19, 0),
    (4482, 42, 20, 0),
    (3311, 43, 21, 0),
    (2465, 45, 22, 0),
    (1839, 46, 23, 0),
    (1372, 48, 24, 0),
    (1030, 49, 25, 0),
    (771, 51, 26, 0),
    (576, 52, 27, 0),
    (433, 54, 28, 0),
    (324, 56, 29, 0),
    (245, 57, 30, 0),
    (183, 59, 31, 0),
    (138, 60, 32, 0),
    (104, 62, 33, 0),
    (78, 63, 34, 0),
    (59, 32, 35, 0),
    (44, 33, 9, 0),
    (23265, 37, 37, 1),
    (18508, 64, 38, 0),
    (14861, 65, 39, 0),
    (12017, 67, 40, 0),
    (9759, 68, 41, 0),
    (7987, 69, 42, 0),
    (6568, 70, 43, 0),
    (5400, 72, 44, 0),
    (4471, 73, 45, 0),
    (3700, 74, 46, 0),
    (3067, 75, 47, 0),
    (2552, 77, 48, 0),
    (2145, 78, 49, 0),
    (1798, 79, 50, 0),
    (1485, 48, 51, 0),
    (1246, 50, 52, 0),
    (1039, 50, 53, 0),
    (867, 51, 54, 0),
    (724, 52, 55, 0),
    (604, 53, 56, 0),
    (504, 54, 57, 0),
    (420, 55, 58, 0),
    (352, 56, 59, 0),
    (293, 57, 60, 0),
    (246, 58, 61, 0),
    (203, 59, 62, 0),
    (171, 61, 63, 0),
    (143, 61, 32, 0),
    (23314, 65, 65, 1),
    (19716, 80, 66, 0),
    (16684, 81, 67, 0),
    (14296, 82, 68, 0),
    (12264, 83, 69, 0),
    (10556, 84, 70, 0),
    (9081, 86, 71, 0),
    (7903, 87, 72, 0),
    (6825, 87, 73, 0),
    (5966, 72, 74, 0),
    (5156, 72, 75, 0),
    (4508, 74, 76, 0),
    (3947, 74, 77, 0),
    (3409, 75, 78, 0),
    (2998, 77, 79, 0),
    (2624, 77, 48, 0),
    (22578, 80, 81, 1),
    (19740, 88, 82, 0),
    (17294, 89, 83, 0),
    (15325, 90, 84, 0),
    (13550, 91, 85, 0),
    (11950, 92, 86, 0),
    (10650, 93, 87, 0),
    (9494, 86, 71, 0),
    (21872, 88, 89, 1),
    (19625, 95, 90, 0),
    (17625, 96, 91, 0),
    (15906, 97, 92, 0),
    (14372, 99, 93, 0),
    (12980, 99, 94, 0),
    (11799, 93, 86, 0),
    (22184, 95, 96, 1),
    (20294, 101, 97, 0),
    (18405, 102, 98, 0),
    (16847, 103, 99, 0),
    (15421, 104, 100, 0),
    (14174, 99, 93, 0),
    (21041, 105, 102, 0),
    (19471, 106, 103, 0),
    (17977, 107, 104, 0),
    (16734, 103, 99, 0),
    (22055, 105, 106, 1),
    (20711, 108, 107, 0),
    (19333, 109, 103, 0),
    (21911, 110, 109, 0),
    (20559, 111, 107, 0),
    (23056, 110, 111, 1),
    (21794, 112, 109, 0),
    (23019, 112, 111, 1),
    (23069, 113, 113, 0),
)


class _ArithDecoder:
    """T.81 QM-coder decoder over one entropy-coded segment.

    Byte semantics match conformant JPEG streams (validated against
    libjpeg-produced files coefficient-exact in tests): a 0xFF data
    byte travels stuffed as FF 00; FF followed by anything else is a
    marker, after which the decoder feeds zero bytes."""

    __slots__ = ("buf", "pos", "c", "a", "ct", "hit_marker")

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.c = 0
        self.a = 0
        self.ct = -16   # forces the two initial byte fetches
        self.hit_marker = False

    def _next_byte(self) -> int:
        if self.hit_marker:
            return 0
        buf = self.buf
        if self.pos >= len(buf):
            self.hit_marker = True
            return 0
        data = buf[self.pos]
        self.pos += 1
        if data == 0xFF:
            while self.pos < len(buf) and buf[self.pos] == 0xFF:
                self.pos += 1
            if self.pos < len(buf) and buf[self.pos] == 0:
                self.pos += 1      # stuffing byte: 0xFF is data
                return 0xFF
            self.hit_marker = True  # real marker: zero-feed from here
            self.pos -= 1           # leave pos at the 0xFF
            return 0
        return data

    def decode(self, st: bytearray, i: int) -> int:
        # renormalization + byte input happen on ENTRY (the previous
        # call may have left A < 0x8000)
        a = self.a
        while a < 0x8000:
            self.ct -= 1
            if self.ct < 0:
                self.c = (self.c << 8) | self._next_byte()
                self.ct += 8
                if self.ct < 0:
                    self.ct += 1
                    if self.ct == 0:
                        a = 0x8000
            a <<= 1
        sv = st[i]
        qe, nlps, nmps, sw = ARITH_QE[sv & 0x7F]
        a -= qe
        temp = a << self.ct
        if self.c < temp:
            if a < 0x8000:
                if a < qe:      # conditional MPS/LPS exchange
                    bit = 1 - (sv >> 7)
                    st[i] = ((sv ^ (sw << 7)) & 0x80) | nlps
                else:
                    bit = sv >> 7
                    st[i] = (sv & 0x80) | nmps
            else:
                self.a = a
                return sv >> 7
        else:
            self.c -= temp
            if a < qe:
                bit = sv >> 7
                st[i] = (sv & 0x80) | nmps
            else:
                bit = 1 - (sv >> 7)
                st[i] = ((sv ^ (sw << 7)) & 0x80) | nlps
            a = qe
        self.a = a
        return bit


class _ArithEncoder:
    """T.81 QM-coder encoder (D.1) - the decoder's exact twin, pinned
    by random-sequence roundtrips and by libjpeg decoding its output
    coefficient-exact."""

    __slots__ = ("a", "c", "ct", "raw")

    def __init__(self):
        self.a = 0x10000
        self.c = 0
        self.ct = 11
        self.raw = bytearray()

    def _carry(self):
        j = len(self.raw) - 1
        while j >= 0 and self.raw[j] == 0xFF:
            self.raw[j] = 0
            j -= 1
        if j >= 0:
            self.raw[j] += 1

    def encode(self, st: bytearray, i: int, bit: int) -> None:
        sv = st[i]
        qe, nlps, nmps, sw = ARITH_QE[sv & 0x7F]
        self.a -= qe
        if bit != (sv >> 7):
            # LPS; conditional exchange when the MPS interval is smaller
            if self.a >= qe:
                self.c += self.a
                self.a = qe
            st[i] = ((sv ^ (sw << 7)) & 0x80) | nlps
        else:
            if self.a >= 0x8000:
                return                      # no renorm, no estimation
            if self.a < qe:
                self.c += self.a
                self.a = qe
            st[i] = (sv & 0x80) | nmps
        while True:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                temp = self.c >> 19
                if temp > 0xFF:
                    self._carry()
                    self.raw.append(temp & 0xFF)
                else:
                    self.raw.append(temp)
                self.c &= 0x7FFFF
                self.ct = 8
            if self.a >= 0x8000:
                break

    def finish(self) -> bytes:
        # D.1.8: choose the codeword with the most trailing zeros
        temp = (self.a - 1 + self.c) & 0xFFFF0000
        self.c = temp + 0x8000 if temp < self.c else temp
        self.c <<= self.ct
        if self.c & 0xF8000000:
            self._carry()
        self.raw.append((self.c >> 19) & 0xFF)
        self.raw.append((self.c >> 11) & 0xFF)
        # drop trailing zero bytes (the decoder zero-feeds past the
        # marker anyway), then stuff FF -> FF 00
        while self.raw and self.raw[-1] == 0:
            self.raw.pop()
        out = bytearray()
        for b in self.raw:
            out.append(b)
            if b == 0xFF:
                out.append(0)
        return bytes(out)


_ARITH_FIXED = 113  # the non-adapting ~0.5 state (Qe 0x5A1D, no moves)


def _decode_scan_arith(buf: bytes, scan: dict, frame: dict,
                       progressive: bool, mcux: int, mcuy: int) -> None:
    """Arithmetic-coded scan (SOF9 sequential / SOF10 progressive):
    the QM decision models of T.81 F.1.4 (DC sign/magnitude trees with
    L/U difference conditioning, AC per-index EOB/run/magnitude bins
    with the Kx split) and G.2 (progressive first/refinement passes).
    Statistics reset at scan start and at every restart, per F.1.4.4.
    """
    byid = {c["id"]: c for c in frame["comps"]}
    sel = []
    for cid, td, ta in scan["sel"]:
        c = byid.get(cid)
        if c is None:
            raise JpegError("scan/frame component mismatch")
        sel.append((c, td, ta))
    ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
    if progressive:
        if ss > se or se > 63 or (ss == 0) != (se == 0):
            raise JpegError("bad spectral band")
        if ss > 0 and len(sel) != 1:
            raise JpegError("interleaved AC scan")
    elif not (ss == 0 and se == 63 and ah == 0 and al == 0):
        raise NotImplementedError("multi-band sequential arith scan")
    cond = scan["cond"]

    dc_stats: dict[int, bytearray] = {}
    ac_stats: dict[int, bytearray] = {}
    fixed = bytearray([_ARITH_FIXED])

    def reset_stats():
        for _c, td, ta in sel:
            dc_stats[td] = bytearray(64)
            ac_stats[ta] = bytearray(256)
        fixed[0] = _ARITH_FIXED

    def decode_dc(dec, c, td):
        """Sequential / progressive-first DC difference (F.1.4.4.1)."""
        L, U = cond.get((0, td), (0, 1))
        st = dc_stats[td]
        s0 = c["dc_ctx"]
        if not dec.decode(st, s0):
            c["dc_ctx"] = 0
            return 0
        sign = dec.decode(st, s0 + 1)
        sp = s0 + 2 + sign
        m = dec.decode(st, sp)
        if m:
            sp = 20
            while dec.decode(st, sp):
                m <<= 1
                if m == 0x8000:
                    raise JpegError("arith DC magnitude overflow")
                sp += 1
        if m < (1 << L) >> 1:
            c["dc_ctx"] = 0
        elif m > (1 << U) >> 1:
            c["dc_ctx"] = 12 + sign * 4
        else:
            c["dc_ctx"] = 4 + sign * 4
        v = m
        sp += 14
        while m:
            m >>= 1
            if m and dec.decode(st, sp):
                v |= m
        v += 1
        return -v if sign else v

    def decode_ac_run(dec, ta, coef, k_from, k_to, shift):
        """Sequential full-band / progressive-first AC (F.1.4.4.2)."""
        kx = cond.get((1, ta), 5)
        st = ac_stats[ta]
        k = k_from
        while k <= k_to:
            base = 3 * (k - 1)
            if dec.decode(st, base):
                break                      # EOB
            while not dec.decode(st, base + 1):
                base += 3
                k += 1
                if k > k_to:
                    raise JpegError("arith AC run overflow")
            sign = dec.decode(fixed, 0)
            sp = base + 2
            m = dec.decode(st, sp)
            if m:
                if dec.decode(st, sp):
                    m = 2
                    sp = 189 if k <= kx else 217
                    while dec.decode(st, sp):
                        m <<= 1
                        if m == 0x8000:
                            raise JpegError(
                                "arith AC magnitude overflow")
                        sp += 1
            v = m
            sp += 14
            while m:
                m >>= 1
                if m and dec.decode(st, sp):
                    v |= m
            v += 1
            coef[ZIGZAG[k]] = (-v if sign else v) << shift
            k += 1

    def decode_ac_refine(dec, ta, coef, p1, m1):
        st = ac_stats[ta]
        kex = se
        while kex > 0 and coef[ZIGZAG[kex]] == 0:
            kex -= 1
        k = ss
        while k <= se:
            base = 3 * (k - 1)
            if k > kex and dec.decode(st, base):
                break                      # EOB
            while True:
                cur = int(coef[ZIGZAG[k]])
                if cur:
                    if dec.decode(st, base + 2):
                        coef[ZIGZAG[k]] = cur + (m1 if cur < 0 else p1)
                    break
                if dec.decode(st, base + 1):
                    coef[ZIGZAG[k]] = m1 if dec.decode(fixed, 0)                         else p1
                    break
                base += 3
                k += 1
                if k > se:
                    raise JpegError("arith AC refine overflow")
            k += 1

    dri = scan["dri"]
    for c, _td, _ta in sel:
        c["dc_ctx"] = 0
        c["dc_pred"] = 0
    reset_stats()
    dec = _ArithDecoder(buf, scan["pos"])
    count = 0

    def maybe_restart():
        nonlocal dec
        if dri and count and count % dri == 0:
            # skip to just past the RSTn marker, reinit everything
            p = dec.pos
            while p + 1 < len(buf) and not (
                    buf[p] == 0xFF and 0xD0 <= buf[p + 1] <= 0xD7):
                p += 1
            if p + 1 >= len(buf):
                raise JpegError("missing restart marker")
            reset_stats()
            for c, _td, _ta in sel:
                c["dc_ctx"] = 0
                c["dc_pred"] = 0
            dec = _ArithDecoder(buf, p + 2)

    needs_dc = ss == 0
    if len(sel) > 1:
        for my in range(mcuy):
            for mx in range(mcux):
                maybe_restart()
                for c, td, ta in sel:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            coef = c["coef"][my * c["v"] + by,
                                             mx * c["h"] + bx]
                            if not progressive:
                                c["dc_pred"] += decode_dc(dec, c, td)
                                coef[0] = c["dc_pred"]
                                decode_ac_run(dec, ta, coef, 1, 63, 0)
                            elif ah == 0:
                                c["dc_pred"] += decode_dc(dec, c, td)
                                coef[0] = c["dc_pred"] << al
                            else:
                                if dec.decode(fixed, 0):
                                    coef[0] = int(coef[0]) | (1 << al)
                count += 1
    else:
        c, td, ta = sel[0]
        p1 = 1 << al
        m1 = (-1) << al
        for by in range(c["bh"]):
            for bx in range(c["bw"]):
                maybe_restart()
                coef = c["coef"][by, bx]
                if not progressive:
                    # non-interleaved SEQUENTIAL scan: the component's
                    # own block grid, full band per block
                    c["dc_pred"] += decode_dc(dec, c, td)
                    coef[0] = c["dc_pred"]
                    decode_ac_run(dec, ta, coef, 1, 63, 0)
                elif needs_dc:
                    if ah == 0:
                        c["dc_pred"] += decode_dc(dec, c, td)
                        coef[0] = c["dc_pred"] << al
                    else:
                        if dec.decode(fixed, 0):
                            coef[0] = int(coef[0]) | (1 << al)
                elif ah == 0:
                    decode_ac_run(dec, ta, coef, ss, se, al)
                else:
                    decode_ac_refine(dec, ta, coef, p1, m1)
                count += 1


def decode_jpeg(buf: bytes) -> tuple[int, int, bytes]:
    """Baseline OR progressive JPEG -> (width, height, 8-bit samples);
    1 component stays grayscale, 3 components convert YCbCr->RGB.

    Scans decode into per-component coefficient arrays (baseline is the
    one-scan special case of the same machinery); dequantize + IDCT +
    upsample + color happen once at the end, so a progressive file and
    a baseline file carrying the same quantized coefficients decode to
    BYTE-IDENTICAL samples - the property the fixtures pin."""
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _HuffTable] = {}  # (class, id)
    arith_cond: dict[tuple[int, int], object] = {}   # DAC conditioning
    frame = None
    progressive = False
    arith = False
    restart_interval = 0
    adobe_transform = None
    scans: list[dict] = []
    for marker, payload, ppos in _all_segments(buf):
        if marker == 0xEE and payload[:5] == b"Adobe":  # APP14
            if len(payload) >= 12:
                adobe_transform = payload[11]
        elif marker == 0xDB:  # DQT
            i = 0
            while i < len(payload):
                pq, tq = payload[i] >> 4, payload[i] & 0x0F
                i += 1
                if pq == 0:
                    vals = np.frombuffer(payload[i : i + 64],
                                         dtype=np.uint8).astype(np.int32)
                    i += 64
                elif pq == 1:
                    vals = np.frombuffer(payload[i : i + 128],
                                         dtype=">u2").astype(np.int32)
                    i += 128
                else:
                    raise JpegError(f"DQT precision {pq}")
                if len(vals) != 64:
                    raise JpegError("short DQT")
                nat = np.zeros(64, dtype=np.int32)
                nat[ZIGZAG] = vals
                qtables[tq] = nat.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(payload):
                tc, th = payload[i] >> 4, payload[i] & 0x0F
                counts = list(payload[i + 1 : i + 17])
                total = sum(counts)
                syms = payload[i + 17 : i + 17 + total]
                if len(syms) != total:
                    raise JpegError("short DHT")
                htables[(tc, th)] = _HuffTable(counts, syms)
                i += 17 + total
        elif marker in _SOF_ALL:
            if marker in (0xC0, 0xC1):
                progressive = False
            elif marker == 0xC2:
                progressive = True
            elif marker == 0xC9:   # extended sequential, arithmetic
                progressive = False
                arith = True
            elif marker == 0xCA:   # progressive, arithmetic
                progressive = True
                arith = True
            else:
                raise NotImplementedError(f"JPEG SOF{marker - 0xC0}")
            if len(payload) < 6:
                raise JpegError("short SOF")
            prec, h, w, nc = struct.unpack_from(">BHHB", payload, 0)
            if prec not in (8, 12):
                raise NotImplementedError(f"JPEG precision {prec}")
            if nc not in (1, 3, 4):
                raise NotImplementedError(f"JPEG {nc}-component")
            if len(payload) < 6 + 3 * nc:
                raise JpegError("short SOF component list")
            comps = []
            for ci in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", payload,
                                                 6 + 3 * ci)
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                              "tq": tq})
            frame = {"w": w, "h": h, "comps": comps, "prec": prec}
        elif marker == 0xCC:  # DAC: arithmetic conditioning
            i = 0
            while i + 2 <= len(payload):
                tc, tb = payload[i] >> 4, payload[i] & 0x0F
                v = payload[i + 1]
                if tc == 0:
                    lo, hi = v & 0x0F, v >> 4
                    if lo > hi:
                        raise JpegError("bad DAC DC conditioning")
                    arith_cond[(0, tb)] = (lo, hi)
                else:
                    if not 1 <= v <= 63:
                        raise JpegError("bad DAC Kx")
                    arith_cond[(1, tb)] = v
                i += 2
        elif marker == 0xDD:  # DRI
            if len(payload) < 2:
                raise JpegError("short DRI")
            (restart_interval,) = struct.unpack_from(">H", payload, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise JpegError("SOS before SOF")
            if not payload:
                raise JpegError("empty SOS")
            ns = payload[0]
            if len(payload) < 1 + 2 * ns + 3:
                raise JpegError("short SOS")
            sel = []
            for s in range(ns):
                cs, tdta = payload[1 + 2 * s], payload[2 + 2 * s]
                sel.append((cs, tdta >> 4, tdta & 0x0F))
            ss = payload[1 + 2 * ns]
            se = payload[2 + 2 * ns]
            ahal = payload[3 + 2 * ns]
            scans.append({"sel": sel, "ss": ss, "se": se,
                          "ah": ahal >> 4, "al": ahal & 0x0F,
                          "pos": ppos + len(payload),
                          "huff": dict(htables),
                          "cond": dict(arith_cond),
                          "dri": restart_interval})
    if frame is None or not scans:
        raise JpegError("missing SOF/SOS")
    if not progressive and len(scans) > 1:
        # multi-scan SEQUENTIAL: the common layout is one
        # non-interleaved scan per component, each coding that
        # component's own block grid exactly once (subset-INTERLEAVED
        # sequential scans have a different MCU geometry and stay out)
        if any(len(s["sel"]) != 1 for s in scans):
            raise NotImplementedError(
                "subset-interleaved multi-scan sequential JPEG")
        coded = [cid for s in scans for cid, _td, _ta in s["sel"]]
        if sorted(coded) != sorted(c["id"] for c in frame["comps"]):
            raise JpegError("scan/frame component coverage mismatch")
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    if w == 0 or h == 0:
        raise JpegError("bad dimensions")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if not (1 <= hmax <= 4 and 1 <= vmax <= 4) or \
            any(c["h"] < 1 or c["v"] < 1 for c in comps):
        raise JpegError("bad sampling factors")
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    for c in comps:
        comp_w = (w * c["h"] + hmax - 1) // hmax
        comp_h = (h * c["v"] + vmax - 1) // vmax
        c["bw"] = (comp_w + 7) // 8
        c["bh"] = (comp_h + 7) // 8
        c["coef"] = np.zeros((mcuy * c["v"], mcux * c["h"], 64),
                             dtype=np.int32)
    for scan in scans:
        if arith:
            _decode_scan_arith(buf, scan, frame, progressive, mcux,
                               mcuy)
        else:
            _decode_scan(buf, scan, frame, progressive, mcux, mcuy)
    out_planes = []
    for c in comps:
        q = qtables.get(c["tq"])
        if q is None:
            raise JpegError("missing DQT table")
        bh_pad, bw_pad = c["coef"].shape[:2]
        blocks = (c["coef"].reshape(-1, 8, 8) * q).astype(np.float64)
        prec = frame.get("prec", 8)
        spatial = np.einsum("ij,njk,kl->nil", _DCT.T, blocks,
                            _DCT) + float(1 << (prec - 1))
        p = (spatial.reshape(bh_pad, bw_pad, 8, 8)
             .transpose(0, 2, 1, 3).reshape(bh_pad * 8, bw_pad * 8))
        if prec == 12:
            # reduce to the 8-bit domain BEFORE color conversion (the
            # chroma center 2048 lands on 128, so downstream math -
            # BT.601, CMYK inversion, clipping - is precision-agnostic)
            p = p / 16.0
        if c["h"] != hmax or c["v"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0),
                          hmax // c["h"], axis=1)
        out_planes.append(p[:h, :w])
    stacked = np.stack(out_planes, axis=-1)
    if len(comps) == 3:
        stacked = _rgb_from_ycbcr(stacked)
    elif len(comps) == 4:
        # Adobe CMYK/YCCK (APP14 transform 2 = YCCK: the CMY channels
        # travel as YCbCr of their INVERSES).  Adobe stores ink values
        # inverted, so stored bytes s relate to ink i by i = 255 - s and
        # RGB = (255-C)(255-K)/255 = s_cmy * s_k / 255 - the libjpeg
        # convention real decoders follow.
        if adobe_transform == 2:
            stacked = np.concatenate(
                [_rgb_from_ycbcr(stacked[..., :3]), stacked[..., 3:]],
                axis=-1)
        elif adobe_transform not in (None, 0):
            raise NotImplementedError(
                f"Adobe transform {adobe_transform} for 4 components")
        clipped = np.clip(stacked, 0.0, 255.0)
        stacked = clipped[..., :3] * clipped[..., 3:4] / 255.0
    samples = np.clip(np.rint(stacked), 0, 255).astype(np.uint8)
    return w, h, samples.tobytes()


# --- arithmetic encoder twin -------------------------------------------------

def _arith_encode_dc(enc, dc_st, comp_state, td_cond, v):
    """Mirror of the decoder's DC model (T.81 F.1.4.4.1.1)."""
    L, U = td_cond
    s0 = comp_state["ctx"]
    if v == 0:
        enc.encode(dc_st, s0, 0)
        comp_state["ctx"] = 0
        return
    enc.encode(dc_st, s0, 1)
    sign = 1 if v < 0 else 0
    enc.encode(dc_st, s0 + 1, sign)
    va = abs(v) - 1
    sp = s0 + 2 + sign
    m = 0
    if va:
        enc.encode(dc_st, sp, 1)
        m = 1
        v2 = va
        sp = 20
        while v2 >> 1:
            v2 >>= 1
            enc.encode(dc_st, sp, 1)
            m <<= 1
            sp += 1
    enc.encode(dc_st, sp, 0)
    if m < (1 << L) >> 1:
        comp_state["ctx"] = 0
    elif m > (1 << U) >> 1:
        comp_state["ctx"] = 12 + sign * 4
    else:
        comp_state["ctx"] = 4 + sign * 4
    sp += 14
    mm = m
    while mm:
        mm >>= 1
        if mm:
            enc.encode(dc_st, sp, 1 if (va & mm) else 0)


def _arith_encode_ac(enc, ac_st, fixed, kx, zz, k_from, k_to):
    """Mirror of the decoder's AC model (T.81 F.1.4.4.2)."""
    ke = k_to
    while ke >= k_from and zz[ke] == 0:
        ke -= 1
    k = k_from
    while k <= ke:
        base = 3 * (k - 1)
        enc.encode(ac_st, base, 0)          # not EOB
        while zz[k] == 0:
            enc.encode(ac_st, base + 1, 0)
            base += 3
            k += 1
        enc.encode(ac_st, base + 1, 1)
        v = zz[k]
        sign = 1 if v < 0 else 0
        enc.encode(fixed, 0, sign)
        va = abs(v) - 1
        sp = base + 2
        m = 0
        if va:
            enc.encode(ac_st, sp, 1)
            m = 1
            if va >> 1:
                enc.encode(ac_st, sp, 1)
                m = 2
                v2 = va >> 1
                sp = 189 if k <= kx else 217
                while v2 >> 1:
                    v2 >>= 1
                    enc.encode(ac_st, sp, 1)
                    m <<= 1
                    sp += 1
                enc.encode(ac_st, sp, 0)
            else:
                enc.encode(ac_st, sp, 0)
        else:
            enc.encode(ac_st, sp, 0)
        sp += 14
        mm = m
        while mm:
            mm >>= 1
            if mm:
                enc.encode(ac_st, sp, 1 if (va & mm) else 0)
        k += 1
    if k <= k_to:
        enc.encode(ac_st, 3 * (k - 1), 1)   # EOB


def encode_jpeg_arith(width: int, height: int, pixels: bytes, *,
                      gray: bool = False, subsampling: str = "444",
                      quant: int = 1) -> bytes:
    """Deterministic SEQUENTIAL ARITHMETIC JPEG (SOF9) twin: same
    coefficient plan as ``encode_jpeg``, QM-coded entropy layer with
    default conditioning (L=0, U=1, Kx=5; a DAC segment spells it out).
    libjpeg decodes the output coefficient-exact (tests)."""
    nc = 1 if gray else 3
    samp, comp_blocks, q, mcux, mcuy = _plan_coefficients(
        width, height, pixels, gray, subsampling, quant)
    out = bytearray(b"\xff\xd8")

    def seg(marker: int, payload: bytes) -> None:
        out.extend(b"\xff" + bytes([marker])
                   + struct.pack(">H", len(payload) + 2) + payload)

    zz_q = np.empty(64, dtype=np.int32)
    zz_q[:] = q.reshape(64)[ZIGZAG]
    seg(0xDB, bytes([0x00]) + bytes(int(v) for v in zz_q))
    sof = bytearray(struct.pack(">BHHB", 8, height, width, nc))
    for ci, (hs, vs) in enumerate(samp):
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    seg(0xC9, bytes(sof))
    # DAC: explicit default conditioning for every table id used
    seg(0xCC, bytes([0x00, (1 << 4) | 0, 0x10, 5]))
    sos = bytearray([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    seg(0xDA, bytes(sos))

    enc = _ArithEncoder()
    dc_st = bytearray(64)
    ac_st = bytearray(256)
    fixed = bytearray([_ARITH_FIXED])
    states = [{"ctx": 0, "pred": 0} for _ in samp]
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (hs, vs) in enumerate(samp):
                for by in range(vs):
                    for bx in range(hs):
                        flat = comp_blocks[ci][my * vs + by,
                                               mx * hs + bx].reshape(64)
                        zz = [int(flat[ZIGZAG[k]]) for k in range(64)]
                        diff = zz[0] - states[ci]["pred"]
                        states[ci]["pred"] = zz[0]
                        _arith_encode_dc(enc, dc_st, states[ci],
                                         (0, 1), diff)
                        _arith_encode_ac(enc, ac_st, fixed, 5, zz,
                                         1, 63)
    out.extend(enc.finish())
    out.extend(b"\xff\xd9")
    return bytes(out)


# --- encoder (deterministic fixture twin) ------------------------------------

def _canonical_single_length(symbols: list[int]) -> tuple[list[int], bytes]:
    """All symbols at one length L with 2^L > n, so the all-ones code is
    never assigned (T.81 writers avoid it; keeps padding unambiguous)."""
    n = len(symbols)
    length = max(2, (n + 1).bit_length())
    counts = [0] * 16
    counts[length - 1] = n
    return counts, bytes(symbols)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def bits(self, value: int, k: int) -> None:
        self.acc = (self.acc << k) | (value & ((1 << k) - 1))
        self.n += k
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # stuffing
            self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.bits((1 << pad) - 1, pad)


def _size_of(v: int) -> int:
    return abs(v).bit_length()


def _plan_coefficients(width: int, height: int, pixels: bytes,
                       gray: bool, subsampling: str, quant: int,
                       bits: int = 8):
    """Shared encoder front half: color transform, chroma subsample,
    MCU padding, forward DCT + quantize.  Returns (samp, comp_blocks,
    q, mcux, mcuy) with comp_blocks[ci] an (bh_pad, bw_pad, 8, 8) int32
    array of quantized coefficients."""
    nc = 1 if gray else 3
    if len(pixels) != width * height * nc:
        raise ValueError("pixel buffer size mismatch")
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(
        height, width, nc).astype(np.float64)
    if gray:
        planes = [arr[..., 0]]
        samp = [(1, 1)]
    else:
        ycc = _ycbcr_from_rgb(arr)
        if subsampling == "444":
            samp = [(1, 1), (1, 1), (1, 1)]
        elif subsampling == "422":
            samp = [(2, 1), (1, 1), (1, 1)]
        elif subsampling == "420":
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            raise ValueError(f"subsampling {subsampling}")
        planes = [ycc[..., 0]]
        hmax = max(s[0] for s in samp)
        vmax = max(s[1] for s in samp)
        for ci in (1, 2):
            p = ycc[..., ci]
            fy, fx = vmax // samp[ci][1], hmax // samp[ci][0]
            if fy > 1 or fx > 1:
                py = ((height + fy - 1) // fy) * fy
                px = ((width + fx - 1) // fx) * fx
                padded = np.pad(p, ((0, py - height), (0, px - width)),
                                mode="edge")
                p = padded.reshape(py // fy, fy, px // fx, fx).mean((1, 3))
            planes.append(p)
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    q = np.full((8, 8), quant, dtype=np.int32)
    comp_blocks = []
    for (hs, vs), p in zip(samp, planes):
        ty, tx = mcuy * vs * 8, mcux * hs * 8
        padded = np.pad(p, ((0, ty - p.shape[0]), (0, tx - p.shape[1])),
                        mode="edge")
        blocks = np.zeros((mcuy * vs, mcux * hs, 8, 8), dtype=np.int32)
        for by in range(mcuy * vs):
            for bx in range(mcux * hs):
                block = (padded[by * 8 : by * 8 + 8,
                                bx * 8 : bx * 8 + 8] - 128.0)
                if bits == 12:
                    # 8-bit input scaled x16 into the 12-bit domain
                    # (level shift 2048 = 16*128), so quant=1 decode
                    # reduces back to the input exactly
                    block = block * 16.0
                blocks[by, bx] = np.rint(dct2(block) / q).astype(np.int32)
        comp_blocks.append(blocks)
    return samp, comp_blocks, q, mcux, mcuy


def encode_jpeg(width: int, height: int, pixels: bytes, *,
                gray: bool = False, subsampling: str = "444",
                quant: int = 1, restart_interval: int = 0,
                bits: int = 8) -> bytes:
    """Deterministic baseline JPEG from 8-bit samples (RGB or gray).

    ``quant`` fills both quantizer tables uniformly: 1 keeps DCT
    coefficients to rounding precision (constant-color images become
    exact), larger values exercise real quantization loss.  ``bits=12``
    writes an extended-sequential 12-bit-precision frame (SOF1, 16-bit
    DQT, DC categories up to 15) from the same 8-bit input scaled x16 -
    the decoder reduces back to 8-bit, so goldens stay comparable."""
    if bits not in (8, 12):
        raise ValueError("bits must be 8 or 12")
    nc = 1 if gray else 3
    samp, comp_blocks, q, mcux, mcuy = _plan_coefficients(
        width, height, pixels, gray, subsampling, quant, bits=bits)
    mcus: list[list[tuple[int, np.ndarray]]] = []
    for my in range(mcuy):
        for mx in range(mcux):
            mcu = []
            for ci, (hs, vs) in enumerate(samp):
                for by in range(vs):
                    for bx in range(hs):
                        mcu.append((ci, comp_blocks[ci][my * vs + by,
                                                        mx * hs + bx]))
            mcus.append(mcu)
    # one shared DC and one shared AC table over the actual symbol sets
    ac_set: set[int] = set()
    dc_set: set[int] = set()
    sim_pred = [0] * len(samp)
    count = 0
    for mcu in mcus:
        if restart_interval and count and count % restart_interval == 0:
            sim_pred = [0] * len(samp)
        for ci, coeffs in mcu:
            flat = coeffs.reshape(64)
            dc_set.add(_size_of(int(flat[0]) - sim_pred[ci]))
            sim_pred[ci] = int(flat[0])
            zz = [int(flat[i]) for i in ZIGZAG]
            run = 0
            for k in range(1, 64):
                if zz[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    ac_set.add(0xF0)
                    run -= 16
                ac_set.add((run << 4) | _size_of(zz[k]))
                run = 0
            if run:
                ac_set.add(0x00)  # EOB
        count += 1
    if not ac_set:
        ac_set.add(0x00)
    dc_counts, dc_symbols = _canonical_single_length(sorted(dc_set))
    ac_counts, ac_symbols = _canonical_single_length(sorted(ac_set))
    dc_table = _HuffTable(dc_counts, dc_symbols)
    ac_table = _HuffTable(ac_counts, ac_symbols)
    dc_code = {sym: (ln, code) for (ln, code), sym in dc_table.lookup.items()}
    ac_code = {sym: (ln, code) for (ln, code), sym in ac_table.lookup.items()}

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, payload: bytes) -> None:
        out.extend(b"\xff" + bytes([marker])
                   + struct.pack(">H", len(payload) + 2) + payload)

    zz_q = np.empty(64, dtype=np.int32)
    zz_q[:] = q.reshape(64)[ZIGZAG]
    if bits == 12:
        # 12-bit frames carry 16-bit DQT values (pq=1), exercising the
        # decoder's wide-table branch end-to-end
        seg(0xDB, bytes([0x10]) + b"".join(
            struct.pack(">H", int(v)) for v in zz_q))
    else:
        seg(0xDB, bytes([0x00]) + bytes(int(v) for v in zz_q))
    sof = bytearray(struct.pack(">BHHB", bits, height, width, nc))
    for ci, (hs, vs) in enumerate(samp):
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    # extended sequential (SOF1) for 12-bit, baseline (SOF0) for 8
    seg(0xC1 if bits == 12 else 0xC0, bytes(sof))
    seg(0xC4, bytes([0x00]) + bytes(dc_counts) + dc_symbols)
    seg(0xC4, bytes([0x10]) + bytes(ac_counts) + ac_symbols)
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytearray([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    seg(0xDA, bytes(sos))

    writer = _BitWriter()
    pred = [0] * len(samp)
    count = 0
    rst = 0
    for mcu in mcus:
        if restart_interval and count and count % restart_interval == 0:
            writer.flush()
            out.extend(writer.out)
            writer = _BitWriter()
            out.extend(b"\xff" + bytes([0xD0 + rst]))
            rst = (rst + 1) & 7
            pred = [0] * len(samp)
        for ci, coeffs in mcu:
            flat = coeffs.reshape(64)
            diff = int(flat[0]) - pred[ci]
            pred[ci] = int(flat[0])
            size = _size_of(diff)
            ln, code = dc_code[size]
            writer.bits(code, ln)
            if size:
                amp = diff if diff > 0 else diff + (1 << size) - 1
                writer.bits(amp, size)
            zz = [int(flat[i]) for i in ZIGZAG]
            run = 0
            for k in range(1, 64):
                if zz[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    ln, code = ac_code[0xF0]
                    writer.bits(code, ln)
                    run -= 16
                size = _size_of(zz[k])
                ln, code = ac_code[(run << 4) | size]
                writer.bits(code, ln)
                v = zz[k]
                amp = v if v > 0 else v + (1 << size) - 1
                writer.bits(amp, size)
                run = 0
            if run:
                ln, code = ac_code[0x00]
                writer.bits(code, ln)
        count += 1
    writer.flush()
    out.extend(writer.out)
    out.extend(b"\xff\xd9")
    return bytes(out)


# --- progressive encoder (fixture twin for the SOF2 decode paths) ------------

class _SymCollector:
    """Pass 1: record which Huffman symbols a scan will emit."""

    def __init__(self):
        self.syms: set[int] = set()

    def sym(self, s: int) -> None:
        self.syms.add(s)

    def bits(self, v: int, k: int) -> None:
        pass


class _ScanWriter:
    """Pass 2: emit the scan with a built code map."""

    def __init__(self, code: dict[int, tuple[int, int]]):
        self.w = _BitWriter()
        self.code = code

    def sym(self, s: int) -> None:
        ln, c = self.code[s]
        self.w.bits(c, ln)

    def bits(self, v: int, k: int) -> None:
        if k:
            self.w.bits(v, k)

    def finish(self) -> bytes:
        self.w.flush()
        return bytes(self.w.out)


def _pshift(v: int, al: int) -> int:
    """T.81 point transform: sign-preserving |v| >> Al."""
    return -((-v) >> al) if v < 0 else v >> al


def _emit_dc_first(out, blocks_iter, al: int) -> None:
    pred = [0, 0, 0]
    for ci, coef in blocks_iter:
        # DC point transform is an ARITHMETIC shift (T.81 G.1.2.1);
        # only AC uses the sign-preserving division _pshift.  The
        # two's-complement floor pairs with the decoder's OR-refinement
        v = int(coef[0, 0]) >> al
        diff = v - pred[ci]
        pred[ci] = v
        size = _size_of(diff)
        out.sym(size)
        if size:
            amp = diff if diff > 0 else diff + (1 << size) - 1
            out.bits(amp, size)


def _emit_dc_refine(out, blocks_iter, al: int) -> None:
    for _ci, coef in blocks_iter:
        out.bits((int(coef[0, 0]) >> al) & 1, 1)


def _emit_ac_first(out, blocks, ss: int, se: int, al: int) -> None:
    eobrun = 0

    def flush_eob() -> None:
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            out.sym(r << 4)
            out.bits(eobrun - (1 << r), r)
            eobrun = 0

    for coef in blocks:
        flat = coef.reshape(64)
        zz = [_pshift(int(flat[ZIGZAG[k]]), al) for k in range(64)]
        r = 0
        any_sym = False
        for k in range(ss, se + 1):
            if zz[k] == 0:
                r += 1
                continue
            flush_eob()
            while r > 15:
                out.sym(0xF0)
                r -= 16
            size = _size_of(zz[k])
            out.sym((r << 4) | size)
            v = zz[k]
            amp = v if v > 0 else v + (1 << size) - 1
            out.bits(amp, size)
            r = 0
            any_sym = True
        if r > 0 or not any_sym:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def _emit_ac_refine(out, blocks, ss: int, se: int, al: int) -> None:
    """Mirror of _ac_refine (IJG encode_mcu_AC_refine): corrections for
    already-significant coefficients are buffered and flushed after the
    symbol whose traversal the decoder reads them in."""
    eobrun = 0
    pending: list[int] = []

    def flush_eob() -> None:
        nonlocal eobrun, pending
        if eobrun:
            r = eobrun.bit_length() - 1
            out.sym(r << 4)
            out.bits(eobrun - (1 << r), r)
            for b in pending:
                out.bits(b, 1)
            eobrun = 0
            pending = []

    for coef in blocks:
        flat = coef.reshape(64)
        absv = [abs(int(flat[ZIGZAG[k]])) >> al for k in range(64)]
        sign = [1 if int(flat[ZIGZAG[k]]) > 0 else 0 for k in range(64)]
        eob = ss - 1
        for k in range(ss, se + 1):
            if absv[k] == 1:
                eob = k
        r = 0
        br: list[int] = []
        for k in range(ss, se + 1):
            temp = absv[k]
            if temp == 0:
                r += 1
                continue
            # emit required ZRLs BEFORE deciding correction-vs-new: the
            # decoder reads the buffered correction bits during the ZRL
            # traversal, so they must flush at the zero-history count,
            # not at the next newly-significant symbol (IJG
            # encode_mcu_AC_refine does exactly this)
            while r > 15 and k <= eob:
                flush_eob()
                out.sym(0xF0)
                for b in br:
                    out.bits(b, 1)
                br = []
                r -= 16
            if temp > 1:
                # already significant from an earlier scan: one
                # correction bit, read by the decoder as it passes
                br.append(temp & 1)
                continue
            # newly significant (temp == 1)
            flush_eob()
            out.sym((r << 4) | 1)
            out.bits(sign[k], 1)
            for b in br:
                out.bits(b, 1)
            br = []
            r = 0
        if r > 0 or br:
            eobrun += 1
            pending.extend(br)
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def encode_jpeg_progressive(width: int, height: int, pixels: bytes, *,
                            gray: bool = False, subsampling: str = "444",
                            quant: int = 1) -> bytes:
    """Deterministic PROGRESSIVE (SOF2) twin of ``encode_jpeg``.

    Scan script mirrors the libjpeg default shape - interleaved DC
    first pass at Al=1, DC refinement, then per-component AC spectral
    bands (1-5, 6-63) each with a successive-approximation first pass
    (Al=1) and a refinement pass (Ah=1, Al=0) - so all four progressive
    decode paths (_dc_first/_dc_refine/_ac_first/_ac_refine) are
    exercised.  Both files carry the SAME quantized coefficients, so
    progressive and baseline decodes are byte-identical.
    """
    nc = 1 if gray else 3
    samp, comp_blocks, q, mcux, mcuy = _plan_coefficients(
        width, height, pixels, gray, subsampling, quant)

    def mcu_blocks():
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (hs, vs) in enumerate(samp):
                    for by in range(vs):
                        for bx in range(hs):
                            yield ci, comp_blocks[ci][my * vs + by,
                                                      mx * hs + bx]

    def own_blocks(ci):
        # the component's OWN (non-MCU-padded) grid, row-major - the
        # non-interleaved scan order the decoder walks
        hs, vs = samp[ci]
        hmax = max(s[0] for s in samp)
        vmax = max(s[1] for s in samp)
        comp_w = (width * hs + hmax - 1) // hmax
        comp_h = (height * vs + vmax - 1) // vmax
        bw, bh = (comp_w + 7) // 8, (comp_h + 7) // 8
        for by in range(bh):
            for bx in range(bw):
                yield comp_blocks[ci][by, bx]

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, payload: bytes) -> None:
        out.extend(b"\xff" + bytes([marker])
                   + struct.pack(">H", len(payload) + 2) + payload)

    zz_q = np.empty(64, dtype=np.int32)
    zz_q[:] = q.reshape(64)[ZIGZAG]
    seg(0xDB, bytes([0x00]) + bytes(int(v) for v in zz_q))
    sof = bytearray(struct.pack(">BHHB", 8, height, width, nc))
    for ci, (hs, vs) in enumerate(samp):
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    seg(0xC2, bytes(sof))

    def emit_scan(tc: int, run, comps_sel, ss, se, ah, al,
                  needs_table: bool) -> None:
        """Two-pass: collect symbols, build a table, emit DHT+SOS+data."""
        if needs_table:
            col = _SymCollector()
            run(col)
            syms = sorted(col.syms) or [0]
            counts, symbols = _canonical_single_length(syms)
            table = _HuffTable(counts, symbols)
            code = {s: (ln, c) for (ln, c), s in table.lookup.items()}
            seg(0xC4, bytes([(tc << 4)]) + bytes(counts) + symbols)
            wr = _ScanWriter(code)
        else:
            wr = _ScanWriter({})
        run(wr)
        sos = bytearray([len(comps_sel)])
        for cid in comps_sel:
            sos += bytes([cid, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        seg(0xDA, bytes(sos))
        out.extend(wr.finish())

    all_ids = [ci + 1 for ci in range(nc)]
    # 1. DC first (interleaved, Al=1)
    emit_scan(0, lambda o: _emit_dc_first(o, mcu_blocks(), 1),
              all_ids, 0, 0, 0, 1, needs_table=True)
    # 2. DC refine (raw bits)
    emit_scan(0, lambda o: _emit_dc_refine(o, mcu_blocks(), 0),
              all_ids, 0, 0, 1, 0, needs_table=False)
    # 3+4. per component: AC bands first pass at Al=1
    for ci in range(nc):
        for ss, se in ((1, 5), (6, 63)):
            emit_scan(1, lambda o, ci=ci, ss=ss, se=se: _emit_ac_first(
                o, own_blocks(ci), ss, se, 1),
                [ci + 1], ss, se, 0, 1, needs_table=True)
    # 5+6. per component: AC refinement to full precision
    for ci in range(nc):
        for ss, se in ((1, 5), (6, 63)):
            emit_scan(1, lambda o, ci=ci, ss=ss, se=se: _emit_ac_refine(
                o, own_blocks(ci), ss, se, 0),
                [ci + 1], ss, se, 1, 0, needs_table=True)
    out.extend(b"\xff\xd9")
    return bytes(out)


def _emit_seq_blocks(dc_out, ac_out, bit_out, blocks) -> None:
    """Sequential full-band entropy over a block iterator; the three
    sinks let one routine serve the symbol-collection and bit-writing
    passes (dc_out/ac_out get symbols, bit_out gets amplitude bits)."""
    pred = 0
    for coef in blocks:
        flat = coef.reshape(64)
        diff = int(flat[0]) - pred
        pred = int(flat[0])
        size = _size_of(diff)
        dc_out(size)
        if size:
            amp = diff if diff > 0 else diff + (1 << size) - 1
            bit_out(amp, size)
        zz = [int(flat[i]) for i in ZIGZAG]
        run = 0
        for k in range(1, 64):
            if zz[k] == 0:
                run += 1
                continue
            while run > 15:
                ac_out(0xF0)
                run -= 16
            size = _size_of(zz[k])
            ac_out((run << 4) | size)
            v = zz[k]
            amp = v if v > 0 else v + (1 << size) - 1
            bit_out(amp, size)
            run = 0
        if run:
            ac_out(0x00)  # EOB


def encode_jpeg_multiscan(width: int, height: int, pixels: bytes, *,
                          gray: bool = False, subsampling: str = "444",
                          quant: int = 1, bits: int = 8) -> bytes:
    """SEQUENTIAL multi-scan twin of ``encode_jpeg``: one
    non-interleaved scan per component (the common scanner layout),
    per-scan Huffman tables, each scan walking the component's OWN
    block grid.  Decodes byte-identically to the interleaved baseline
    (the MCU-padding blocks it leaves uncoded sit outside the crop).
    ``bits=12`` mirrors ``encode_jpeg``'s 12-bit mode."""
    if bits not in (8, 12):
        raise ValueError("bits must be 8 or 12")
    nc = 1 if gray else 3
    samp, comp_blocks, q, mcux, mcuy = _plan_coefficients(
        width, height, pixels, gray, subsampling, quant, bits=bits)
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, payload: bytes) -> None:
        out.extend(b"\xff" + bytes([marker])
                   + struct.pack(">H", len(payload) + 2) + payload)

    zz_q = np.empty(64, dtype=np.int32)
    zz_q[:] = q.reshape(64)[ZIGZAG]
    if bits == 12:
        # 12-bit frames carry 16-bit DQT values (pq=1), exercising the
        # decoder's wide-table branch end-to-end
        seg(0xDB, bytes([0x10]) + b"".join(
            struct.pack(">H", int(v)) for v in zz_q))
    else:
        seg(0xDB, bytes([0x00]) + bytes(int(v) for v in zz_q))
    sof = bytearray(struct.pack(">BHHB", bits, height, width, nc))
    for ci, (hs, vs) in enumerate(samp):
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    # extended sequential (SOF1) for 12-bit, baseline (SOF0) for 8
    seg(0xC1 if bits == 12 else 0xC0, bytes(sof))

    for ci, (hs, vs) in enumerate(samp):
        comp_w = (width * hs + hmax - 1) // hmax
        comp_h = (height * vs + vmax - 1) // vmax
        bw, bh = (comp_w + 7) // 8, (comp_h + 7) // 8
        blocks = [comp_blocks[ci][by, bx]
                  for by in range(bh) for bx in range(bw)]
        dc_syms: set[int] = set()
        ac_syms: set[int] = set()
        _emit_seq_blocks(dc_syms.add, ac_syms.add, lambda v, k: None,
                         blocks)
        dcc, dcs = _canonical_single_length(sorted(dc_syms) or [0])
        acc, acs = _canonical_single_length(sorted(ac_syms) or [0])
        dc_code = {s: (ln, c) for (ln, c), s in
                   _HuffTable(dcc, dcs).lookup.items()}
        ac_code = {s: (ln, c) for (ln, c), s in
                   _HuffTable(acc, acs).lookup.items()}
        seg(0xC4, bytes([0x00]) + bytes(dcc) + dcs)
        seg(0xC4, bytes([0x10]) + bytes(acc) + acs)
        seg(0xDA, bytes([1, ci + 1, 0x00, 0, 63, 0]))
        writer = _BitWriter()

        def w_dc(s, writer=writer, code=dc_code):
            ln, c = code[s]
            writer.bits(c, ln)

        def w_ac(s, writer=writer, code=ac_code):
            ln, c = code[s]
            writer.bits(c, ln)

        _emit_seq_blocks(w_dc, w_ac, writer.bits, blocks)
        writer.flush()
        out.extend(writer.out)
    out.extend(b"\xff\xd9")
    return bytes(out)


def encode_jpeg_cmyk(width: int, height: int, cmyk: bytes, *,
                     transform: int = 2, quant: int = 1) -> bytes:
    """Adobe 4-component fixture twin: raw (non-inverted) CMYK ink
    samples in, APP14-tagged JPEG out - transform 0 stores inverted
    CMYK directly, transform 2 (YCCK) runs the inverted CMY through
    the YCbCr forward transform.  One non-interleaved scan per channel
    (the multi-scan layout the decoder walks per-component)."""
    if len(cmyk) != width * height * 4:
        raise ValueError("pixel buffer size mismatch")
    if transform not in (0, 2):
        raise ValueError(f"transform {transform}")
    arr = np.frombuffer(cmyk, dtype=np.uint8).reshape(
        height, width, 4).astype(np.float64)
    inv = 255.0 - arr  # Adobe stores ink inverted
    if transform == 2:
        chans = np.concatenate(
            [_ycbcr_from_rgb(inv[..., :3]), inv[..., 3:]], axis=-1)
    else:
        chans = inv
    mcux, mcuy = (width + 7) // 8, (height + 7) // 8
    q = np.full((8, 8), quant, dtype=np.int32)
    out = bytearray(b"\xff\xd8")

    def seg(marker: int, payload: bytes) -> None:
        out.extend(b"\xff" + bytes([marker])
                   + struct.pack(">H", len(payload) + 2) + payload)

    seg(0xEE, b"Adobe" + bytes([0, 100, 0, 0, 0, 0, transform]))
    zz_q = np.empty(64, dtype=np.int32)
    zz_q[:] = q.reshape(64)[ZIGZAG]
    seg(0xDB, bytes([0x00]) + bytes(int(v) for v in zz_q))
    sof = bytearray(struct.pack(">BHHB", 8, height, width, 4))
    for ci in range(4):
        sof += bytes([ci + 1, 0x11, 0])
    seg(0xC0, bytes(sof))

    for ci in range(4):
        p = np.pad(chans[..., ci],
                   ((0, mcuy * 8 - height), (0, mcux * 8 - width)),
                   mode="edge")
        blocks = []
        for by in range(mcuy):
            for bx in range(mcux):
                block = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                blocks.append(np.rint(dct2(block) / q).astype(np.int32))
        dc_syms: set[int] = set()
        ac_syms: set[int] = set()
        _emit_seq_blocks(dc_syms.add, ac_syms.add, lambda v, k: None,
                         blocks)
        dcc, dcs = _canonical_single_length(sorted(dc_syms) or [0])
        acc, acs = _canonical_single_length(sorted(ac_syms) or [0])
        dc_code = {s: (ln, c) for (ln, c), s in
                   _HuffTable(dcc, dcs).lookup.items()}
        ac_code = {s: (ln, c) for (ln, c), s in
                   _HuffTable(acc, acs).lookup.items()}
        seg(0xC4, bytes([0x00]) + bytes(dcc) + dcs)
        seg(0xC4, bytes([0x10]) + bytes(acc) + acs)
        seg(0xDA, bytes([1, ci + 1, 0x00, 0, 63, 0]))
        writer = _BitWriter()

        def w_dc(s, writer=writer, code=dc_code):
            ln, c = code[s]
            writer.bits(c, ln)

        def w_ac(s, writer=writer, code=ac_code):
            ln, c = code[s]
            writer.bits(c, ln)

        _emit_seq_blocks(w_dc, w_ac, writer.bits, blocks)
        writer.flush()
        out.extend(writer.out)
    out.extend(b"\xff\xd9")
    return bytes(out)
