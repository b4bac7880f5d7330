"""Stream filters (reference: /root/reference/src/filtering.rs).

``FlateDecode`` (zlib inflate) matches the reference.  Extensions beyond
the reference (which rejects everything else, filtering.rs:49-53):

- ``ASCIIHexDecode``, ``ASCII85Decode``, ``RunLengthDecode`` - trivially
  decodable pure-Python filters common in crawl PDFs;
- FlateDecode **PNG/TIFF predictors** (``/DecodeParms /Predictor 2|10-15``)
  - virtually every modern PDF writer emits predictor-compressed xref
  streams, making this the single most common open-failure cause at crawl
  scale.

No reference fixture uses any of these, so supporting them cannot break
byte-identity against the reference corpus.  The five other spec filters
are recognized-but-rejected (filtering.rs:50-53), and any other name is
an error too (filtering.rs:54).  Filter chains apply in order
(filtering.rs:80-91), each with its own DecodeParms entry.
"""

from __future__ import annotations

import re
import zlib

from .errors import CutError, ParseError

SUPPORTED = frozenset({
    b"FlateDecode", b"ASCIIHexDecode", b"ASCII85Decode", b"RunLengthDecode",
    b"LZWDecode",
})

# Explicitly unsupported filters fail hard (filtering.rs:50-53): the
# remaining four are image codecs / encryption, not byte filters.
UNSUPPORTED = frozenset({
    b"CCITTFaxDecode", b"JBIG2Decode", b"DCTDecode", b"JPXDecode", b"Crypt",
})

_HEX = {c: i for i, c in enumerate(b"0123456789abcdef")}
_HEX.update({c: i for i, c in enumerate(b"0123456789ABCDEF")})
_PDF_WS = frozenset(b"\x00\t\n\x0c\r ")


def check_filter_name(name: bytes) -> bytes:
    if name in SUPPORTED:
        return name
    if name in UNSUPPORTED:
        raise CutError("UnsupportedFilter", None, name.decode("latin-1"))
    raise ParseError("UnknownFilter", None, name.decode("latin-1"))


_PDF_WS_BYTES = bytes(_PDF_WS)
_NON_HEX_RE = re.compile(rb"[^0-9a-fA-F]")


def asciihex_decode(data: bytes) -> bytes:
    """ASCIIHexDecode per PDF 32000-1 7.4.2: hex pairs, PDF whitespace
    skipped, ``>`` is EOD (data after it ignored), an odd trailing digit
    is padded with 0, any other byte is an error.

    Vectorized: truncate at EOD, delete whitespace with ``translate``,
    validate with one regex scan, decode with ``bytes.fromhex``.
    Deleting whitespace preserves byte order, so the first invalid byte
    of the cleaned buffer is the first invalid byte the per-byte scan
    would have hit - the raised error is identical."""
    eod = data.find(0x3E)  # '>'
    if eod >= 0:
        data = data[:eod]
    cleaned = data.translate(None, _PDF_WS_BYTES)
    bad = _NON_HEX_RE.search(cleaned)
    if bad is not None:
        raise ParseError("AsciiHexDecodeError", None,
                         f"0x{bad.group()[0]:02x}")
    if len(cleaned) & 1:
        cleaned += b"0"
    return bytes.fromhex(cleaned.decode("ascii"))


def ascii85_decode(data: bytes) -> bytes:
    """ASCII85Decode per PDF 32000-1 7.4.3: base-85 groups of 5 chars
    ``!``..``u`` -> 4 bytes big-endian; ``z`` = four zero bytes (only at a
    group boundary); PDF whitespace skipped; ``~>`` is EOD; a final
    partial group of n chars (2..4) yields n-1 bytes (padded with ``u``);
    a 1-char final group or a group value > 2^32-1 is an error."""
    out = bytearray()
    group: list[int] = []
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        if c in _PDF_WS:
            i += 1
            continue
        if c == 0x7E:  # '~' -> expect '>' (EOD); trailing bytes ignored
            break
        if c == 0x7A:  # 'z'
            if group:
                raise ParseError("Ascii85DecodeError", None, "z inside group")
            out += b"\x00\x00\x00\x00"
            i += 1
            continue
        if not (0x21 <= c <= 0x75):  # '!'..'u'
            raise ParseError("Ascii85DecodeError", None, f"0x{c:02x}")
        group.append(c - 0x21)
        if len(group) == 5:
            v = 0
            for d in group:
                v = v * 85 + d
            if v > 0xFFFFFFFF:
                raise ParseError("Ascii85DecodeError", None, "group overflow")
            out += v.to_bytes(4, "big")
            group = []
        i += 1
    if group:
        if len(group) == 1:
            raise ParseError("Ascii85DecodeError", None, "1-char final group")
        k = len(group)
        v = 0
        for d in group + [84] * (5 - k):  # pad with 'u'
            v = v * 85 + d
        if v > 0xFFFFFFFF:
            raise ParseError("Ascii85DecodeError", None, "group overflow")
        out += v.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def ascii85_encode(data: bytes) -> bytes:
    out = bytearray()
    for j in range(0, len(data), 4):
        chunk = data[j : j + 4]
        k = len(chunk)
        v = int.from_bytes(chunk + b"\x00" * (4 - k), "big")
        if v == 0 and k == 4:
            out.append(0x7A)  # 'z'
            continue
        digits = []
        for _ in range(5):
            digits.append(v % 85)
            v //= 85
        out += bytes(0x21 + d for d in reversed(digits))[: k + 1]
    return bytes(out) + b"~>"


def runlength_decode(data: bytes) -> bytes:
    """RunLengthDecode per PDF 32000-1 7.4.5: length byte L in 0..127
    copies the next L+1 bytes literally; L in 129..255 repeats the next
    byte 257-L times; 128 is EOD.  Truncated input is an error."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        length = data[i]
        i += 1
        if length == 128:
            return bytes(out)
        if length < 128:
            end = i + length + 1
            if end > n:
                raise ParseError("RunLengthDecodeError", None, "truncated")
            out += data[i:end]
            i = end
        else:
            if i >= n:
                raise ParseError("RunLengthDecodeError", None, "truncated")
            out += bytes([data[i]]) * (257 - length)
            i += 1
    # spec requires the 128 EOD marker; tolerate its absence like most
    # readers only if the stream ends exactly on a run boundary
    return bytes(out)


def runlength_encode(data: bytes) -> bytes:
    """Literal-only RLE encoding (valid, not maximally compressed)."""
    out = bytearray()
    for j in range(0, len(data), 128):
        chunk = data[j : j + 128]
        out.append(len(chunk) - 1)
        out += chunk
    out.append(128)
    return bytes(out)


def lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """LZWDecode per PDF 32000-1 7.4.4 (TIFF-style LZW).

    9..12-bit codes packed MSB-first; 256 = clear-table, 257 = EOD; the
    code width grows when the table reaches ``2^width - early_change``
    (``/EarlyChange 1`` is the spec default)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                raise ParseError("LzwDecodeError", None, f"code {code}")
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
            prev = entry
            # libtiff-compatible early change: the decoder lags the
            # encoder by one table entry, so it widens at 2^w - EC
            # (511/1023/2047 for the default EarlyChange 1)
            if len(table) >= (1 << width) - early_change and width < 12:
                width += 1
    # EOD is required by the spec; tolerate its absence at end-of-data
    return bytes(out)


def lzw_encode(data: bytes, early_change: int = 1) -> bytes:
    """TIFF-style LZW encoder (for genpdf fixtures): leading clear-table,
    dictionary growth and width changes mirroring the decoder."""
    out = 0
    out_bits = 0
    buf = bytearray()

    def emit(code: int, width: int) -> None:
        nonlocal out, out_bits
        out = (out << width) | code
        out_bits += width
        while out_bits >= 8:
            buf.append((out >> (out_bits - 8)) & 0xFF)
            out_bits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(256, width)  # clear table
    seq = b""
    for i in range(len(data)):
        cand = seq + data[i : i + 1]
        if cand in table:
            seq = cand
            continue
        emit(table[seq], width)
        table[cand] = next_code
        next_code += 1
        # the decoder adds its matching entry only AFTER reading the
        # next code, so the encoder widens one entry later than the
        # decoder's 2^w - EC rule (at 2^w - EC + 1)
        if next_code >= (1 << width) - early_change + 1 and width < 12:
            width += 1
        if next_code >= 4096 - early_change:  # table full: restart
            emit(256, width)
            table = {bytes([j]): j for j in range(256)}
            next_code = 258
            width = 9
        seq = data[i : i + 1]
    if seq:
        emit(table[seq], width)
    emit(257, width)  # EOD
    if out_bits:
        buf.append((out << (8 - out_bits)) & 0xFF)
    return bytes(buf)


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def apply_predictor(data: bytes, predictor: int, colors: int = 1,
                    bpc: int = 8, columns: int = 1) -> bytes:
    """Undo a FlateDecode/LZWDecode predictor (PDF 32000-1 7.4.4.4).

    ``predictor`` 1 = none; 2 = TIFF horizontal differencing (8-bit
    components only here); >= 10 = PNG: each row carries a leading
    filter-type byte (0 None, 1 Sub, 2 Up, 3 Average, 4 Paeth) applied
    per the PNG spec with ``bpp = ceil(colors*bpc/8)`` byte lag.
    """
    if predictor <= 1:
        return data
    row_len = (colors * bpc * columns + 7) // 8
    if predictor == 2:
        if bpc != 8:
            raise ParseError("PredictorError", None,
                             f"TIFF predictor bpc={bpc} unsupported")
        out = bytearray(data)
        for r in range(0, len(out) - row_len + 1, row_len):
            for i in range(colors, row_len):
                out[r + i] = (out[r + i] + out[r + i - colors]) & 0xFF
        return bytes(out)
    if predictor < 10:
        raise ParseError("PredictorError", None, f"predictor {predictor}")
    bpp = max(1, (colors * bpc + 7) // 8)
    out = bytearray()
    prev = bytes(row_len)
    pos = 0
    n = len(data)
    while pos < n:
        ft = data[pos]
        pos += 1
        row = bytearray(data[pos : pos + row_len])
        if len(row) < row_len:
            raise ParseError("PredictorError", None, "truncated row")
        pos += row_len
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for i in range(bpp, row_len):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(row_len):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(row_len):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(row_len):
                left = row[i - bpp] if i >= bpp else 0
                upleft = prev[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + _paeth(left, prev[i], upleft)) & 0xFF
        else:
            raise ParseError("PredictorError", None, f"PNG filter {ft}")
        out += row
        prev = bytes(row)
    return bytes(out)


def png_predict_encode(data: bytes, columns: int, colors: int = 1,
                       bpc: int = 8, filter_type: int = 2) -> bytes:
    """Forward PNG prediction (for genpdf fixtures): prefix each row with
    ``filter_type`` and encode it (Up by default, like real xref writers)."""
    row_len = (colors * bpc * columns + 7) // 8
    bpp = max(1, (colors * bpc + 7) // 8)
    out = bytearray()
    prev = bytes(row_len)
    for r in range(0, len(data), row_len):
        row = data[r : r + row_len]
        out.append(filter_type)
        if filter_type == 0:
            out += row
        elif filter_type == 1:
            out += bytes((row[i] - (row[i - bpp] if i >= bpp else 0)) & 0xFF
                         for i in range(len(row)))
        elif filter_type == 2:
            out += bytes((row[i] - prev[i]) & 0xFF for i in range(len(row)))
        elif filter_type == 4:
            out += bytes((row[i] - _paeth(row[i - bpp] if i >= bpp else 0,
                                          prev[i],
                                          prev[i - bpp] if i >= bpp else 0))
                         & 0xFF for i in range(len(row)))
        else:
            raise ValueError(f"encode filter {filter_type}")
        prev = row
    return bytes(out)


def _int_parm(p: dict, key: bytes, default: int) -> int:
    """A DecodeParms value must be a direct integer (indirect refs and
    other types are a contained error, mirroring the /Length rule)."""
    v = p.get(key, default)
    if not isinstance(v, int) or isinstance(v, bool):
        raise ParseError("PredictorError", None,
                         f"bad {key.decode('latin-1')}")
    return v


def decode_chain(filters: list[bytes], content: bytes,
                 parms: list[dict | None] | None = None) -> bytes:
    """Apply each decoder in order (filtering.rs:80-91), with the aligned
    ``/DecodeParms`` entry (predictors) applied after inflate."""
    out = content
    for idx, name in enumerate(filters):
        p = parms[idx] if parms and idx < len(parms) else None
        if name == b"FlateDecode":
            try:
                out = zlib.decompress(out)
            except zlib.error as exc:
                raise ParseError("FlateDecodeError", None, str(exc)) from exc
            if p:
                out = apply_predictor(
                    out, _int_parm(p, b"Predictor", 1),
                    colors=_int_parm(p, b"Colors", 1),
                    bpc=_int_parm(p, b"BitsPerComponent", 8),
                    columns=_int_parm(p, b"Columns", 1))
        elif name == b"LZWDecode":
            out = lzw_decode(out, early_change=(
                _int_parm(p, b"EarlyChange", 1) if p else 1))
            if p:
                out = apply_predictor(
                    out, _int_parm(p, b"Predictor", 1),
                    colors=_int_parm(p, b"Colors", 1),
                    bpc=_int_parm(p, b"BitsPerComponent", 8),
                    columns=_int_parm(p, b"Columns", 1))
        elif name == b"ASCIIHexDecode":
            out = asciihex_decode(out)
        elif name == b"ASCII85Decode":
            out = ascii85_decode(out)
        elif name == b"RunLengthDecode":
            out = runlength_decode(out)
        else:
            check_filter_name(name)  # raises
    return out
