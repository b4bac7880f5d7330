"""PDF object kernels: typed ``bytes -> value`` parsers.

Faithful Python reimplementation of the reference's observable extraction
semantics (cited per function).  All parsers take ``(buf, pos)`` and return
``(value, new_pos)``; failure raises :class:`ParseError`.

Value representation:

- null          -> ``None``
- boolean       -> ``bool``
- integer       -> ``int``
- real          -> ``float``
- string        -> :class:`PdfString` (raw bytes, no decode)
- name          -> :class:`PdfName` (unescaped bytes)
- array         -> ``list``
- dictionary    -> ``dict[bytes, value]``
- stream        -> :class:`PdfStream` (structured dict + decoded content)
- indirect ref  -> :class:`Ref` ((object, generation))
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from . import lex
from .errors import CutError, ParseError
from .filters import check_filter_name, decode_chain

# ---------------------------------------------------------------------------
# value wrappers
# ---------------------------------------------------------------------------


class PdfString(bytes):
    """A PDF string: raw bytes, decode is a separate heuristic (strings/mod.rs:1-12)."""

    __slots__ = ()

    def decode_text(self) -> str:
        return decode_pdf_string(self)


class PdfName(bytes):
    """A PDF name, already ``#xx``-unescaped (name.rs:29-67)."""

    __slots__ = ()


@dataclass(frozen=True)
class Ref:
    """Typed indirect reference ``N G R`` (refs/reference.rs:33-56)."""

    object: int
    generation: int

    @property
    def id(self) -> tuple[int, int]:
        return (self.object, self.generation)


@dataclass
class PdfStream:
    """A stream: structured dict + *decoded* content (special/stream.rs:79-120)."""

    structured: dict
    content: bytes


# ---------------------------------------------------------------------------
# string decode heuristic (strings/mod.rs:59-97) - byte-identity critical
# ---------------------------------------------------------------------------


def decode_pdf_string(raw: bytes) -> str:
    """UTF-16BE if BOM, else Latin-1 (strings/mod.rs:73-96).

    Odd trailing byte after the BOM is silently dropped (chunks_exact);
    unpaired surrogates decode to U+FFFD (char::decode_utf16 semantics).
    """
    if raw.startswith(b"\xfe\xff"):
        body = raw[2:]
        body = body[: len(body) // 2 * 2]
        return body.decode("utf-16-be", errors="replace")
    return raw.decode("latin-1")


# ---------------------------------------------------------------------------
# numbers (primitives/numbers.rs)
# ---------------------------------------------------------------------------

_DIGITS = re.compile(rb"[0-9]+")
# winnow `float`: [+-]? ( digits [. digits?] | . digits ) [eE [+-]? digits]
_FLOAT = re.compile(rb"[+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?")


def parse_unsigned(buf: bytes, pos: int) -> tuple[int, int]:
    """Unsigned integer with optional leading ``+`` (numbers.rs:69-78)."""
    if buf[pos : pos + 1] == b"+":
        pos += 1
    m = _DIGITS.match(buf, pos)
    if m is None:
        raise ParseError("ExpectedDigits", pos)
    return int(m.group()), m.end()


def parse_signed(buf: bytes, pos: int) -> tuple[int, int]:
    """Signed integer with optional ``+``/``-`` (numbers.rs:80-107)."""
    neg = False
    b = buf[pos : pos + 1]
    if b == b"-":
        neg = True
        pos += 1
    elif b == b"+":
        pos += 1
    m = _DIGITS.match(buf, pos)
    if m is None:
        raise ParseError("ExpectedDigits", pos)
    n = int(m.group())
    return (-n if neg else n), m.end()


def parse_real(buf: bytes, pos: int) -> tuple[float, int]:
    """winnow ``float`` (numbers.rs:133-143)."""
    m = _FLOAT.match(buf, pos)
    if m is None:
        raise ParseError("ExpectedNumber", pos)
    return float(m.group()), m.end()


def recognize_real(buf: bytes, pos: int) -> tuple[bytes, int]:
    m = _FLOAT.match(buf, pos)
    if m is None:
        raise ParseError("ExpectedNumber", pos)
    return m.group(), m.end()


# ---------------------------------------------------------------------------
# simple keywords (primitives/boolean.rs, unit.rs)
# ---------------------------------------------------------------------------


def parse_bool(buf: bytes, pos: int) -> tuple[bool, int]:
    if buf[pos : pos + 4] == b"true":
        return True, pos + 4
    if buf[pos : pos + 5] == b"false":
        return False, pos + 5
    raise ParseError("ExpectedBoolean", pos)


def parse_null(buf: bytes, pos: int) -> tuple[None, int]:
    if buf[pos : pos + 4] == b"null":
        return None, pos + 4
    raise ParseError("ExpectedNull", pos)


# ---------------------------------------------------------------------------
# literal strings (special/strings/literal_string.rs)
# ---------------------------------------------------------------------------

# Escape table quirks are reproduced exactly (literal_string.rs:94-120):
#   \<LF>      -> nothing (line continuation)
#   \n         -> 0x0A        \r -> 0x0D
#   \<TAB>     -> 0x09        (NB: the *letter* ``t`` is NOT a valid escape)
#   \b         -> bytes [0x21, 0xA1]
#   \f         -> bytes [0x23, 0x2B]
#   \( \) \\   -> literal
#   \ooo       -> 1-3 octal digits, leading-zero padded; >255 is an error
#   anything else after ``\`` fails the whole string parse.
_LITERAL_ESCAPES = {
    0x0A: b"",
    ord("n"): b"\n",
    ord("r"): b"\r",
    0x09: b"\t",
    ord("b"): bytes([33, 161]),
    ord("f"): bytes([35, 43]),
    ord("("): b"(",
    ord(")"): b")",
    ord("\\"): b"\\",
}

_OCTAL = re.compile(rb"[0-7]{1,3}")


def _unescape_literal(inner: bytes) -> bytes:
    i = inner.find(b"\\")
    if i < 0:
        return inner
    out = bytearray(inner[:i])
    n = len(inner)
    while i < n:
        # invariant: inner[i] == backslash
        i += 1
        if i >= n:
            raise ParseError("BadEscape", i)
        b = inner[i]
        rep = _LITERAL_ESCAPES.get(b)
        if rep is not None:
            out += rep
            i += 1
        elif 0x30 <= b <= 0x37:
            m = _OCTAL.match(inner, i)
            val = int(m.group(), 8)
            if val > 255:
                # reference panics on octal overflow (literal_string.rs:133-141)
                raise ParseError("OctalOverflow", i)
            out.append(val)
            i = m.end()
        else:
            raise ParseError("BadEscape", i)
        j = inner.find(b"\\", i)
        if j < 0:
            out += inner[i:]
            break
        out += inner[i:j]
        i = j
    return bytes(out)


def parse_literal_string(buf: bytes, pos: int) -> tuple[PdfString, int]:
    """``( ... )`` with balanced parens and escapes (literal_string.rs:76-92)."""
    s, e, new_pos = lex.recognize_parens(buf, pos)
    return PdfString(_unescape_literal(buf[s:e])), new_pos


# ---------------------------------------------------------------------------
# hex strings (special/strings/hex_string.rs)
# ---------------------------------------------------------------------------

_HEX = re.compile(rb"[0-9a-fA-F]{1,2}")


def parse_hex_string(buf: bytes, pos: int) -> tuple[PdfString, int]:
    """``<A0FF..>``; odd final digit padded with trailing 0 (hex_string.rs:43-87).

    Note: at least one bigram is required (``<>`` fails) and whitespace
    inside the string is NOT allowed - both match the reference.
    """
    pos = lex.tag(buf, pos, b"<")
    out = bytearray()
    while True:
        m = _HEX.match(buf, pos)
        if m is None:
            break
        g = m.group()
        v = int(g, 16)
        if len(g) == 1:
            v *= 16
        out.append(v)
        pos = m.end()
    if not out:
        raise ParseError("EmptyHexString", pos)
    pos = lex.tag(buf, pos, b">")
    return PdfString(bytes(out)), pos


def parse_string(buf: bytes, pos: int) -> tuple[PdfString, int]:
    """``PDFString``: alt(hex, literal) (strings/mod.rs:100-111)."""
    try:
        return parse_hex_string(buf, pos)
    except ParseError:
        return parse_literal_string(buf, pos)


# ---------------------------------------------------------------------------
# names (special/name.rs)
# ---------------------------------------------------------------------------

# Name terminator set (name.rs:43): NB ``)``, ``%``, ``{``, ``}`` do NOT
# terminate a name in the reference.
_NAME_RE = re.compile(rb"/([^\r\n \t/<>\[\]\(]+)")
_HEX2 = re.compile(rb"[0-9a-fA-F]{1,2}")


def recognize_name(buf: bytes, pos: int) -> tuple[int, int, int]:
    """Return (content_start, content_end, new_pos) for ``/Name`` (name.rs:40-46)."""
    m = _NAME_RE.match(buf, pos)
    if m is None:
        raise ParseError("EmptyName", pos)
    return m.start(1), m.end(), m.end()


def parse_name(buf: bytes, pos: int) -> tuple[PdfName, int]:
    """``/Name`` with ``#xx`` unescaping (name.rs:48-67).

    Quirk preserved: the escape takes exactly 2 bytes after ``#`` but only
    the leading hex-digit prefix contributes; e.g. ``#4Z`` yields byte 0x04
    and drops the ``Z`` (hex_uint consumes what it can of the 2 bytes).
    """
    s, e, new_pos = recognize_name(buf, pos)
    content = buf[s:e]
    i = content.find(b"#")
    if i < 0:
        return PdfName(content), new_pos
    out = bytearray(content[:i])
    n = len(content)
    while i < n:
        i += 1  # skip '#'
        chunk = content[i : i + 2]
        if len(chunk) < 2:
            raise ParseError("BadNameEscape", i)
        m = _HEX2.match(chunk)
        if m is None:
            raise ParseError("BadNameEscape", i)
        out.append(int(m.group(), 16))
        i += 2
        j = content.find(b"#", i)
        if j < 0:
            out += content[i:]
            break
        out += content[i:j]
        i = j
    return PdfName(bytes(out)), new_pos


# ---------------------------------------------------------------------------
# references & indirect objects (special/refs/*)
# ---------------------------------------------------------------------------


def parse_reference_id(buf: bytes, pos: int) -> tuple[tuple[int, int], int]:
    """``N G`` separated by exactly one space byte (refs/id.rs:35-43)."""
    obj, pos = parse_unsigned(buf, pos)
    pos = lex.tag(buf, pos, b" ")
    gen, pos = parse_unsigned(buf, pos)
    return (obj, gen), pos


def parse_reference(buf: bytes, pos: int) -> tuple[Ref, int]:
    """``N G R`` - exactly one space before ``R`` (refs/reference.rs:48-56)."""
    (obj, gen), pos = parse_reference_id(buf, pos)
    pos = lex.tag(buf, pos, b" R")
    return Ref(obj, gen), pos


def parse_indirect(buf: bytes, pos: int, value_parser) -> tuple[tuple[int, int], object, int]:
    """``N G obj <ws> value <ws> endobj`` (refs/indirect.rs:29-60).

    Both whitespace runs are mandatory (multispace1).
    """
    (obj, gen), pos = parse_reference_id(buf, pos)
    pos = lex.tag(buf, pos, b" obj")
    pos = lex.skip_ws1(buf, pos)
    value, pos = value_parser(buf, pos)
    pos = lex.skip_ws1(buf, pos)
    pos = lex.tag(buf, pos, b"endobj")
    return (obj, gen), value, pos


# ---------------------------------------------------------------------------
# raw dictionaries (special/map.rs)
# ---------------------------------------------------------------------------


def recognize_raw_value(buf: bytes, pos: int) -> tuple[int, int, int]:
    """Recognize a value's byte span without parsing it (map.rs:118-135).

    Returns (start, end, new_pos).  Catch-all values run to the next ``/``
    and are right-stripped of whitespace, exactly like the reference.
    """
    b = buf[pos : pos + 1]
    if not b:
        raise ParseError("UnexpectedEof", pos)
    c = b[0]
    if c == 0x2F:  # '/'
        s, e, new_pos = recognize_name(buf, pos)
        return pos, new_pos, new_pos
    if c == 0x5B:  # '['
        s, e, new_pos = lex.recognize_brackets(buf, pos)
        return pos, new_pos, new_pos
    if c == 0x28:  # '('
        s, e, new_pos = lex.recognize_parens(buf, pos)
        return pos, new_pos, new_pos
    if c == 0x3C:  # '<'  (covers hex strings AND <<dicts>> via balanced scan)
        s, e, new_pos = lex.recognize_angles(buf, pos)
        return pos, new_pos, new_pos
    # catch-all: take till '/' (0..), rstrip whitespace (map.rs:102-116,130)
    j = buf.find(b"/", pos)
    if j < 0:
        j = len(buf)
    end = j
    while end > pos and buf[end - 1] in lex.WS_SET:
        end -= 1
    return pos, end, j


class RawDict:
    """Lazy dictionary: values kept as byte spans (map.rs:137-198)."""

    __slots__ = ("buf", "entries")

    def __init__(self, buf: bytes, entries: dict[bytes, tuple[int, int]]):
        self.buf = buf
        self.entries = entries

    def pop(self, key: bytes) -> tuple[int, int] | None:
        return self.entries.pop(key, None)

    def pop_and_parse(self, key: bytes, parser):
        """``pop_and_extract``: None if absent; ParseError if present-but-bad."""
        span = self.entries.pop(key, None)
        if span is None:
            return None
        value, _ = parser(self.buf, span[0])
        return value

    def require(self, key: bytes, parser):
        value = self.pop_and_parse(key, parser)
        if value is None:
            raise ParseError("MissingKey", None, key.decode("latin-1"))
        return value

    def __len__(self):
        return len(self.entries)

    def keys(self):
        return self.entries.keys()


def parse_raw_dict(buf: bytes, pos: int) -> tuple[RawDict, int]:
    """``<< /Key value ... >>`` with lazy values (map.rs:169-193).

    Unconsumed non-whitespace input inside the ``<<...>>`` block is an
    error, matching the reference's Cut.
    """
    inner_start, inner_end, new_pos = lex.recognize_double_angles(buf, pos)
    entries: dict[bytes, tuple[int, int]] = {}
    i = lex.skip_ws(buf, inner_start)
    while i < inner_end:
        try:
            name, i = parse_name(buf, i)
        except ParseError:
            break
        i = lex.skip_ws(buf, i)
        s, e, i = recognize_raw_value(buf, i)
        if e > inner_end:
            # the recognizer ran past the dict (catch-all find('/') can);
            # clamp to the block like the bounded input in the reference
            e = inner_end
            while e > s and buf[e - 1] in lex.WS_SET:
                e -= 1
            i = inner_end
        entries[bytes(name)] = (s, e)
        i = lex.skip_ws(buf, i)
    if i != inner_end:
        raise ParseError("TrailingDictContent", i)
    return RawDict(buf, entries), new_pos


def recognize_raw_dict(buf: bytes, pos: int) -> tuple[int, int, int]:
    return lex.recognize_double_angles(buf, pos)


# ---------------------------------------------------------------------------
# homogeneous containers
# ---------------------------------------------------------------------------


def parse_vec(buf: bytes, pos: int, item_parser) -> tuple[list, int]:
    """``[ e* ]`` whitespace-separated (primitives/vec.rs:23-38)."""
    pos = lex.tag(buf, pos, b"[")
    out = []
    while True:
        i = lex.skip_ws(buf, pos)
        try:
            value, j = item_parser(buf, i)
        except ParseError:
            break
        out.append(value)
        pos = j
    pos = lex.skip_ws(buf, pos)
    pos = lex.tag(buf, pos, b"]")
    return out, pos


def parse_fixed_array(buf: bytes, pos: int, item_parser, n: int) -> tuple[list, int]:
    """Length-checked array (primitives/array.rs:10-35)."""
    out, pos = parse_vec(buf, pos, item_parser)
    if len(out) != n:
        raise ParseError("WrongArrayLength", pos, f"want {n} got {len(out)}")
    return out, pos


def parse_tuple(buf: bytes, pos: int, *parsers) -> tuple[tuple, int]:
    """Whitespace-separated sequence, no brackets (primitives/tuple.rs:9-45)."""
    out = []
    first = True
    for p in parsers:
        if not first:
            pos = lex.skip_ws1(buf, pos)
        value, pos = p(buf, pos)
        out.append(value)
        first = False
    return tuple(out), pos


def parse_maybe_array(buf: bytes, pos: int, item_parser) -> tuple[list, int]:
    """Scalar promoted to 1-element list (special/maybe_array.rs:39-50).

    NB alt order matches the reference: scalar first, then array.
    """
    try:
        value, pos = item_parser(buf, pos)
        return [value], pos
    except CutError:
        raise
    except ParseError:
        return parse_vec(buf, pos, item_parser)


def parse_option(buf: bytes, pos: int, item_parser):
    """value or ``null`` (primitives/option.rs:13-24)."""
    try:
        return item_parser(buf, pos)
    except CutError:
        raise
    except ParseError:
        _, pos = parse_null(buf, pos)
        return None, pos


def parse_filter_name(buf: bytes, pos: int) -> tuple[bytes, int]:
    """A single ``/Filter`` name, validated (filtering.rs:44-57)."""
    name, pos = parse_name(buf, pos)
    return check_filter_name(bytes(name)), pos


def parse_filter_list(buf: bytes, pos: int) -> tuple[list[bytes], int]:
    """``MaybeArray<Filter>`` (stream.rs:29-30)."""
    return parse_maybe_array(buf, pos, parse_filter_name)


def parse_filter_list_lenient(buf: bytes, pos: int) -> tuple[list[bytes], int]:
    """Filter names WITHOUT the supported-set validation - for the raw
    stream path whose consumer routes image codecs to real decoders
    instead of rejecting them (the text path keeps the validating
    parse, preserving filtering.rs:44-57 parity)."""
    return parse_maybe_array(
        buf, pos, lambda b, p: (lambda n, np: (bytes(n), np))(
            *parse_name(b, p)))


# ---------------------------------------------------------------------------
# streams (special/stream.rs) and the any-object parser (special/object.rs)
# ---------------------------------------------------------------------------


def parse_stream_raw_from_dict(buf: bytes, pos: int, raw: RawDict,
                               decrypt=None, validate_filters=True):
    """Stream layout parse WITHOUT running the filter chain: returns
    ``(filters, parms, raw_payload, pos)`` - the payload is decrypted
    but still encoded.  ``validate_filters=False`` skips the
    supported-set check, for consumers that route image codecs to real
    decoders (image XObjects: a /DCTDecode payload IS a JPEG file)
    instead of rejecting them like the text path."""
    length = raw.require(b"Length", parse_unsigned)
    span = raw.pop(b"Filter")
    if span is not None:
        lister = (parse_filter_list if validate_filters
                  else parse_filter_list_lenient)
        filters, _ = lister(buf, span[0])
    else:
        filters = []
    # /DecodeParms: dict-or-null, maybe-array aligned with the filter
    # chain (PDF 32000-1 7.3.8.2).  Beyond-reference extension: the
    # reference never reads it (stream.rs:29-30 pops only Filter+Length),
    # but predictor-compressed xref streams are the real-world norm.
    pspan = raw.pop(b"DecodeParms")
    parms = None
    if pspan is not None:
        parms, _ = parse_maybe_array(
            buf, pspan[0],
            lambda b, p: parse_option(b, p, parse_dict_object))
    pos = lex.skip_ws(buf, pos)
    pos = lex.tag(buf, pos, b"stream")
    pos = lex.line_ending(buf, pos)
    if pos + length > len(buf):
        raise ParseError("StreamTooShort", pos)
    content = buf[pos : pos + length]
    pos += length
    pos = lex.skip_ws(buf, pos)
    pos = lex.tag(buf, pos, b"endstream")
    if decrypt is not None:
        content = decrypt(content)
    return filters, parms, content, pos


def parse_stream_from_dict(buf: bytes, pos: int, raw: RawDict,
                           decrypt=None) -> tuple[bytes, int]:
    """Parse + decode stream content given its already-parsed dict.

    ``pos`` points just past ``>>``.  Layout per stream.rs:33-49:
    ``multispace0 'stream' line_ending <length bytes> multispace0 'endstream'``.
    ``/Length`` must be a direct integer (the reference's Extract path does
    not follow references for it).

    ``decrypt``: optional ``bytes -> bytes`` applied to the raw payload
    BEFORE the filter chain (PDF decryption order; pdf/crypt.py).
    """
    filters, parms, content, pos = parse_stream_raw_from_dict(
        buf, pos, raw, decrypt=decrypt)
    return decode_chain(filters, content, parms), pos


def parse_stream(buf: bytes, pos: int) -> tuple[PdfStream, int]:
    """Full stream object: dict + decoded payload (stream.rs:99-120).

    The remaining (non-config) dict keys are parsed as PDF objects;
    unparseable values are dropped silently (map.rs:33-41).
    """
    raw, pos = parse_raw_dict(buf, pos)
    content, pos = parse_stream_from_dict(buf, pos, raw)
    structured = {}
    for key, (s, e) in raw.entries.items():
        try:
            value, _ = parse_object(buf, s)
        except ParseError:
            continue
        structured[key] = value
    return PdfStream(structured, content), pos


def _parse_number_object(buf: bytes, pos: int):
    """Real iff the float-matched bytes contain ``.`` else integer
    (object.rs:178-187)."""
    matched, end = recognize_real(buf, pos)
    if b"." in matched:
        return float(matched), end
    return parse_signed(buf, pos)


def _looks_like_stream(buf: bytes, pos_after_dict: int) -> bool:
    """Peek past whitespace for the ``stream`` keyword (object.rs:189-204)."""
    i = lex.skip_ws(buf, pos_after_dict)
    return buf[i : i + 6] == b"stream"


def parse_dict_object(buf: bytes, pos: int) -> tuple[dict, int]:
    """``Map<Object>``: eager dict, unparseable values dropped (map.rs:26-44)."""
    raw, new_pos = parse_raw_dict(buf, pos)
    out = {}
    for key, (s, e) in raw.entries.items():
        try:
            value, _ = parse_object(buf, s)
        except ParseError:
            continue
        out[key] = value
    return out, new_pos


def parse_object(buf: bytes, pos: int):
    """Any PDF object, first-byte dispatch (object.rs:161-176)."""
    b = buf[pos : pos + 1]
    if not b:
        raise ParseError("UnexpectedEof", pos)
    c = b[0]
    if c == ord("n"):
        return parse_null(buf, pos)
    if c in (ord("t"), ord("f")):
        return parse_bool(buf, pos)
    if 0x30 <= c <= 0x39:
        try:
            return parse_reference(buf, pos)
        except ParseError:
            return _parse_number_object(buf, pos)
    if c in (0x2B, 0x2D):  # + -
        return _parse_number_object(buf, pos)
    if c == 0x28:  # (
        return parse_literal_string(buf, pos)
    if c == 0x2F:  # /
        return parse_name(buf, pos)
    if c == 0x3C:  # <
        try:
            _, _, after = recognize_raw_dict(buf, pos)
        except ParseError:
            return parse_hex_string(buf, pos)
        if _looks_like_stream(buf, after):
            return parse_stream(buf, pos)
        return parse_dict_object(buf, pos)
    if c == 0x5B:  # [
        return parse_vec(buf, pos, parse_object)
    raise ParseError("UnexpectedByte", pos, chr(c))


# ---------------------------------------------------------------------------
# misc special types (rectangle.rs, id.rs, date.rs)
# ---------------------------------------------------------------------------


def parse_rectangle(buf: bytes, pos: int) -> tuple[tuple[float, float, float, float], int]:
    """``[x0 y0 x1 y1]`` of reals (special/rectangle.rs:24-37)."""
    vals, pos = parse_fixed_array(buf, pos, parse_real, 4)
    return tuple(vals), pos


def parse_file_id(buf: bytes, pos: int) -> tuple[tuple[bytes, bytes], int]:
    """Pair of hex strings (special/id.rs:39-47)."""
    vals, pos = parse_fixed_array(buf, pos, parse_hex_string, 2)
    return (bytes(vals[0]), bytes(vals[1])), pos


_DATE_FIELD = re.compile(rb"[0-9]{2}")


def parse_date(buf: bytes, pos: int) -> tuple[dict, int]:
    """``D:YYYYMMDDHHmmSS±HH'mm`` - all but year optional (special/date.rs:27-111).

    NB: the reference's field cascade stops after *minute* (seconds are
    never populated by ``parse_date_without_offset``) - preserved here.
    """
    pos = lex.tag(buf, pos, b"D:")
    year_raw = buf[pos : pos + 4]
    if len(year_raw) != 4 or not year_raw.isdigit():
        raise ParseError("BadDate", pos)
    pos += 4
    date = {"year": int(year_raw), "month": None, "day": None,
            "hour": None, "minute": None, "second": None, "offset": None}
    for field in ("month", "day", "hour", "minute"):
        m = _DATE_FIELD.match(buf, pos)
        if m is None:
            return date, pos
        # `take(2).parse_to()` on non-digits fails -> treated as absent via opt
        date[field] = int(m.group())
        pos = m.end()
    # optional UTC offset
    b = buf[pos : pos + 1]
    if b == b"Z":
        pos += 1
        date["offset"] = 0
        if buf[pos : pos + 3] == b"00'":
            pos += 3
            if buf[pos : pos + 2] == b"00":
                pos += 2
    elif b in (b"+", b"-"):
        sign = 1 if b == b"+" else -1
        pos += 1
        m = _DATE_FIELD.match(buf, pos)
        if m is None:
            raise ParseError("BadDateOffset", pos)
        minutes = int(m.group()) * 60
        pos = m.end()
        pos = lex.tag(buf, pos, b"'")
        m = _DATE_FIELD.match(buf, pos)
        if m is not None:
            minutes += int(m.group())
            pos = m.end()
        date["offset"] = sign * minutes
    return date, pos
