"""Content-stream kernels: operator tokenizer + text state machine.

Mirrors the reference exactly:

- two-pass operator tokenization: recognize operand spans, read the 1-3
  char operator up to the delimiter set ``()<>[]{}/% \\t\\r\\n``, re-parse
  operands with the operator's typed parser (content/operators/mod.rs:
  86-151).  Unknown operators are skipped with their operands
  (mod.rs:147).  :func:`tokenize` is the one operator loop; both page
  extractors consume its operator list, and :func:`parse_operator` is
  the per-operator reference shape it is tested against.
- text state machine: BT opens; state/positioning ops pre-apply until the
  first Tf constructs the text object; showing ops yield
  ``((e, f), decoded_text)``; ET ends (content/state/text.rs:225-336).
  Error taxonomy per content/error.rs:6-12.
- the per-page *text* is the reference's Display-concatenation
  (examples/text.rs:32-42): ``\\n`` at each BT, then each showing
  operator's Display.  Display quirks preserved (showing.rs:30-39):
  ``'`` appends a newline after its string; ``"`` renders its *aw float
  operand* (not the string!) followed by a newline; TJ renders only its
  string elements.

All float arithmetic matches the reference's f32 math exactly
(state/text.rs:115-128): matrix ops compute in f64 and round each binary
op to f32 (exact emulation - see ``_r32``); display formatting uses
numpy's shortest-round-trip float32 repr.
"""

from __future__ import annotations

import re

import numpy as np

from . import lex, objects as ob
from .errors import ParseError

F32 = np.float32
_THOUSAND = F32(1000.0)


def fmt_f32(value) -> str:
    """Rust ``{}`` Display for f32: shortest round-trip decimal, positional."""
    v = F32(value)
    if np.isnan(v):
        return "NaN"
    if np.isinf(v):
        return "inf" if v > 0 else "-inf"
    return np.format_float_positional(v, unique=True, trim="-")


# Operand reals stay raw Python floats here; every *use* site casts
# through numpy float32 (matrix math, display, kerning), so the f32
# semantics are identical while parsing avoids 100k+ np-scalar boxes.
# Direct alias (no wrapper frame - this is called ~100/doc).
_f32 = ob.parse_real


def _rendering_mode(buf: bytes, pos: int):
    """u8 then 0-7 check (state/text.rs:146-164)."""
    value, pos = ob.parse_unsigned(buf, pos)
    if value > 7:
        raise ParseError("BadRenderingMode", pos)
    return value, pos


def _text_array_element(buf: bytes, pos: int):
    """string or kerning offset (showing.rs:176-190)."""
    b = buf[pos : pos + 1]
    if b == b"(":
        s, pos = ob.parse_literal_string(buf, pos)
        return ("str", s), pos
    if b == b"<":
        s, pos = ob.parse_hex_string(buf, pos)
        return ("str", s), pos
    value, pos = _f32(buf, pos)
    return ("off", value), pos


# Operand signatures, re-parsed from the recognized operand positions
# (operators/mod.rs:120-148).  The reference re-parses from the cursor with
# multispace1-separated typed parsers; parsing each operand at its already
# recognized start offset is equivalent PROVIDED consecutive used operands
# are whitespace-separated - _typed() enforces that gap check so adjacent
# operands (zero whitespace) fail exactly like the reference's tuple parse.
_OPERAND_SIGS = {
    b"Tc": ("f",), b"Tw": ("f",), b"Tz": ("f",), b"TL": ("f",),
    b"Ts": ("f",), b"Tf": ("n", "f"), b"Tr": ("r",),
    b"Td": ("f", "f"), b"TD": ("f", "f"),
    b"Tm": ("f",) * 6,
    b"Tj": ("s",), b"'": ("s",), b'"': ("f", "f", "s"),
    b"TJ": ("a",),
}


def _parse_operands(op: bytes, buf: bytes, spans: list[int]):
    sig = _OPERAND_SIGS.get(op)
    if sig is None:  # BT / ET / T*
        return ()
    if len(spans) < len(sig):
        raise ParseError("MissingOperands", spans[0] if spans else None)
    out = []
    prev_end = None
    for kind, start in zip(sig, spans):
        if prev_end is not None and (
            start <= prev_end or lex.skip_ws(buf, prev_end) != start
        ):
            # The reference re-parses operands contiguously with multispace1
            # between them (tuple.rs:21, operators/mod.rs:131-146): adjacent
            # operands (zero whitespace) AND trailing non-whitespace garbage
            # inside a recognized operand span (e.g. the ".3" of "1.2.3"
            # after f32 reads "1.2") both fail the whole operator.
            raise ParseError("ExpectedWhitespace", start)
        if kind == "f":
            value, prev_end = _f32(buf, start)
        elif kind == "s":
            value, prev_end = ob.parse_string(buf, start)
        elif kind == "n":
            name, prev_end = ob.parse_name(buf, start)
            value = bytes(name)
        elif kind == "r":
            value, prev_end = _rendering_mode(buf, start)
        else:  # "a" - the TJ array
            value, prev_end = ob.parse_vec(buf, start, _text_array_element)
        out.append(value)
    return tuple(out)


_KNOWN_OPS = frozenset({
    b"BT", b"ET", b"Tc", b"Tw", b"Tz", b"TL", b"Tf", b"Tr", b"Ts",
    b"Td", b"TD", b"Tm", b"T*", b"Tj", b"'", b'"', b"TJ",
})

_NUM_START = frozenset(b"+-.0123456789")


def _recognize_operand(buf: bytes, pos: int) -> int:
    """Skip one operand without parsing it (operators/mod.rs:91-101)."""
    b = buf[pos : pos + 1]
    if not b:
        raise ParseError("UnexpectedEof", pos)
    c = b[0]
    if c == 0x2F:
        _, _, new_pos = ob.recognize_name(buf, pos)
        return new_pos
    if c == 0x5B:
        return lex.recognize_brackets(buf, pos)[2]
    if c == 0x28:
        return lex.recognize_parens(buf, pos)[2]
    if c == 0x3C:
        return lex.recognize_angles(buf, pos)[2]
    if c in _NUM_START:
        _, new_pos = lex.take_till_delimiter(buf, pos, 1)
        return new_pos
    raise ParseError("NotAnOperand", pos)


_OPERAND_START = frozenset(b"/[(<+-.0123456789")


def parse_operator(buf: bytes, pos: int):
    """One operator: skip operands, read op, re-parse operands
    (operators/mod.rs:113-151).  Returns ((opname, *operands), new_pos)."""
    spans: list[int] = []
    n = len(buf)
    while True:
        q = lex.skip_ws(buf, pos)
        # cheap peek instead of exception-driven control flow; the byte
        # classes here are exactly _recognize_operand's dispatch set
        if q >= n or buf[q] not in _OPERAND_START:
            break
        spans.append(q)
        pos = _recognize_operand(buf, q)
    q = lex.skip_ws(buf, pos)
    op, pos = lex.take_till_delimiter(buf, q, 1, 3)
    if op in _KNOWN_OPS:
        operands = _parse_operands(op, buf, spans)
        return (op, *operands), pos
    return (b"NI", op), pos


# one regex step of the fast tokenizer loop: optional whitespace, then
# either a run of non-delimiter bytes (a number operand OR an operator
# token) or an opening byte that needs a balanced / name scanner.  The
# excluded class is exactly lex.DELIMS: \x0b and \x0c are NOT delimiters
# (``\s`` would make them so), they lex as operator bytes.
_TOKEN = re.compile(rb"[ \t\r\n]*(?:([^()<>\[\]{}/% \t\r\n]+)|([(\[</]))")


def tokenize(content: bytes):
    """The operators of a page content stream, as a list.

    Behaviorally identical to repeated ``parse_operator`` calls (pinned
    by the property tests in tests/test_content_ops.py), but drives the
    loop with one compiled regex instead of per-byte helpers - the
    kernel's hottest path.  Unknown operators appear as ``(b"NI", op)``.

    Returns ``(ops, error)`` - on a parse failure mid-stream, ops so far
    are kept and the error mirrors the reference tests' full-consumption
    assertion (tests/content.rs:26-42).
    """
    ops = []
    pos = 0
    n = len(content)
    spans: list[int] = []
    match = _TOKEN.match
    known = _KNOWN_OPS
    try:
        while True:
            m = match(content, pos)
            if m is None:
                # only whitespace (or nothing) remains -> clean EOF;
                # any other byte (')', '>', '%', ...) is a parse failure,
                # and dangling operands without an operator are too
                tail = lex.skip_ws(content, pos)
                if tail >= n and not spans:
                    return ops, None
                return ops, "ContentStreamNotFullyConsumed"
            simple, opening = m.group(1), m.group(2)
            if opening is None:
                start = m.start(1)
                if content[start] in _NUM_START:
                    spans.append(start)
                    pos = m.end()
                    continue
                # operator token: at most 3 bytes (operators/mod.rs:140)
                op = simple[:3]
                pos = start + len(op)
                if op in known:
                    ops.append((op, *_parse_operands(op, content, spans)))
                else:
                    ops.append((b"NI", op))
                spans = []
                continue
            # an opening byte: recognize the operand span
            start = m.end() - 1
            c = opening[0]
            if c == 0x2F:  # /name
                _, _, pos = ob.recognize_name(content, start)
            elif c == 0x28:  # (string)
                _, _, pos = lex.recognize_parens(content, start)
            elif c == 0x5B:  # [array]
                _, _, pos = lex.recognize_brackets(content, start)
            else:  # <hex or dict>
                _, _, pos = lex.recognize_angles(content, start)
            spans.append(start)
    except ParseError:
        return ops, "ContentStreamNotFullyConsumed"


# ---------------------------------------------------------------------------
# text assembly (Display semantics) + span state machine
# ---------------------------------------------------------------------------

_STATE_OPS = frozenset({b"Tc", b"Tw", b"Tz", b"TL", b"Tr", b"Ts"})
_POSITIONING_OPS = frozenset({b"Td", b"TD", b"Tm", b"T*"})
_SHOWING_OPS = frozenset({b"Tj", b"'", b'"', b"TJ"})


import struct

_F32_PACK = struct.Struct("<f")
# bound methods save two attribute lookups per rounding in the
# per-operator hot path (~1M calls per 2k docs)
_f32_pack = _F32_PACK.pack
_f32_unpack = _F32_PACK.unpack


def _r32(x: float) -> float:
    """Round an f64 to the nearest f32 value (as a Python float).

    An f64 product/sum of two f32-valued operands is EXACT (24+24 < 53
    significand bits), so "compute in f64, round each binary op" is
    bit-identical to native f32 arithmetic - and ~3x faster than numpy
    scalar math in this per-operator hot path.
    """
    return _f32_unpack(_f32_pack(x))[0]


class _Matrix:
    """TextMatrix with f32 affine-translate (state/text.rs:102-128).

    Fields hold f32-valued Python floats; every arithmetic step rounds
    through :func:`_r32`, matching the reference's f32 ops exactly.
    """

    __slots__ = ("a", "b", "c", "d", "e", "f")

    def __init__(self):
        self.a = 1.0; self.b = 0.0
        self.c = 0.0; self.d = 1.0
        self.e = 0.0; self.f = 0.0

    def set(self, a, b, c, d, e, f):
        # _r32 inlined (u(p(x))[0]): 6 fewer call frames per set, same ops
        u = _f32_unpack; p = _f32_pack
        self.a, self.b, self.c, self.d, self.e, self.f = (
            u(p(a))[0], u(p(b))[0], u(p(c))[0],
            u(p(d))[0], u(p(e))[0], u(p(f))[0])

    def move_to(self, x, y):
        # e' = a*x + c*y + e with f32 rounding after each op; _r32
        # inlined (u(p(x))[0]) - measured ~21% off this hot method,
        # bit-identical (same pack/unpack sequence, no call frames)
        u = _f32_unpack; p = _f32_pack
        x = u(p(x))[0]; y = u(p(y))[0]
        self.e = u(p(u(p(u(p(self.a * x))[0]
                         + u(p(self.c * y))[0]))[0] + self.e))[0]
        self.f = u(p(u(p(u(p(self.b * x))[0]
                         + u(p(self.d * y))[0]))[0] + self.f))[0]

    def position(self):
        return self.e, self.f


class _Params:
    """TextStateParameters defaults (state/text.rs:69-80)."""

    __slots__ = ("character_spacing", "word_spacing", "horizontal_scaling",
                 "leading", "rendering_mode", "rise")

    def __init__(self):
        self.character_spacing = 0.0
        self.word_spacing = 0.0
        self.horizontal_scaling = 100.0
        self.leading = 0.0
        self.rendering_mode = 0
        self.rise = 0.0


def _preapply(op, matrix: _Matrix, params: _Params):
    name = op[0]
    if name == b"Tc":
        params.character_spacing = op[1]
    elif name == b"Tw":
        params.word_spacing = op[1]
    elif name == b"Tz":
        params.horizontal_scaling = op[1]
    elif name == b"TL":
        params.leading = op[1]
    elif name == b"Tr":
        params.rendering_mode = op[1]
    elif name == b"Ts":
        params.rise = op[1]
    elif name == b"Td":
        matrix.move_to(op[1], op[2])
    elif name == b"TD":
        params.leading = -op[2]
        matrix.move_to(op[1], op[2])
    elif name == b"Tm":
        matrix.set(*op[1:])
    elif name == b"T*":
        matrix.move_to(0.0, -params.leading)


def _decode_show(raw, cur_font, cmaps) -> str:
    """Show-string decode: the reference heuristic by default; the
    current font's ToUnicode CMap when one is supplied (opt-in extension,
    see cmap.py).  The ``"`` Display quirk never reaches here."""
    if cmaps is not None and cur_font is not None:
        cm = cmaps.get(cur_font)
        if cm is not None:
            return cm.decode(bytes(raw))
    return ob.decode_pdf_string(raw)


def page_text_segments(ops, cmaps=None):
    """Pass A - the page's *text* via Display concatenation.

    Returns ``(text, segments)`` where ``segments[op_index]`` is the list
    of ``(off, len)`` character spans, one per state-machine-yieldable
    string of that operator.
    """
    parts: list[str] = []
    off = 0
    cur_font = None
    segments: dict[int, list[tuple[int, int]]] = {}
    for idx, op in enumerate(ops):
        name = op[0]
        if name == b"BT":
            parts.append("\n")
            off += 1
        elif name == b"Tf":
            cur_font = op[1]
        elif name == b"Tj":
            t = _decode_show(op[1], cur_font, cmaps)
            segments[idx] = [(off, len(t))]
            parts.append(t)
            off += len(t)
        elif name == b"'":
            t = _decode_show(op[1], cur_font, cmaps)
            segments[idx] = [(off, len(t))]
            parts.append(t)
            parts.append("\n")
            off += len(t) + 1
        elif name == b'"':
            # Display quirk: the aw operand is rendered, not the string
            t = fmt_f32(op[1])
            segments[idx] = [(off, len(t))]
            parts.append(t)
            parts.append("\n")
            off += len(t) + 1
        elif name == b"TJ":
            segs = []
            for kind, value in op[1]:
                if kind == "str":
                    t = _decode_show(value, cur_font, cmaps)
                    segs.append((off, len(t)))
                    parts.append(t)
                    off += len(t)
            segments[idx] = segs
    return "".join(parts), segments


def page_spans(ops, segments):
    """Pass B - the state-machine span pass (state/text.rs:225-336).

    Returns ``(spans, error)``: ``(x, y, off, len)`` per shown string,
    plus the first structural error exactly where the reference errors
    (show-before-Tf, BT never followed by Tf, a second Tf inside a text
    object - the reference's unreachable!()).  Spans collected before the
    error are kept.
    """
    spans: list[tuple[float, float, int, int]] = []
    n = len(ops)
    i = 0
    while True:
        # skip until BT (state/text.rs:268-281)
        while i < n and ops[i][0] != b"BT":
            i += 1
        if i >= n:
            return spans, None
        i += 1
        # build phase: pre-apply until Tf (state/text.rs:225-262)
        matrix = _Matrix()
        params = _Params()
        while True:
            if i >= n:
                return spans, "IncompleteTextObject"
            op = ops[i]
            name = op[0]
            i += 1
            if name == b"Tf":
                break
            if name in _STATE_OPS or name in _POSITIONING_OPS:
                _preapply(op, matrix, params)
            elif name in _SHOWING_OPS:
                return spans, "UnexpectedTextShowingOperator"
            # everything else (incl. ET, BT, NI) skipped - reference quirk
        # iteration phase (state/text.rs:314-336)
        while i < n:
            op = ops[i]
            name = op[0]
            if name == b"ET":
                i += 1
                break
            idx = i
            i += 1
            if name == b"Tj":
                x, y = matrix.position()
                o, l = segments[idx][0]
                spans.append((x, y, o, l))
            elif name == b"'":
                matrix.move_to(0.0, -params.leading)
                x, y = matrix.position()
                o, l = segments[idx][0]
                spans.append((x, y, o, l))
            elif name == b'"':
                matrix.move_to(0.0, -params.leading)
                params.word_spacing = op[1]
                params.character_spacing = op[2]
                x, y = matrix.position()
                o, l = segments[idx][0]
                spans.append((x, y, o, l))
            elif name == b"TJ":
                seg_iter = iter(segments[idx])
                for kind, value in op[1]:
                    if kind == "off":
                        # f32 negate then f32 divide (state/text.rs:293-304)
                        matrix.move_to(F32(-value) / _THOUSAND, 0.0)
                    else:
                        x, y = matrix.position()
                        o, l = next(seg_iter)
                        spans.append((x, y, o, l))
            elif name == b"Tf":
                # second Tf inside a text object is the reference's
                # unreachable!() panic (operators/text/state.rs:77-82)
                return spans, "SecondTfOperator"
            elif name in _STATE_OPS or name in _POSITIONING_OPS:
                _preapply(op, matrix, params)
            # non-text operators skipped
        # after ET (or ops exhausted): look for the next BT


def extract_page_twopass(content: bytes, cmaps=None):
    """Reference-shaped two-pass extraction (tokenize -> Display text ->
    span state machine).  Kept as the equivalence oracle for the fused
    state machine of :func:`extract_page` below (tests assert
    byte-identical output over the fixture corpus)."""
    ops, error = tokenize(content)
    text, segments = page_text_segments(ops, cmaps)
    spans, span_error = page_spans(ops, segments)
    return text, spans, error or span_error


# span-machine states for the fused pass
_OUTSIDE, _BUILD, _ITER, _DEAD = 0, 1, 2, 3


def extract_page(content: bytes, cmaps=None):
    """Page content bytes -> ``(text, spans, error)``.

    Semantically identical to :func:`extract_page_twopass` (and therefore
    to the reference's two separate consumption paths: the Display text
    stream of examples/text.rs and the text-object state machine of
    state/text.rs), but text assembly and the span machine run fused in
    one pass over :func:`tokenize`'s operators - the kernel's hottest
    path.

    ``spans`` are ``(x, y, off, len)`` with character offsets into the
    page text.  ``error`` is the first structural error (spans collected
    so far are kept; text is always produced - the reference's Display
    path has no Tf requirement).
    """
    parts: list[str] = []
    off = 0
    cur_font = None
    spans: list[tuple[float, float, int, int]] = []
    span_error = None
    state = _OUTSIDE
    matrix = params = None

    ops, tok_error = tokenize(content)
    for op in ops:
        name = op[0]
        if name == b"BT":
            parts.append("\n")
            off += 1
            if state == _OUTSIDE:
                state = _BUILD
                matrix = _Matrix()
                params = _Params()
        elif name == b"ET":
            if state == _ITER:
                state = _OUTSIDE
        elif name == b"Tf":
            cur_font = op[1]
            if state == _BUILD:
                state = _ITER
            elif state == _ITER:
                span_error = span_error or "SecondTfOperator"
                state = _DEAD
        elif name in _SHOWING_OPS:
            if name == b"Tj":
                t = _decode_show(op[1], cur_font, cmaps)
                seg = (off, len(t))
                parts.append(t)
                off += len(t)
                segs = (seg,)
            elif name == b"'":
                t = _decode_show(op[1], cur_font, cmaps)
                seg = (off, len(t))
                parts.append(t)
                parts.append("\n")
                off += len(t) + 1
                segs = (seg,)
            elif name == b'"':
                t = fmt_f32(op[1])
                seg = (off, len(t))
                parts.append(t)
                parts.append("\n")
                off += len(t) + 1
                segs = (seg,)
            else:  # TJ
                segs = []
                for kind, value in op[1]:
                    if kind == "str":
                        t = _decode_show(value, cur_font, cmaps)
                        segs.append((off, len(t)))
                        parts.append(t)
                        off += len(t)
            if state == _BUILD:
                span_error = span_error or "UnexpectedTextShowingOperator"
                state = _DEAD
            elif state == _ITER:
                if name == b"Tj":
                    x, y = matrix.position()
                    spans.append((x, y, *segs[0]))
                elif name == b"'":
                    matrix.move_to(0.0, -params.leading)
                    x, y = matrix.position()
                    spans.append((x, y, *segs[0]))
                elif name == b'"':
                    matrix.move_to(0.0, -params.leading)
                    params.word_spacing = op[1]
                    params.character_spacing = op[2]
                    x, y = matrix.position()
                    spans.append((x, y, *segs[0]))
                else:  # TJ
                    seg_iter = iter(segs)
                    for kind, value in op[1]:
                        if kind == "off":
                            matrix.move_to(F32(-value) / _THOUSAND, 0.0)
                        else:
                            x, y = matrix.position()
                            spans.append((x, y, *next(seg_iter)))
        elif name in _STATE_OPS or name in _POSITIONING_OPS:
            if state == _BUILD or state == _ITER:
                _preapply(op, matrix, params)
        # T* handled above via _POSITIONING_OPS; NI falls through

    if state == _BUILD and tok_error is None:
        span_error = span_error or "IncompleteTextObject"
    return "".join(parts), spans, tok_error or span_error
