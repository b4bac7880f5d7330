"""Content-operator vectors ported from the reference
(content/operators/text/showing.rs:202-230, operators/mod.rs:228-241)."""

import pytest
from hypothesis import given, settings, strategies as st

from livre_spark.pdf import content as C
from livre_spark.pdf import lex
from livre_spark.pdf import objects as ob
from livre_spark.pdf.errors import ParseError
from livre_spark.pdf.api import extract_text
from livre_spark.pdf.genpdf import build_pdf


def test_tj_array_with_escapes():
    # showing.rs:202-230 - strings with escaped parens mixed with offsets
    raw = rb"[ (&''!\(\)) 7 (*+) -4 (,) -8 (-) 6 (!\(.) 3 (-) -7 (.\(/) 3 ] TJ"
    ops, err = C.tokenize(raw)
    assert err is None
    (op, elems), = [(o[0], o[1]) for o in ops]
    assert op == b"TJ"
    strings = [bytes(v) for k, v in elems if k == "str"]
    offsets = [float(v) for k, v in elems if k == "off"]
    assert strings == [b"&''!()", b"*+", b",", b"-", b"!(.", b"-", b".(/"]
    assert offsets == [7.0, -4.0, -8.0, 6.0, 3.0, -7.0, 3.0]


@pytest.mark.parametrize("raw,expected", [
    (b"BT", (b"BT",)),
    (b"ET", (b"ET",)),
    (b"T*", (b"T*",)),
    (b"0.12 Tc", (b"Tc", 0.12)),
    (b"1.0 Tw", (b"Tw", 1.0)),
    (b"1.0 2.0 TD", (b"TD", 1.0, 2.0)),
    (b"/F6 9 Tf", (b"Tf", b"F6", 9.0)),
    (b"2 Tr", (b"Tr", 2)),
    (b"1 0 0 -1 370.70721 .47981739 Tm",
     (b"Tm", 1.0, 0.0, 0.0, -1.0, 370.70721, pytest.approx(0.47981739))),
    (b"q", (b"NI", b"q")),
    (b"0.9 0 0 0.9 0 0 cm", (b"NI", b"cm")),  # operands skipped
])
def test_operator_vectors(raw, expected):
    op, end = C.parse_operator(raw, 0)
    assert end == len(raw)
    assert op[0] == expected[0]
    for got, want in zip(op[1:], expected[1:]):
        if isinstance(want, float):
            assert float(got) == pytest.approx(want)
        else:
            assert got == want


def test_rendering_mode_out_of_range():
    ops, err = C.tokenize(b"9 Tr")
    assert err == "ContentStreamNotFullyConsumed"


def test_unpaired_surrogate_in_pdf():
    """End-to-end: a UTF-16BE show string with an unpaired surrogate
    decodes to U+FFFD (strings/mod.rs:84-86)."""
    pdf = build_pdf(
        [b"BT /F1 12 Tf 72 720 Td <FEFFD8000061> Tj ET"])
    r = extract_text(pdf)
    assert r["error"] is None
    assert r["text"] == "\n�" + "a"


def test_decode_odd_trailing_byte_in_pdf():
    pdf = build_pdf([b"BT /F1 12 Tf 72 720 Td <FEFF006100> Tj ET"])
    r = extract_text(pdf)
    assert r["text"] == "\na"  # trailing half-unit silently dropped


def test_quote_operator_display_is_the_float():
    """The '"' Display quirk end-to-end: text shows aw, not the string."""
    pdf = build_pdf([b"BT /F1 12 Tf 7 TL 0 0 Td 1.25 0.5 (invisible) \" ET"])
    r = extract_text(pdf)
    assert r["text"] == "\n1.25\n"
    # but the span reflects the T* matrix move driven by TL
    assert r["spans"][0]["y"] == -7.0


def test_operand_trailing_garbage_fails_operator():
    """The reference re-parses operands contiguously with multispace1
    between them (tuple.rs:21, operators/mod.rs:131-146): '1.2.3' is
    recognized as one operand span, but the typed f32 re-parse stops at
    '1.2' and multispace1 fails on '.3' - the whole operator (and hence
    the content stream) errors.  Regression for the round-1 gap where
    only exactly-adjacent operands were rejected."""
    ops, err = C.tokenize(b"BT /F1 12 Tf 1.2.3 4 Td (a) Tj ET")
    assert err == "ContentStreamNotFullyConsumed"
    # the fused extractor agrees byte-for-byte
    text2, spans2, err2 = C.extract_page(b"BT /F1 12 Tf 1.2.3 4 Td (a) Tj ET")
    text1, spans1, err1 = C.extract_page_twopass(
        b"BT /F1 12 Tf 1.2.3 4 Td (a) Tj ET")
    assert (text2, spans2, err2) == (text1, spans1, err1)
    assert err2 == "ContentStreamNotFullyConsumed"


def test_operand_normal_whitespace_still_parses():
    ops, err = C.tokenize(b"1.2 \t\r\n 4 Td")
    assert err is None
    assert ops[0][0] == b"Td"


# ---- tokenize is pinned to repeated parse_operator calls ------------------

def _parse_operator_loop(buf: bytes):
    """The reference's operator iteration, one ``parse_operator`` at a
    time; a parse failure mid-stream keeps the ops so far and maps to the
    full-consumption error, as ``tokenize`` reports it."""
    ops = []
    pos = 0
    try:
        while lex.skip_ws(buf, pos) < len(buf):
            op, pos = C.parse_operator(buf, pos)
            ops.append(op)
    except ParseError:
        return ops, "ContentStreamNotFullyConsumed"
    return ops, None


@pytest.mark.parametrize("buf", [
    b"BT \x0c ET",     # \x0c / \x0b are operator bytes, not delimiters
    b"1 \x0b2 Td",
    b"BT\x0cET",
])
def test_tokenize_matches_parse_operator_fixed(buf):
    assert C.tokenize(buf) == _parse_operator_loop(buf)


def test_form_feed_is_an_operator_byte():
    assert C.tokenize(b"BT \x0c ET") == (
        [(b"BT",), (b"NI", b"\x0c"), (b"ET",)], None)


@settings(max_examples=400, deadline=None)
@given(st.binary(max_size=60))
def test_tokenize_matches_parse_operator_random_bytes(buf):
    assert C.tokenize(buf) == _parse_operator_loop(buf)


@settings(max_examples=400, deadline=None)
@given(st.lists(st.sampled_from(list(b" \t\r\n\x00\x0b\x0c\\#()<>[]{}/%"
                                     b"+-.019ABTJjfmdDcwzLrs*'\"")),
                max_size=30))
def test_tokenize_matches_parse_operator_delimiter_alphabet(chars):
    buf = bytes(chars)
    assert C.tokenize(buf) == _parse_operator_loop(buf)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.sampled_from([
    b"BT", b"ET", b"T*", b"(s) Tj", b"<4142> Tj", b"(a\\)b) '",
    b"1 2 (s) \"", b"[ (a) 5 (b) ] TJ", b"/F1 9 Tf", b"3 Tc", b"7 TL",
    b"1 0 0 1 10 20 Tm", b"5 -6 Td", b"2 3 TD", b"q", b"Q", b"BDC",
    b"0.5 0 0 0.5 0 0 cm", b"2 Tr", b"9 Tr", b"0.4 Ts", b"110 Tz",
    b"1.2.3 Tw", b"<< /K 1 >> BDC", b"\x0c", b"\x0b", b"\x00",
]), max_size=25), st.sampled_from([b" ", b"\n", b"\r\n", b"\t"]))
def test_tokenize_matches_parse_operator_op_sequences(ops, sep):
    buf = sep.join(ops)
    assert C.tokenize(buf) == _parse_operator_loop(buf)
