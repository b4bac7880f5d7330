"""Opt-in /ToUnicode CMap decode (extension beyond the reference - the
reference's README.md:24-26 lists font/CMap awareness as roadmap).  The
DEFAULT extract_text mode must stay byte-identical to the reference
heuristic; tests/test_reference_fixtures.py pins that separately."""

import os
import zlib

import pytest

from livre_spark.pdf.api import extract_text
from livre_spark.pdf.cmap import parse_tounicode
from livre_spark.pdf.content import extract_page, extract_page_twopass
from livre_spark.pdf.genpdf import HEADER, PdfBuilder

TEXT_PDF = "/root/reference/tests/resources/text.pdf"
LETTER_PDF = "/root/reference/tests/resources/letter.pdf"

SAMPLE_CMAP = b"""
/CIDInit /ProcSet findresource begin
12 dict begin begincmap
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
2 beginbfchar
<0001> <0041>
<0002> <00480069>
endbfchar
1 beginbfrange
<0010> <0012> <0061>
endbfrange
1 beginbfrange
<0020> <0021> [<005A> <0079>]
endbfrange
endcmap CMapName currentdict /CMap defineresource pop end end
"""


def test_cmap_parse_and_decode_vectors():
    cm = parse_tounicode(SAMPLE_CMAP)
    assert cm.decode(b"\x00\x01") == "A"                 # bfchar
    assert cm.decode(b"\x00\x02") == "Hi"                # multi-char dst
    assert cm.decode(b"\x00\x10\x00\x11\x00\x12") == "abc"  # bfrange + offset
    assert cm.decode(b"\x00\x20\x00\x21") == "Zy"        # array bfrange
    assert cm.decode(b"\x0F\xFF") == "�"            # unmapped in space
    assert cm.decode(b"\x00\x01\x00\x10") == "Aa"        # sequences chunk by 2


def test_cmap_one_byte_codespace():
    cm = parse_tounicode(b"""
1 begincodespacerange <00> <FF> endcodespacerange
1 beginbfchar <41> <0042> endbfchar
""")
    assert cm.decode(b"\x41\x41") == "BB"  # 1-byte codes


@pytest.mark.skipif(not os.path.isfile(TEXT_PDF),
                    reason=f"reference fixture {TEXT_PDF} not present")
def test_reference_text_pdf_readable_under_cmap():
    buf = open(TEXT_PDF, "rb").read()
    r = extract_text(buf, cmap=True)
    assert r["error"] is None
    assert r["text"].startswith(
        "\nLongtemps,\nje\nme\nsuis\ncouché\nde\nbonne\nheure.")
    # default mode unchanged: the heuristic's UTF-16-ish gibberish
    r0 = extract_text(buf)
    assert r0["text"].startswith("\n\x00/\x00R\x00Q\x00J")


@pytest.mark.skipif(not os.path.isfile(LETTER_PDF),
                    reason=f"reference fixture {LETTER_PDF} not present")
def test_reference_letter_pdf_readable_under_cmap():
    buf = open(LETTER_PDF, "rb").read()
    r = extract_text(buf, cmap=True)
    assert r["error"] is None
    assert "Groupe Hospitalier Henri Mondor" in r["text"]


def _cmap_pdf() -> bytes:
    """Synthetic Type0-style page: /F1 has a ToUnicode CMap, /F2 does not."""
    b = PdfBuilder()
    catalog = b.reserve()
    pages = b.reserve()
    page = b.reserve()
    tounicode = b.add_stream(b"", SAMPLE_CMAP)
    f1 = b.add(b"<</Type/Font/Subtype/Type0/BaseFont/Fake"
               b"/ToUnicode " + str(tounicode).encode() + b" 0 R>>")
    f2 = b.add(b"<</Type/Font/Subtype/TrueType/BaseFont/Plain>>")
    content = b.add_stream(
        b"", b"BT /F1 12 Tf 72 720 Td <00010002> Tj "
             b"/F2 12 Tf (plain) Tj ET"
             b" BT /F1 10 Tf 72 700 Td [<0010> -20 <0011>] TJ ET")
    b.set(page, b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
          b"/Resources<</Font<</F1 " + str(f1).encode() + b" 0 R"
          b"/F2 " + str(f2).encode() + b" 0 R>>>>"
          b"/Contents " + str(content).encode() + b" 0 R>>")
    b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode()
          + b" 0 R]/Count 1>>")
    b.set(catalog, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
    pdf, _ = b.serialize_plain(catalog)
    return pdf


def test_synthetic_cmap_end_to_end():
    pdf = _cmap_pdf()
    r = extract_text(pdf, cmap=True)
    # F1 decodes via CMap ('AHi', then 'ab'); F2 falls back to heuristic;
    # the second Tf inside one BT is the reference's SecondTfOperator span
    # error but Display text still flows - mirrored here
    assert r["error"] == "SecondTfOperator"
    assert "AHi" in r["text"]
    assert "plain" in r["text"]
    assert "ab" in r["text"]
    # default mode: glyph bytes through the heuristic
    r0 = extract_text(pdf)
    assert "AHi" not in r0["text"]


def test_fused_twopass_equivalence_with_cmaps():
    cm = parse_tounicode(SAMPLE_CMAP)
    cmaps = {b"F1": cm}
    content = (b"BT /F1 12 Tf 72 720 Td <00010002> Tj "
               b"(x) Tj [<0010> 5 (y)] TJ ET BT /F3 1 Tf <0001> Tj ET")
    assert extract_page(content, cmaps) == \
        extract_page_twopass(content, cmaps)
    t, spans, err = extract_page(content, cmaps)
    assert "AHi" in t and "\x00\x01" in t  # F3 has no cmap -> heuristic


def test_encoding_map_tables():
    from livre_spark.pdf.cmap import encoding_map

    win = encoding_map(b"WinAnsiEncoding")
    assert win.decode(b"\x93Hi\x94") == "“Hi”"   # cp1252 curly quotes
    assert win.decode(b"\x85") == "…"                  # ellipsis
    mac = encoding_map(b"MacRomanEncoding")
    assert mac.decode(b"\x8e") == "é"                  # mac-roman eacute
    std = encoding_map(None)
    assert std.decode(b"caf\xe9") == "café"            # latin-1 fallback

    # Differences: code resets + consecutive names + unknown name
    diff = encoding_map(b"WinAnsiEncoding",
                        [65, b"bullet", b"Euro", 200, b"notaglyph"])
    assert diff.decode(b"A") == "•"
    assert diff.decode(b"B") == "€"
    assert diff.decode(b"\xc8") == "�"
    assert diff.decode(b"C") == "C"  # untouched codes keep the base


def _encoding_pdf() -> bytes:
    """Simple fonts: /F1 WinAnsi (bare name), /F2 encoding dict with
    /Differences, /F3 ToUnicode (takes precedence over /Encoding)."""
    b = PdfBuilder()
    catalog = b.reserve()
    pages = b.reserve()
    page = b.reserve()
    f1 = b.add(b"<</Type/Font/Subtype/TrueType/BaseFont/W"
               b"/Encoding/WinAnsiEncoding>>")
    encdict = b.add(b"<</Type/Encoding/BaseEncoding/WinAnsiEncoding"
                    b"/Differences[65 /bullet /Euro]>>")
    f2 = b.add(b"<</Type/Font/Subtype/Type1/BaseFont/D"
               b"/Encoding " + str(encdict).encode() + b" 0 R>>")
    tounicode = b.add_stream(b"", SAMPLE_CMAP)
    f3 = b.add(b"<</Type/Font/Subtype/Type0/BaseFont/T"
               b"/Encoding/Identity-H"
               b"/ToUnicode " + str(tounicode).encode() + b" 0 R>>")
    c1 = b.add_stream(b"", b"BT /F1 12 Tf 72 720 Td (\x93q\x94) Tj ET "
                           b"BT /F2 12 Tf 72 700 Td (AB.) Tj ET "
                           b"BT /F3 12 Tf 72 680 Td <00010002> Tj ET")
    b.set(page, b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
          b"/Resources<</Font<</F1 " + str(f1).encode() + b" 0 R"
          b"/F2 " + str(f2).encode() + b" 0 R"
          b"/F3 " + str(f3).encode() + b" 0 R>>>>"
          b"/Contents " + str(c1).encode() + b" 0 R>>")
    b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode()
          + b" 0 R]/Count 1>>")
    b.set(catalog, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
    pdf, _ = b.serialize_plain(catalog)
    return pdf


def test_simple_font_encoding_end_to_end():
    pdf = _encoding_pdf()
    r = extract_text(pdf, cmap=True)
    assert r["error"] is None
    assert "“q”" in r["text"]       # WinAnsi curly quotes
    assert "•€." in r["text"]       # Differences override A,B
    assert "AHi" in r["text"]                 # ToUnicode wins over Encoding
    # default mode: raw bytes through the reference heuristic, unchanged
    r0 = extract_text(pdf)
    assert "“q”" not in r0["text"]
    assert "AB." in r0["text"]
