"""Document-structure kernel tests, ported 1:1 from the reference's inline
vectors (structure/trailer_block/*, structure/object_stream.rs,
structure/pages.rs)."""

import pytest

from livre_spark.pdf import objects as ob, xref as xr
from livre_spark.pdf.document import (
    Document, _page_from_raw, _object_stream_from_stream,
)
from livre_spark.pdf.errors import ParseError


# --- startxref (trailer_block/startxref.rs:49-77) ---------------------------

def test_startxref():
    assert xr.find_startxref(b"startxref\n7\n") == 7


def test_startxref_picks_last_occurrence():
    data = b"startxref\n7\n%%EOF\nstartxref\n42\n%%EOF\n"
    assert xr.find_startxref(data) == 42


def test_startxref_only_last_1024_bytes():
    data = b"startxref\n7\n%%EOF\n" + b" " * 2000
    with pytest.raises(ParseError):
        xr.find_startxref(data)


# --- plain xref entries/subsections/tables (trailer_block/plain.rs:123-189) -

@pytest.mark.parametrize("raw,expected", [
    (b"0 1\n0000000000 65535 f \n", []),
    (b"10 2\n0000000001 00001 f \n0000000035 00000 n \n",
     [((11, 0), ("plain", 35))]),
    (b"110 3\n0000010001 00020 n \n0000010020 00000 n \n0000050020 03482 n \n",
     [((110, 20), ("plain", 10001)),
      ((111, 0), ("plain", 10020)),
      ((112, 3482), ("plain", 50020))]),
])
def test_xref_subsection(raw, expected):
    entries, _ = xr._parse_xref_subsection(raw, 0)
    assert entries == expected


def test_xref_table_multi_subsection():
    raw = (b"xref\n0 3\n0000000000 65535 f \n0000000200 00000 n\r\n"
           b"0000000220 00001 n \r3 2\n0000000300 00001 f \n"
           b"0000000300 00000 n\r\n")
    entries, _ = xr.parse_plain_xref(raw, 0)
    assert entries == [
        ((1, 0), ("plain", 200)),
        ((2, 1), ("plain", 220)),
        ((4, 0), ("plain", 300)),
    ]


@pytest.mark.parametrize("raw,expected", [
    # entry EOLs: " \n", " \r", "\r\n" are the only valid forms
    (b"0000000000 65535 f \n", True),
    (b"0000000010 00000 n\r\n", True),
    (b"0000000103 00001 n \r", True),
    (b"0000000103 00001 n\n", False),   # bare \n after flag is invalid
])
def test_xref_entry_eol_forms(raw, expected):
    m = xr._ENTRY.match(raw)
    assert (m is not None) == expected


# --- xref stream binary entries (trailer_block/stream.rs:235-256) -----------

@pytest.mark.parametrize("rec,expected", [
    (bytes([0x00, 0x0E, 0x8A, 0x00]), []),
    (bytes([0x00, 0x11, 0x00, 0x00]), []),
    (bytes([0x01, 0x0E, 0x8A, 0x00]), [((0, 0), ("plain", 3722))]),
    (bytes([0x02, 0x00, 0x02, 0x05]), [((0, 0), ("compressed", 2, 5))]),
    (bytes([0x01, 0x13, 0x23, 0x00]), [((0, 0), ("plain", 4899))]),
    # unknown entry type -> dropped (stream.rs:70-78)
    (bytes([0x07, 0x00, 0x02, 0x05]), []),
])
def test_xref_stream_entry(rec, expected):
    assert xr.parse_xref_stream_entries(rec, (1, 2, 1), [(0, 1)]) == expected


def test_xref_stream_w0_zero_skips_all():
    """Quirk: W[0] == 0 means every entry decodes as type 0 (free)."""
    rec = bytes([0x0E, 0x8A, 0x00] * 2)
    assert xr.parse_xref_stream_entries(rec, (0, 2, 1), [(0, 2)]) == []


def test_xref_stream_w1_zero_rejected():
    with pytest.raises(ParseError):
        xr.parse_xref_stream_entries(b"", (1, 0, 1), [(0, 0)])


# --- trailer dict (trailer_block/trailer.rs:60-87) ---------------------------

def test_trailer_dict():
    raw = (b"<</Size 92813\n/Root 90794 0 R\n/Info 90792 0 R\n"
           b"/ID[<2B552B55><0a122B55>]\n/Prev 116\n/Type/XRef\n"
           b"/W[ 1 3 0]\n/Index[ 1 1 7 1 14 1 16 1 91807 1006]\n/Length 1>>")
    d, _ = ob.parse_raw_dict(raw, 0)
    t = xr.trailer_from_raw_dict(d)
    assert t.size == 92813
    assert t.prev == 116
    assert t.root == ob.Ref(90794, 0)
    assert t.file_id == (b"\x2b\x55\x2b\x55", b"\x0a\x12\x2b\x55")


def test_trailer_missing_root_fails():
    d, _ = ob.parse_raw_dict(b"<</Size 5>>", 0)
    with pytest.raises(ParseError):
        xr.trailer_from_raw_dict(d)


# --- object streams (structure/object_stream.rs:145-179) --------------------

def test_object_stream_header():
    content = b"11 0 12 5 13 8\ntrue\n42\n(test)\n"
    raw, _ = ob.parse_raw_dict(
        b"<</Type /ObjStm /Length 30 /N 3 /First 15>>", 0)
    objstm = _object_stream_from_stream(None, raw, content)
    assert objstm.offsets == {(11, 0): 0, (12, 0): 5, (13, 0): 8}
    assert objstm.content == b"true\n42\n(test)\n"
    assert ob.parse_object(objstm.content, 0)[0] is True
    assert ob.parse_object(objstm.content, 5)[0] == 42
    assert ob.parse_object(objstm.content, 8)[0] == ob.PdfString(b"test")


# --- page parsing & media box (structure/pages.rs:348-434) -------------------

PAGE1 = (b"<<\n/Type /Page\n/Parent 4 0 R\n/MediaBox [0 0 612 792]\n"
         b"/Resources  <<\n/Font <<\n/F3 7 0 R\n/F5 9 0 R\n/F7 11 0 R \n>>\n>>\n"
         b"/Contents 12 0 R\n/Annots [23 0 R\n24 0 R\n]\n>>")

PAGE2 = (b"<<\n/Type/Page\n/Parent 2 0 R\n/Resources<<\n"
         b"/XObject<</Image5 5 0 R/Image18 18 0 R>>\n"
         b"/ExtGState<</GS6 6 0 R/GS9 9 0 R>>\n"
         b"/Font<</F1 7 0 R/F2 10 0 R/F3 12 0 R/F4 14 0 R/F5 16 0 R"
         b"/F6 19 0 R/F7 24 0 R/F8 29 0 R/F9 34 0 R>>\n"
         b"/ProcSet[/PDF/Text/ImageB/ImageC/ImageI] \n>>\n"
         b"/MediaBox[ 0 0 595.32 841.92] \n/Contents 4 0 R\n"
         b"/Group<</Type/Group/S/Transparency/CS/DeviceRGB>>\n"
         b"/Tabs/S\n/StructParents 0\n>>")


@pytest.mark.parametrize("raw,media_box", [
    (PAGE1, (0.0, 0.0, 612.0, 792.0)),
    (PAGE2, (0.0, 0.0, 595.32, 841.92)),
])
def test_page_media_box(raw, media_box):
    d, _ = ob.parse_raw_dict(raw, 0)
    d.pop(b"Type")
    page = _page_from_raw(d)
    assert page.props.media_box == pytest.approx(media_box)
    assert len(page.contents) == 1


def test_page_resources_font_refs():
    d, _ = ob.parse_raw_dict(PAGE1, 0)
    d.pop(b"Type")
    page = _page_from_raw(d)
    assert page.props.resources == {"font": {
        b"F3": ob.Ref(7, 0), b"F5": ob.Ref(9, 0), b"F7": ob.Ref(11, 0)}}


def test_inheritance_merge_semantics():
    """media/crop/rotate inherit; resources do NOT (pages.rs:174-186)."""
    from livre_spark.pdf.document import InheritableProps

    child = InheritableProps(media_box=None, crop_box=(1, 1, 2, 2))
    parent = InheritableProps(resources={"font": {}},
                              media_box=(0, 0, 10, 10),
                              crop_box=(0, 0, 5, 5), rotate=90)
    child.merge_with_parent(parent)
    assert child.media_box == (0, 0, 10, 10)     # filled from parent
    assert child.crop_box == (1, 1, 2, 2)        # child wins
    assert child.rotate == 90
    assert child.resources is None               # never inherited


def test_objstm_extends_chain_followed():
    """An object whose xref type-2 entry points at a CHILD object stream
    that doesn't contain it is found by walking /Extends to the parent
    (object_stream.rs:71-92 build_owned_object; strict superset of the
    reference's document-open path, which would error)."""
    from livre_spark.pdf.document import open_document
    from livre_spark.pdf.genpdf import PdfBuilder, make_object_stream

    b = PdfBuilder()
    catalog_id = b.reserve()
    pages_id = b.reserve()
    page_id = b.reserve()
    content_id = b.add_stream(b"", b"BT /F1 9 Tf 10 10 Td (via-extends) Tj ET")
    b.set(catalog_id, b"<</Type/Catalog/Pages "
          + str(pages_id).encode() + b" 0 R>>")
    b.set(pages_id, b"<</Type/Pages/Kids["
          + str(page_id).encode() + b" 0 R]/Count 1>>")
    # the PAGE object lives in a parent ObjStm...
    parent_sid, parent_members = make_object_stream(
        b, [b"<</Type/Page/Parent " + str(pages_id).encode()
            + b" 0 R/Contents " + str(content_id).encode() + b" 0 R>>"])
    real_page_oid = next(iter(parent_members))
    # ...but the xref claims it lives in a CHILD stream that /Extends the
    # parent and does not actually contain it
    child_sid, child_members = make_object_stream(b, [b"<</Dummy 1>>"])
    b.objects[child_sid] = b.objects[child_sid].replace(
        b"/Type/ObjStm",
        b"/Type/ObjStm/Extends " + str(parent_sid).encode() + b" 0 R")
    # fix /Length: the dict prefix grew, content didn't - Length is still
    # correct because we only edited the dict, not the stream body
    members = dict(child_members)
    members[real_page_oid] = (child_sid, 0)
    # remap page_id -> the ObjStm member id in the Kids array
    b.objects[pages_id] = b.objects[pages_id].replace(
        str(page_id).encode() + b" 0 R",
        str(real_page_oid).encode() + b" 0 R")
    pdf, _ = b.serialize_xref_stream(catalog_id, objstm_members=members)

    doc = open_document(pdf)
    pages = doc.pages()
    assert len(pages) == 1
    text = doc.build_content(pages[0])
    assert b"via-extends" in text


def test_objstm_extends_cycle_contained():
    """A hostile /Extends cycle must error, not loop forever."""
    from livre_spark.pdf.api import extract_text
    from livre_spark.pdf.genpdf import PdfBuilder, make_object_stream

    b = PdfBuilder()
    catalog_id = b.reserve()
    pages_id = b.reserve()
    b.set(catalog_id, b"<</Type/Catalog/Pages "
          + str(pages_id).encode() + b" 0 R>>")
    missing_id = b.reserve()
    b.set(pages_id, b"<</Type/Pages/Kids["
          + str(missing_id).encode() + b" 0 R]/Count 1>>")
    sid, members = make_object_stream(b, [b"<</Dummy 1>>"])
    b.objects[sid] = b.objects[sid].replace(
        b"/Type/ObjStm",
        b"/Type/ObjStm/Extends " + str(sid).encode() + b" 0 R")  # self-cycle
    members = dict(members)
    members[missing_id] = (sid, 0)
    pdf, _ = b.serialize_xref_stream(catalog_id, objstm_members=members)
    r = extract_text(pdf)
    assert r["error"] == "MissingCompressedObject"


def _page_tree_pdf(kids_of):
    """A document whose /Pages root is object ``root`` and whose page
    tree nodes have the given /Kids (``kids_of``: name -> kid names;
    a name without an entry is a leaf page)."""
    from livre_spark.pdf.genpdf import PdfBuilder

    b = PdfBuilder()
    catalog_id = b.reserve()
    ids = {name: b.reserve() for name in ["root", *sorted(
        {k for kids in kids_of.values() for k in kids} - {"root"})]}
    content_id = b.add_stream(b"", b"BT /F1 9 Tf 10 10 Td (p) Tj ET")
    b.set(catalog_id, b"<</Type/Catalog/Pages %d 0 R>>" % ids["root"])
    for name, oid in ids.items():
        if name in kids_of:
            refs = b" ".join(b"%d 0 R" % ids[k] for k in kids_of[name])
            b.set(oid, b"<</Type/Pages/Kids[" + refs + b"]>>")
        else:
            b.set(oid, b"<</Type/Page/Contents %d 0 R>>" % content_id)
    pdf, _ = b.serialize_plain(catalog_id)
    return pdf


@pytest.mark.parametrize("kids_of", [
    {"root": ["page", "root"]},                       # self-cycle
    {"root": ["a"], "a": ["page", "b"], "b": ["a"]},  # 2-cycle
])
def test_page_tree_cycle_is_a_stable_error(kids_of):
    """A /Kids cycle is reported as PageTreeCycle, not as the RecursionError
    an unbounded walk hits after a thousand levels."""
    from livre_spark.pdf.api import extract_text

    pdf = _page_tree_pdf(kids_of)
    with pytest.raises(ParseError, match="PageTreeCycle"):
        Document(pdf).pages()
    assert extract_text(pdf)["error"] == "PageTreeCycle"


def test_shared_page_subtree_enumerates_once_per_parent():
    """No cycle: a subtree listed under two parents is walked under each."""
    pdf = _page_tree_pdf({"root": ["a", "b"], "a": ["shared"],
                          "b": ["shared"], "shared": ["page"]})
    assert len(Document(pdf).pages()) == 2
