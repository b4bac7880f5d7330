"""Document-structure kernels: xref resolution -> object graph -> pages.

Mirrors the reference document-open algorithm (document.rs:88-136), the
catalog (structure/catalog.rs:110-143), the page tree DFS with inheritable
property merge (structure/pages.rs:157-239), the page content assembly
(pages.rs:273-291) and object streams (structure/object_stream.rs).

The whole lifecycle runs on a single in-memory byte string - in the Spark
engine this is the body of one per-row call inside a ``mapInArrow`` batch.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from . import lex, objects as ob, xref as xr
from .errors import CutError, ParseError

_PAGE_LAYOUTS = {b"SinglePage", b"OneColumn", b"TwoColumnLeft",
                 b"TwoColumnRight", b"TwoPageLeft", b"TwoPageRight"}
_PAGE_MODES = {b"UseNone", b"UseOutlines", b"UseThumbs", b"FullScreen",
               b"UseOC", b"UseAttachments"}
_ROTATIONS = {0, 90, 180, 270}


@dataclass
class InheritableProps:
    """InheritablePageProperties (pages.rs:157-172)."""

    resources: object | None = None       # Ref | dict - never merged from parent
    media_box: tuple | None = None
    crop_box: tuple | None = None
    rotate: int | None = None

    def merge_with_parent(self, parent: "InheritableProps") -> None:
        """Parent fills only missing boxes/rotation (pages.rs:174-186).

        Quirk preserved: ``resources`` is NOT inherited in the reference.
        """
        if parent.media_box is not None and self.media_box is None:
            self.media_box = parent.media_box
        if parent.crop_box is not None and self.crop_box is None:
            self.crop_box = parent.crop_box
        if parent.rotate is not None and self.rotate is None:
            self.rotate = parent.rotate


@dataclass
class Page:
    props: InheritableProps
    contents: list[ob.Ref] = field(default_factory=list)
    user_unit: float = 1.0


@dataclass
class PageTreeNode:
    props: InheritableProps
    kids: list[ob.Ref] = field(default_factory=list)


@dataclass
class Catalog:
    pages: PageTreeNode
    page_layout: bytes = b"SinglePage"
    page_mode: bytes = b"UseNone"


def _parse_rotation(buf: bytes, pos: int):
    value, pos = ob.parse_unsigned(buf, pos)
    if value not in _ROTATIONS:
        raise ParseError("BadRotation", pos, str(value))
    return value, pos


def _parse_opt_ref(buf: bytes, pos: int, inner):
    """OptRef<T>: reference first, else inline value (refs/reference.rs:78-101)."""
    try:
        return ob.parse_reference(buf, pos)
    except ParseError:
        return inner(buf, pos)


def _parse_resources(buf: bytes, pos: int):
    """Resources dict: requires a /Font map of name->ref (pages.rs:17-21)."""
    raw, new_pos = ob.parse_raw_dict(buf, pos)
    font_span = raw.pop(b"Font")
    if font_span is None:
        raise ParseError("MissingKey", pos, "Font")
    font_raw, _ = ob.parse_raw_dict(buf, font_span[0])
    fonts = {}
    for key, (s, e) in font_raw.entries.items():
        ref, _ = ob.parse_reference(buf, s)
        fonts[key] = ref
    return {"font": fonts}, new_pos


def _inheritable_from_raw(raw: ob.RawDict) -> InheritableProps:
    resources = raw.pop_and_parse(
        b"Resources", lambda b, p: _parse_opt_ref(b, p, _parse_resources))
    media_box = raw.pop_and_parse(b"MediaBox", ob.parse_rectangle)
    crop_box = raw.pop_and_parse(b"CropBox", ob.parse_rectangle)
    rotate = raw.pop_and_parse(b"Rotate", _parse_rotation)
    return InheritableProps(resources, media_box, crop_box, rotate)


def _page_from_raw(raw: ob.RawDict) -> Page:
    """Page FromRawDict (pages.rs:241-271): Contents defaults to [],
    UserUnit defaults to 1.0."""
    props = _inheritable_from_raw(raw)
    contents = raw.pop_and_parse(
        b"Contents", lambda b, p: ob.parse_maybe_array(b, p, ob.parse_reference))
    user_unit = raw.pop_and_parse(b"UserUnit", ob.parse_real)
    return Page(props, contents or [], 1.0 if user_unit is None else user_unit)


def _page_tree_node_from_raw(raw: ob.RawDict) -> PageTreeNode:
    """PageTreeNode FromRawDict (pages.rs:199-214): Kids is required."""
    props = _inheritable_from_raw(raw)
    kids_span = raw.pop(b"Kids")
    if kids_span is None:
        raise ParseError("MissingKey", None, "Kids")
    kids, _ = ob.parse_maybe_array(raw.buf, kids_span[0], ob.parse_reference)
    return PageTreeNode(props, kids)


def _page_element_from_raw(raw: ob.RawDict):
    """PageElement dispatch on required /Type (pages.rs:313-327)."""
    page_type = raw.pop_and_parse(b"Type", ob.parse_name)
    if page_type is None:
        raise ParseError("MissingKey", None, "Type")
    if bytes(page_type) == b"Page":
        return _page_from_raw(raw)
    if bytes(page_type) == b"Pages":
        return _page_tree_node_from_raw(raw)
    raise ParseError("BadPageType", None, bytes(page_type).decode("latin-1"))


@dataclass
class ObjectStream:
    """Decoded /ObjStm: id->offset map over post-header content
    (object_stream.rs:37-92)."""

    offsets: dict[tuple[int, int], int]
    content: bytes
    extends: ob.Ref | None


def _object_stream_from_stream(doc: "Document", raw: ob.RawDict,
                               content: bytes) -> ObjectStream:
    n = raw.require(b"N", ob.parse_unsigned)
    first = raw.require(b"First", ob.parse_unsigned)
    extends = raw.pop_and_parse(b"Extends", ob.parse_reference)
    header, body = content[:first], content[first:]
    offsets: dict[tuple[int, int], int] = {}
    pos = 0
    for _ in range(n):
        pos = lex.skip_ws(header, pos)
        obj_id, pos = ob.parse_unsigned(header, pos)
        pos = lex.skip_ws1(header, pos)
        off, pos = ob.parse_unsigned(header, pos)
        offsets[(obj_id, 0)] = off
    return ObjectStream(offsets, body, extends)


class Document:
    """InMemoryDocument: full bytes + xref map + lazily-built objects
    (document.rs:36-136)."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self.xrefs, root_ref, self.trailer = xr.collect_xrefs(buf)
        self._objstm_cache: dict[int, ObjectStream] = {}
        # beyond-reference extension: empty-user-password RC4 decryption
        # (pdf/crypt.py); unsupported schemes raise a contained CutError.
        # No /Encrypt -> decryptor None -> zero behavior change.
        self.decryptor = None
        self._current_ref: tuple[int, int] | None = None
        if self.trailer.encrypt_pos is not None:
            from .crypt import build_decryptor

            self.decryptor = build_decryptor(
                buf, self.trailer.encrypt_pos, self.xrefs,
                self.trailer.file_id)
        self.catalog = self.build(root_ref, _catalog_parser)

    # -- builder ------------------------------------------------------------

    def build(self, ref: ob.Ref, parser):
        """build_reference (document.rs:43-81).

        ``parser(doc, buf, pos) -> (value, pos)`` parses the object *value*
        (no ``N G obj`` wrapper - that is handled here for plain locations,
        and absent for compressed ones, matching the reference).
        """
        loc = self.xrefs.get(ref.id)
        if loc is None:
            raise ParseError("DanglingReference", None, str(ref.id))
        if loc[0] == "plain":
            offset = loc[1]
            if offset >= len(self.buf):
                raise ParseError("BadObjectOffset", offset)
            # the per-object decryption key needs the OWNING indirect
            # object's id; compressed objects are never encrypted (their
            # containing /ObjStm payload already was), so only this path
            # sets the context.  SAVE/RESTORE, not set/clear: a parser
            # may nest a build (e.g. an /Info entry whose value is an
            # indirect ref) and the OUTER object's strings must keep
            # decrypting under the outer id afterwards
            prev_ref = self._current_ref
            self._current_ref = ref.id
            try:
                rid, value, _ = ob.parse_indirect(
                    self.buf, offset, lambda b, p: parser(self, b, p))
            finally:
                self._current_ref = prev_ref
            return value
        # compressed: build the owning ObjectStream, then index into it,
        # following the /Extends chain on a miss (object_stream.rs:71-92,
        # the reference's build_owned_object; its own document-open path
        # uses build_object which does not follow - we follow, a strict
        # superset that changes no fixture behavior).  The visited set
        # guards against /Extends cycles in hostile inputs.
        stream_id = loc[1]
        visited: set[int] = set()
        while True:
            visited.add(stream_id)
            objstm = self._object_stream(stream_id)
            off = objstm.offsets.get(ref.id)
            if off is not None:
                value, _ = parser(self, objstm.content, off)
                return value
            ext = objstm.extends
            if ext is None or ext.object in visited:
                raise ParseError("MissingCompressedObject", None, str(ref.id))
            stream_id = ext.object

    def _object_stream(self, stream_id: int) -> ObjectStream:
        cached = self._objstm_cache.get(stream_id)
        if cached is not None:
            return cached
        objstm = self.build(ob.Ref(stream_id, 0), _object_stream_parser)
        self._objstm_cache[stream_id] = objstm
        return objstm

    # -- page API -------------------------------------------------------------

    def pages(self) -> list[Page]:
        """DFS page enumeration with property inheritance (pages.rs:218-239)."""
        return self._list_pages(self.catalog.pages)

    def _list_pages(self, node: PageTreeNode) -> list[Page]:
        result: list[Page] = []
        for kid in node.kids:
            element = self.build(kid, _page_element_parser)
            element.props.merge_with_parent(node.props)
            if isinstance(element, Page):
                result.append(element)
            else:
                result.extend(self._list_pages(element))
        return result

    def info(self) -> dict[str, object] | None:
        """Decoded document-information dictionary, or None when absent.

        Beyond-reference extension (the reference never reads /Info).
        String values are decrypted through the per-object /StrF key for
        encrypted documents - without this a metadata query would
        silently read ciphertext - then decoded with the reference's
        UTF-16BE/Latin-1 heuristic.  Non-string values parse as plain
        objects; unparseable entries are dropped (the Map<T> discipline,
        map.rs:204-216).  The usual shape is an indirect reference; an
        inline trailer dict (rare) is parsed without decryption, since
        strings outside any indirect object are never encrypted per
        PDF 32000-1 7.6.2.
        """
        pos = self.trailer.info_pos
        if pos is None:
            return None
        try:
            ref, _ = ob.parse_reference(self.buf, pos)
        except ParseError:
            value, _ = _info_dict_parser(self, self.buf, pos)
            return value
        return self.build(ref, _info_dict_parser)

    def page_images(self, max_images: int = 64) -> list[dict]:
        """Beyond-reference extension: the document's image XObjects.

        Walks the page tree collecting /Resources -> /XObject entries
        whose /Subtype is /Image; each yields ``{name, page, width,
        height, bpc, color_space, kind, data}`` where ``kind`` is
        ``"jpeg"`` (a /DCTDecode payload - a complete JFIF/JPEG file,
        decodable by functions/jpeg.py), ``"raster"`` (all non-image
        filters already applied - raw samples) or ``"codec:<name>"``
        (JPX/CCITT/JBIG2 - payload returned undecoded).  Encrypted
        documents decrypt per object like every other stream.  Shared
        XObjects are reported once (first referencing page);
        ``max_images`` bounds hostile fan-out.

        ``page`` ordinals are best-effort on damaged documents: a page
        node that fails to build is counted as one page (the common
        case - leaves outnumber interior /Pages nodes), but a broken
        INTERIOR node drops its whole subtree's pages from the count."""
        images: list[dict] = []
        seen_nodes: set = set()
        seen_xobjs: set = set()
        page_no = [0]

        def visit(node_ref):
            if len(images) >= max_images or node_ref.id in seen_nodes:
                return
            seen_nodes.add(node_ref.id)
            try:
                kids, xobjs = self.build(node_ref, _xobject_walk_parser)
            except (ParseError, CutError):
                # assume the broken node was a leaf page so later pages
                # keep their ordinals (best-effort; see docstring)
                page_no[0] += 1
                return
            if kids is None:
                page_no[0] += 1
            # leaf images get their page ordinal; images hung on a
            # non-leaf Pages node belong to no single page -> None
            owner_page = page_no[0] if kids is None else None
            for name, xref in xobjs.items():
                if len(images) >= max_images or xref.id in seen_xobjs:
                    continue
                seen_xobjs.add(xref.id)
                try:
                    info = self.build(xref, _image_stream_parser)
                except (ParseError, CutError):
                    continue
                if info.get("subtype") != "Image":
                    continue
                info["name"] = name
                info["page"] = owner_page
                images.append(info)
            for kid in kids or []:
                visit(kid)

        # catalog.pages is the already-built ROOT node; walk its kids
        # (root-level /Resources would be inherited ones - and the
        # reference never inherits resources, quirk preserved)
        for kid in self.catalog.pages.kids:
            visit(kid)
        return images

    def build_content(self, page: Page) -> bytes:
        """Concatenate all decoded /Contents streams, no separator
        (pages.rs:273-291)."""
        parts = []
        for ref in page.contents:
            parts.append(self.build(ref, _stream_content_parser))
        return b"".join(parts)

    def page_tounicode_cmaps(self, page: Page) -> dict:
        """Opt-in extension (NOT reference behavior - the reference never
        touches /Font): resolve the page's /Resources -> /Font map and
        build a decoder per font - the /ToUnicode CMap when present, else
        a simple-font /Encoding byte table (WinAnsi/MacRoman/Differences,
        cmap.encoding_map).  Used only by ``extract_text(..., cmap=True)``;
        fully contained - any failure just leaves that font without a
        decoder (heuristic decode fallback).
        """
        from .cmap import encoding_map, parse_tounicode

        res = page.props.resources
        if res is None:
            return {}
        try:
            if isinstance(res, ob.Ref):
                res = self.build(
                    res, lambda d, b, p: _parse_resources(b, p))
        except ParseError:
            return {}
        fonts = res.get("font") if isinstance(res, dict) else None
        if not fonts:
            return {}
        cmaps = {}
        for name, ref in fonts.items():
            try:
                tu_ref, enc = self.build(ref, _font_decode_parser)
                if tu_ref is not None:
                    data = self.build(tu_ref, _stream_content_parser)
                    cmaps[bytes(name)] = parse_tounicode(data)
                elif enc is not None:
                    cmaps[bytes(name)] = encoding_map(*enc)
            except Exception:
                continue
        return cmaps

    def _resolve_encoding(self, buf: bytes, pos: int):
        """/Encoding value -> (base_name, differences) or None.

        Accepts a bare name, an inline dict, or a reference to a dict."""
        try:
            name, _ = ob.parse_name(buf, pos)
            return (bytes(name), None)
        except ParseError:
            pass
        try:
            ref, _ = ob.parse_reference(buf, pos)
            return self.build(ref, _encoding_dict_parser)
        except ParseError:
            pass
        try:
            return _encoding_dict_parser(self, buf, pos)[0]
        except ParseError:
            return None


# --- typed per-object parsers (the ``Build`` impls) --------------------------


def _catalog_parser(doc: Document, buf: bytes, pos: int):
    """Catalog::build (catalog.rs:110-143)."""
    raw, new_pos = ob.parse_raw_dict(buf, pos)
    layout = raw.pop_and_parse(b"PageLayout", ob.parse_name)
    if layout is not None and bytes(layout) not in _PAGE_LAYOUTS:
        raise ParseError("BadPageLayout", pos)
    mode = raw.pop_and_parse(b"PageMode", ob.parse_name)
    if mode is not None and bytes(mode) not in _PAGE_MODES:
        raise ParseError("BadPageMode", pos)
    pages_ref = raw.require(b"Pages", ob.parse_reference)
    pages = doc.build(pages_ref, _page_tree_parser)
    if not isinstance(pages, PageTreeNode):
        raise ParseError("BadPagesNode")
    catalog = Catalog(pages,
                      bytes(layout) if layout else b"SinglePage",
                      bytes(mode) if mode else b"UseNone")
    return catalog, new_pos


def _page_tree_parser(doc: Document, buf: bytes, pos: int):
    raw, new_pos = ob.parse_raw_dict(buf, pos)
    raw.pop(b"Type")  # tolerated on the root node
    return _page_tree_node_from_raw(raw), new_pos


def _page_element_parser(doc: Document, buf: bytes, pos: int):
    raw, new_pos = ob.parse_raw_dict(buf, pos)
    return _page_element_from_raw(raw), new_pos


def _doc_decrypt(doc: Document):
    """Per-object stream decrypt hook, or None when not encrypted."""
    if doc.decryptor is None or doc._current_ref is None:
        return None
    num, gen = doc._current_ref
    return lambda data: doc.decryptor.decrypt(num, gen, data)


def _info_dict_parser(doc: Document, buf: bytes, pos: int):
    """/Info dict -> {key: decoded value}, strings decrypted per-object.

    A string value's key is that of the indirect object CONTAINING it
    (PDF 32000-1 7.6.2): inline strings use the /Info object's own id
    (doc._current_ref, set by Document.build), and an indirect string
    value resolves through Document.build so it gets the target's id.
    """
    raw, p = ob.parse_raw_dict(buf, pos)
    out: dict[str, object] = {}
    for key, (s, _e) in raw.entries.items():
        name = key.decode("latin-1")
        try:
            ref, _ = ob.parse_reference(buf, s)
        except ParseError:
            ref = None
        try:
            if ref is not None:
                out[name] = doc.build(ref, _info_value_parser)
            else:
                out[name], _ = _info_value_parser(doc, buf, s)
        except (ParseError, CutError):
            pass  # drop-unparseable, Map<T> discipline
    return out, p


_IMAGE_CODECS = {b"DCTDecode", b"DCT", b"JPXDecode",
                 b"CCITTFaxDecode", b"CCF", b"JBIG2Decode"}


def _xobject_walk_parser(doc: Document, buf: bytes, pos: int):
    """Page-tree node -> (kids refs or None, {name: xobject ref})."""
    raw, p = ob.parse_raw_dict(buf, pos)
    kids_span = raw.pop(b"Kids")
    kids = None
    if kids_span is not None:
        kids, _ = ob.parse_vec(buf, kids_span[0], ob.parse_reference)
    res_span = raw.pop(b"Resources")
    xobjs: dict = {}
    if res_span is not None:
        try:
            rref, _ = ob.parse_reference(buf, res_span[0])
            xobjs = doc.build(rref, _resources_xobject_parser)
        except ParseError:
            try:
                xobjs, _ = _resources_xobject_parser(doc, buf,
                                                     res_span[0])
            except ParseError:
                xobjs = {}
    return (kids, xobjs), p


def _resources_xobject_parser(doc: Document, buf: bytes, pos: int):
    raw, p = ob.parse_raw_dict(buf, pos)
    span = raw.pop(b"XObject")
    if span is None:
        return {}, p
    try:
        rref, _ = ob.parse_reference(buf, span[0])
        return doc.build(rref, _xobject_dict_parser), p
    except ParseError:
        value, _ = _xobject_dict_parser(doc, buf, span[0])
        return value, p


def _xobject_dict_parser(doc: Document, buf: bytes, pos: int):
    raw, p = ob.parse_raw_dict(buf, pos)
    out: dict = {}
    for name, (s, _e) in raw.entries.items():
        try:
            out[name.decode("latin-1")], _ = ob.parse_reference(buf, s)
        except ParseError:
            pass  # inline XObjects are not a thing; drop-unparseable
    return out, p


def _image_stream_parser(doc: Document, buf: bytes, pos: int):
    """Image XObject -> metadata + payload.

    The payload routes by FILTER, not blindly through decode_chain: a
    trailing image codec (/DCTDecode etc.) is the image file itself -
    the text path rejects those codecs (filtering.rs:50-53), the image
    path hands them to the real decoders; any non-image prefix filters
    (e.g. an exotic Flate-wrapped JPEG) are applied first."""
    raw, p = ob.parse_raw_dict(buf, pos)
    out: dict = {}
    st = raw.pop(b"Subtype")
    if st is not None:
        try:
            n, _ = ob.parse_name(buf, st[0])
            out["subtype"] = bytes(n).decode("latin-1")
        except ParseError:
            out["subtype"] = None
    out["width"] = raw.pop_and_parse(b"Width", ob.parse_unsigned)
    out["height"] = raw.pop_and_parse(b"Height", ob.parse_unsigned)
    out["bpc"] = raw.pop_and_parse(b"BitsPerComponent", ob.parse_unsigned)
    cs_span = raw.pop(b"ColorSpace")
    out["color_space"] = None
    if cs_span is not None:
        try:
            n, _ = ob.parse_name(buf, cs_span[0])
            out["color_space"] = bytes(n).decode("latin-1")
        except ParseError:
            pass  # array form (ICCBased etc.): leave None
    filters, parms, payload, p = ob.parse_stream_raw_from_dict(
        buf, p, raw, decrypt=_doc_decrypt(doc), validate_filters=False)
    names = [bytes(f) for f in filters]
    if names and names[-1] in (b"DCTDecode", b"DCT"):
        from .filters import decode_chain

        out["kind"] = "jpeg"
        out["data"] = decode_chain(
            names[:-1], payload, parms[:-1] if parms else None)
    elif names and names[-1] in (b"CCITTFaxDecode", b"CCF"):
        from .ccitt import decode_ccitt
        from .filters import decode_chain

        parm = (parms[-1] if parms and len(parms) == len(names)
                else None) or {}
        try:
            pre = decode_chain(names[:-1], payload,
                               parms[:-1] if parms else None)
            # /Rows absent -> the image's own height bounds the decode
            out["kind"] = "raster"
            out["data"] = decode_ccitt(
                pre,
                columns=int(parm.get(b"Columns", 1728)),
                rows=int(parm.get(b"Rows", out.get("height") or 0)),
                k=int(parm.get(b"K", 0)),
                byte_align=bool(parm.get(b"EncodedByteAlign", False)),
                black_is_1=bool(parm.get(b"BlackIs1", False)))
        except (ParseError, CutError, ValueError, TypeError):
            # containment: undecodable fax payload stays codec-tagged
            out["kind"] = f"codec:{names[-1].decode('latin-1')}"
            out["data"] = payload
    elif any(n in _IMAGE_CODECS for n in names):
        codec = next(n for n in names if n in _IMAGE_CODECS)
        out["kind"] = f"codec:{codec.decode('latin-1')}"
        out["data"] = payload
    else:
        from .filters import decode_chain

        out["kind"] = "raster"
        out["data"] = decode_chain(names, payload, parms)
    return out, p


def _info_value_parser(doc: Document, buf: bytes, pos: int):
    """One /Info value: a string (decrypted via the owning object's key)
    or any plain object."""
    try:
        pdf_s, p = ob.parse_string(buf, pos)
    except ParseError:
        return ob.parse_object(buf, pos)
    payload = bytes(pdf_s)
    if doc.decryptor is not None and doc._current_ref is not None:
        num, gen = doc._current_ref
        payload = doc.decryptor.decrypt_string(num, gen, payload)
    return ob.decode_pdf_string(payload), p


def _stream_content_parser(doc: Document, buf: bytes, pos: int):
    raw, p = ob.parse_raw_dict(buf, pos)
    content, p = ob.parse_stream_from_dict(buf, p, raw,
                                           decrypt=_doc_decrypt(doc))
    return content, p


def _font_decode_parser(doc: Document, buf: bytes, pos: int):
    """Font dict -> (/ToUnicode ref or None, resolved /Encoding info or
    None).  Extension-only."""
    raw, p = ob.parse_raw_dict(buf, pos)
    tu = raw.pop_and_parse(b"ToUnicode", ob.parse_reference)
    enc_span = raw.pop(b"Encoding")
    enc = None
    if tu is None and enc_span is not None:
        enc = doc._resolve_encoding(buf, enc_span[0])
    return (tu, enc), p


def _encoding_dict_parser(doc: Document, buf: bytes, pos: int):
    """Encoding dict -> (BaseEncoding name or None, Differences list)."""
    raw, p = ob.parse_raw_dict(buf, pos)
    base = raw.pop_and_parse(b"BaseEncoding", ob.parse_name)
    diff_span = raw.pop(b"Differences")
    diffs = None
    if diff_span is not None:
        diffs, _ = ob.parse_vec(buf, diff_span[0], ob.parse_object)
    return (bytes(base) if base is not None else None, diffs), p


def _object_stream_parser(doc: Document, buf: bytes, pos: int):
    raw, p = ob.parse_raw_dict(buf, pos)
    content, p = ob.parse_stream_from_dict(buf, p, raw,
                                           decrypt=_doc_decrypt(doc))
    return _object_stream_from_stream(doc, raw, content), p


def open_document(buf: bytes) -> Document:
    """Entry point 1: bytes -> Document (document.rs:88-136)."""
    return Document(buf)
