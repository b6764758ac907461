"""PDF writer: ordered spans -> a valid single-use PDF.

The sink-side complement of the extraction kernel (SURVEY.md §2.1 S4):
given the extraction output — ``(kind, text, media_ref)`` spans in
reading order — emit a well-formed classic-xref PDF that the SAME
kernel extracts back to the SAME span sequence (the rewrite fixpoint,
asserted by the ``pdf_rewrite_roundtrip`` query against the unchanged
span oracle).  This is the primitive a redaction/transformation
pipeline needs: scrub or edit the spans, re-serialize, and the result
is a real document again.

Layout: one page per span.  A text span becomes a one-line content
stream (literal string, §7.3.4.2 escapes); a media span becomes a page
whose content is ``/<name> Do`` over a 1x1 RGB image XObject carrying
the original resource name — re-extraction reports the same
``(media, NULL, name)`` marker.  Text is latin-1 (the span column's
byte-faithful charset) in escaped literal strings; non-latin1 spans get
a per-page Type0/Identity-H font with a GENERATED ToUnicode bfchar
table (surrogate pairs included) — the §9.10.3 decode path maps the
dense per-page codes back to the exact text.  A second entry point,
:func:`write_pdf_layout`, preserves GEOMETRY: each span re-shown at its
(page, x, y) origin via a Tm set, proving the layout fixpoint.  Pure
Python, deterministic.
"""

from __future__ import annotations


def _escape_literal(b: bytes) -> bytes:
    out = bytearray()
    for c in b:
        if c in (0x5C, 0x28, 0x29):  # backslash, parens
            out += b"\\" + bytes((c,))
        elif c in (0x0D, 0x0A):  # raw EOLs would be normalized (§7.3.4.2)
            out += b"\\r" if c == 0x0D else b"\\n"
        else:
            out.append(c)
    return bytes(out)


def _is_latin1(s: str) -> bool:
    try:
        s.encode("latin-1")
        return True
    except UnicodeEncodeError:
        return False


def _cid_objects(text: str, next_id: int):
    """Type0/Identity-H font trio for one non-latin1 page: returns
    (show_hex_string, [tounicode, descendant, type0] bodies); the type0
    dict is object ``next_id + 2``.  Codes are dense per-page indices;
    the generated ToUnicode bfchar table maps them back (supplementary
    planes as UTF-16 surrogate pairs), which is exactly the §9.10.3
    decode path the kernel implements."""
    chars = sorted(set(text))
    lines = []
    for i, ch in enumerate(chars):
        dst = ch.encode("utf-16-be").hex().upper()
        lines.append(f"<{i:04X}> <{dst}>")
    cmap = (
        "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        f"{len(chars)} beginbfchar\n" + "\n".join(lines) + "\nendbfchar\n"
        "endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend"
    ).encode("ascii")
    tounicode = (
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(cmap), cmap)
    )
    desc = (
        b"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /SynthCID "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
        b"/Supplement 0 >> /DW 500 >>"
    )
    type0 = (
        b"<< /Type /Font /Subtype /Type0 /BaseFont /SynthCID "
        b"/Encoding /Identity-H /DescendantFonts [%d 0 R] "
        b"/ToUnicode %d 0 R >>" % (next_id + 1, next_id)
    )
    idx = {ch: i for i, ch in enumerate(chars)}
    show = "".join(f"{idx[ch]:04X}" for ch in text).encode("ascii")
    return b"<" + show + b">", [tounicode, desc, type0]


def _text_string(s: str) -> bytes:
    """PDF literal string for latin-1 text (§7.3.4.2 escapes)."""
    return b"(" + _escape_literal(s.encode("latin-1")) + b")"


def write_pdf(
    spans,
    xref_stream: bool = False,
    objstm: bool = False,
    encrypt: dict | None = None,
    attachments: list | None = None,
    linearized: bool = False,
    compress: bool = False,
    tagged: bool = False,
    lang: str | None = None,
) -> bytes:
    """``spans`` = iterable of (kind, text, media_ref) in reading order
    -> PDF bytes.  Unknown kinds and empty text spans are skipped.
    ``xref_stream=True`` emits the PDF 1.5+ cross-reference STREAM form
    (/Type /XRef, /W [1 4 2], Flate) instead of the classic table;
    ``objstm=True`` additionally packs non-stream objects into a §7.5.7
    object stream (type-2 xref entries) — all writer formats re-extract
    identically.  ``encrypt`` = ``{"mode": "rc4"|"aes256", "user_pwd":
    bytes, ...}`` emits the document under the standard security handler
    (see :class:`_EncState`); re-extraction needs the password.
    ``attachments`` = ``[(name, payload_bytes), ...]`` embeds each
    payload as a §7.11 file attachment: a Flate-compressed
    /EmbeddedFile stream behind a /Filespec, registered in the
    catalog's /Names /EmbeddedFiles name tree (keys emitted sorted, as
    §7.9.6 requires) — the portfolio/container write path.
    ``linearized=True`` emits the Annex F "fast web view" layout
    instead (see :func:`_serialize_linearized`); it implies the classic
    table form and composes with none of the other serialization
    options.  ``compress=True`` Flate-encodes every page content stream
    (what real writers ship; composes with every form — the decode
    stage's filter chain is the reader side)."""
    items: list = []  # ('text', str) | ('media', name bytes)
    for kind, text, media_ref in spans:
        if kind == "text" and text:
            items.append(("text", text))
        elif kind == "media" and media_ref:
            items.append(("media", str(media_ref).encode("latin-1")))
    if not items:
        items.append(("text", " "))

    objs: list[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)  # ids are 1-based

    n_pages = len(items)
    cat_id = add(b"")  # placeholder, filled below
    root_id = add(b"")
    font_id = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    page_ids = []
    fp_end = None  # id of the last first-page-section object (linearized)
    for kind, payload in items:
        extra: list[bytes] = []
        if kind == "media":
            res = (
                b"<< /Font << /F1 %d 0 R >> /XObject << /%s %d 0 R >> >>"
                % (font_id, payload, len(objs) + 3)
            )
            content = b"q /" + payload + b" Do Q"
            extra = [
                b"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 "
                b"/BitsPerComponent 8 /ColorSpace /DeviceRGB /Length 3 >>\n"
                b"stream\n\x80\x80\x80\nendstream"
            ]
        elif _is_latin1(payload):
            res = b"<< /Font << /F1 %d 0 R >> >>" % font_id
            if tagged:
                content = (
                    b"BT /F1 12 Tf 72 720 Td /P << /MCID 0 >> BDC "
                    + _text_string(payload)
                    + b" Tj EMC ET"
                )
            else:
                content = b"BT /F1 12 Tf 72 720 Td " + _text_string(payload) + b" Tj ET"
        else:
            # Unicode page: a per-page Type0/Identity-H font with a
            # generated ToUnicode bfchar table (objects follow the
            # content stream: tounicode, descendant, type0)
            show, extra = _cid_objects(payload, len(objs) + 3)
            res = b"<< /Font << /F1 %d 0 R >> >>" % (len(objs) + 5)
            if tagged:
                content = (
                    b"BT /F1 12 Tf 72 720 Td /P << /MCID 0 >> BDC "
                    + show
                    + b" Tj EMC ET"
                )
            else:
                content = b"BT /F1 12 Tf 72 720 Td " + show + b" Tj ET"
        sp = b""
        if tagged and kind == "text":
            sp = b" /StructParents %d" % sum(1 for k, _p in items[: len(page_ids)] if k == "text")
        pid = add(
            b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
            b"/Resources %s /Contents %d 0 R%s >>" % (root_id, res, len(objs) + 2, sp)
        )
        if compress:
            import zlib as _z

            comp = _z.compress(content)
            add(
                b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
                % (len(comp), comp)
            )
        else:
            add(b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content))
        for body in extra:
            add(body)
        page_ids.append(pid)
        if fp_end is None:
            fp_end = len(objs)

    kids = b"[" + b" ".join(b"%d 0 R" % p for p in page_ids) + b"]"
    cat_extra = b""
    if attachments:
        import zlib as _z

        entries = []
        for name, payload in sorted(attachments, key=lambda a: str(a[0])):
            comp = _z.compress(bytes(payload))
            ef_id = add(
                b"<< /Type /EmbeddedFile /Filter /FlateDecode "
                b"/Length %d /Params << /Size %d >> >>\nstream\n%s\nendstream"
                % (len(comp), len(payload), comp)
            )
            fs_id = add(
                b"<< /Type /Filespec /F " + _text_string(str(name))
                + b" /EF << /F %d 0 R >> >>" % ef_id
            )
            entries.append(_text_string(str(name)) + b" %d 0 R" % fs_id)
        cat_extra = (
            b" /Names << /EmbeddedFiles << /Names [" + b" ".join(entries) + b"] >> >>"
        )
    if tagged:
        text_pages = [
            pid for (k, _p), pid in zip(items, page_ids) if k == "text"
        ]
        stroot_id = add(b"")  # placeholder: needs the element ids below
        docelem_id = add(
            b"<< /Type /StructElem /S /Document /P %d 0 R /K [%s] >>"
            % (
                stroot_id,
                b" ".join(
                    b"%d 0 R" % (stroot_id + 2 + i) for i in range(len(text_pages))
                ),
            )
        )
        elem_ids = []
        for pid in text_pages:
            elem_ids.append(
                add(
                    b"<< /Type /StructElem /S /P /P %d 0 R /Pg %d 0 R /K 0 >>"
                    % (docelem_id, pid)
                )
            )
        nums = b" ".join(
            b"%d [%d 0 R]" % (i, e) for i, e in enumerate(elem_ids)
        )
        objs[stroot_id - 1] = (
            b"<< /Type /StructTreeRoot /K %d 0 R /ParentTree << /Nums [%s] >> >>"
            % (docelem_id, nums)
        )
        cat_extra += b" /StructTreeRoot %d 0 R /MarkInfo << /Marked true >>" % stroot_id
        if lang:
            cat_extra += b" /Lang " + _text_string(str(lang))
    objs[cat_id - 1] = b"<< /Type /Catalog /Pages %d 0 R%s >>" % (root_id, cat_extra)
    objs[root_id - 1] = b"<< /Type /Pages /Kids %s /Count %d >>" % (kids, n_pages)

    if linearized and page_ids:
        return _serialize_linearized(objs, cat_id, page_ids[0], n_pages, fp_end)
    return _serialize(objs, cat_id, xref_stream, objstm, encrypt)


def content_object_ids(spans) -> list:
    """Replay :func:`write_pdf`'s deterministic object allocation without
    serializing: one ``(kind, page_id, content_id)`` triple per emitted
    page, in page order.  An incremental updater needs these ids to
    target a page's objects in a document this writer produced."""
    items: list = []
    for kind, text, media_ref in spans:
        if kind == "text" and text:
            items.append(("text", text))
        elif kind == "media" and media_ref:
            items.append(("media", media_ref))
    if not items:
        items.append(("text", " "))
    out = []
    n = 3  # catalog, pages root, shared /F1 font
    for kind, payload in items:
        out.append((kind, n + 1, n + 2))
        if kind == "media":
            n += 3  # page, content, image XObject
        elif _is_latin1(payload):
            n += 2  # page, content
        else:
            n += 5  # page, content, tounicode, descendant, type0
    return out


def write_pdf_incremental(base: bytes, updates: dict, xref_stream: bool = False) -> bytes:
    """Append an incremental-update revision (ISO 32000 §7.5.6): the
    changed object bodies are re-emitted after the existing ``%%EOF``,
    followed by a classic xref SECTION covering exactly those ids (one
    subsection per contiguous run, spec-exact 20-byte entries) and a
    trailer whose ``/Prev`` points at the previous ``startxref`` — the
    original bytes are untouched, which is what makes the edit
    forensically visible (``extract_revisions`` reports the new revision
    and its changed ids).  ``updates`` maps object id -> new body bytes
    (without the ``N 0 obj``/``endobj`` envelope).  ``/Size`` and
    ``/Root`` are carried forward from the newest revision's trailer
    (last occurrence in the file); works over both writer base forms —
    a classic section atop an xref-stream base is the mixed /Prev chain
    the reader already merges.  ``xref_stream=True`` appends the
    revision in the MODERN form instead: a §7.5.8 cross-reference
    STREAM object (/W [1 4 2], one /Index subsection per contiguous id
    run, /Prev in its dictionary) — the shape xref-stream-era writers
    produce on save, mixing freely with classic revisions in one
    chain."""
    import re as _re

    if not updates:
        return base
    sx = base.rfind(b"startxref")
    if sx < 0:
        raise ValueError("base has no startxref anchor")
    prev = int(base[sx + len(b"startxref"):].split()[0])
    roots = list(_re.finditer(rb"/Root\s+(\d+)\s+\d+\s+R", base))
    sizes = list(_re.finditer(rb"/Size\s+(\d+)", base))
    if not roots or not sizes:
        raise ValueError("base trailer lacks /Root or /Size")
    root_id = int(roots[-1].group(1))
    size = max(int(sizes[-1].group(1)), max(updates) + 1)

    buf = bytearray(base)
    if not buf.endswith(b"\n"):
        buf += b"\n"
    offs = {}
    for oid in sorted(updates):
        offs[oid] = len(buf)
        buf += b"%d 0 obj\n" % oid + updates[oid] + b"\nendobj\n"
    ids = sorted(offs)
    if xref_stream:
        import zlib as _zlib

        xref_id = size  # a fresh id for the revision's xref stream object
        size += 1
        index = []
        rows = bytearray()
        i = 0
        while i < len(ids):
            j = i
            while j + 1 < len(ids) and ids[j + 1] == ids[j] + 1:
                j += 1
            index.append((ids[i], j - i + 1))
            for oid in ids[i : j + 1]:
                rows += b"\x01" + offs[oid].to_bytes(4, "big") + (0).to_bytes(2, "big")
            i = j + 1
        xref_at = len(buf)
        index.append((xref_id, 1))
        rows += b"\x01" + xref_at.to_bytes(4, "big") + (0).to_bytes(2, "big")
        payload = _zlib.compress(bytes(rows))
        idx = b" ".join(b"%d %d" % p for p in index)
        buf += (
            b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Index [%s] "
            b"/Root %d 0 R /Prev %d /Filter /FlateDecode /Length %d >>\nstream\n"
            % (xref_id, size, idx, root_id, prev, len(payload))
        )
        buf += payload
        buf += b"\nendstream\nendobj\nstartxref\n%d\n%%%%EOF\n" % xref_at
        return bytes(buf)
    xref_at = len(buf)
    buf += b"xref\n"
    i = 0
    while i < len(ids):
        j = i
        while j + 1 < len(ids) and ids[j + 1] == ids[j] + 1:
            j += 1
        buf += b"%d %d\n" % (ids[i], j - i + 1)
        for oid in ids[i : j + 1]:
            buf += b"%010d 00000 n\r\n" % offs[oid]  # exactly 20 bytes (§7.5.4)
        i = j + 1
    buf += (
        b"trailer\n<< /Size %d /Root %d 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (size, root_id, prev, xref_at)
    )
    return bytes(buf)


def _ser_value(v) -> bytes:
    """Parsed object -> PDF syntax (the inverse of the tokenizer, for
    the object kinds that appear in field dictionaries).  Streams are
    out of scope — field filling never rewrites one."""
    from .objects import Name, Ref, Stream

    if isinstance(v, bool):  # must precede int: bool is an int subclass
        return b"true" if v else b"false"
    if isinstance(v, Stream):
        raise ValueError("stream objects are not re-serializable here")
    if isinstance(v, Name):
        return b"/" + str(v).encode("ascii")
    if isinstance(v, Ref):
        return b"%d %d R" % (v.obj_id, v.gen)
    if isinstance(v, (bytes, bytearray)):
        return b"(" + _escape_literal(bytes(v)) + b")"
    if isinstance(v, (int, float)):
        return _num(v)
    if isinstance(v, list):
        return b"[" + b" ".join(_ser_value(x) for x in v) + b"]"
    if isinstance(v, dict):
        parts = [b"/" + str(k).encode("ascii") + b" " + _ser_value(x) for k, x in v.items()]
        return b"<< " + b" ".join(parts) + b" >>"
    if v is None:
        return b"null"
    raise ValueError(f"unserializable object {type(v).__name__}")


_SIGN_HOLE_HEX = 2400  # hex chars; fits RSA-1024 and EC CMS comfortably


def sign_pdf_incremental(
    data: bytes,
    *,
    rsa: tuple | None = None,
    ec_d: int | None = None,
    cn: str = "pdfspark signer",
    field_name: str = "Sig1",
    xref_stream: bool = False,
) -> bytes:
    """DIGITALLY SIGN a document the way real signing tools do (ISO
    32000 §12.8): append one incremental revision carrying a /Sig form
    field whose /V dictionary is laid out placeholder-first — fixed
    10-digit /ByteRange values and a zero-filled /Contents hex hole —
    then patch the ranges in place (same byte length), hash the covered
    bytes and inject the detached CMS (`core.signature.make_signed_cms`:
    RSASSA-PKCS1-v1_5 with ``rsa=(n, e, d)`` or ECDSA P-256 with
    ``ec_d``).  The base bytes stay a byte-identical prefix, so the
    signature is forensically visible to ``extract_revisions`` and
    verifiable by ``extract_signatures``.  An existing /AcroForm (inline
    or indirect) gains the field; absent one, the catalog is re-emitted
    with an inline /AcroForm."""
    import binascii as _ba

    from .extract import ObjectTable
    from .objects import Ref, get_resolved, resolve
    from .signature import make_signed_cms
    from .xref import read_xref

    offsets, trailer, compressed = read_xref(data)
    if trailer.get("Encrypt") is not None:
        # an encrypted base would need the appended field dict's strings
        # ciphered with the document key (§7.6.2; only the signature
        # /Contents itself is exempt) — out of this writer's scope
        raise ValueError("cannot sign an encrypted document")
    objects = ObjectTable(data, offsets, compressed, [], None)
    root_ref = trailer.get("Root")
    root = resolve(root_ref, objects)
    if not isinstance(root, dict) or not isinstance(root_ref, Ref):
        raise ValueError("cannot sign: catalog unresolvable")
    size = get_resolved(trailer, "Size", objects)
    max_id = max([*(oid for oid, _g in offsets), *compressed], default=0)
    size = max(int(size) if isinstance(size, int) else 0, max_id + 1)
    field_id, sigv_id = size, size + 1

    updates: dict = {}
    new_field_ref = Ref(field_id, 0)

    def _amended_acroform(acro_dict) -> dict:
        newacro = dict(acro_dict) if isinstance(acro_dict, dict) else {}
        flds = newacro.get("Fields")
        newacro["Fields"] = (list(flds) if isinstance(flds, list) else []) + [
            new_field_ref
        ]
        newacro["SigFlags"] = 3
        return newacro

    acro_val = root.get("AcroForm")
    if isinstance(acro_val, Ref):
        updates[acro_val.obj_id] = _ser_value(
            _amended_acroform(resolve(acro_val, objects))
        )
    else:
        newroot = dict(root)
        newroot["AcroForm"] = _amended_acroform(acro_val)
        updates[root_ref.obj_id] = _ser_value(newroot)
    updates[field_id] = (
        b"<< /FT /Sig /T (" + field_name.encode("latin-1") + b") /V %d 0 R >>" % sigv_id
    )
    hole = b"0" * _SIGN_HOLE_HEX
    updates[sigv_id] = (
        b"<< /Type /Sig /Filter /Adobe.PPKLite /SubFilter /adbe.pkcs7.detached "
        b"/ByteRange [0000000000 0000000000 0000000000 0000000000] "
        b"/Contents <" + hole + b"> >>"
    )
    out = bytearray(write_pdf_incremental(data, updates, xref_stream=xref_stream))
    lt = out.index(b"/Contents <" + hole, len(data)) + len(b"/Contents ")
    hole_end = lt + 1 + _SIGN_HOLE_HEX + 1
    br = (0, lt, hole_end, len(out) - hole_end)
    br_text = b"[%010d %010d %010d %010d]" % br
    at = out.index(b"/ByteRange ", len(data)) + len(b"/ByteRange ")
    assert out[at : at + len(br_text)] == b"[" + b"0000000000 " * 3 + b"0000000000]"
    out[at : at + len(br_text)] = br_text
    signed_bytes = bytes(out[: br[1]]) + bytes(out[br[2] :])
    cms = make_signed_cms(signed_bytes, rsa=rsa, ec_d=ec_d, cn=cn)
    hx = _ba.hexlify(cms)
    if len(hx) > _SIGN_HOLE_HEX:
        raise ValueError("CMS overflows the /Contents hole")
    out[lt + 1 : lt + 1 + len(hx)] = hx
    return bytes(out)


def fill_form_fields(data: bytes, values: dict, xref_stream: bool = False) -> bytes:
    """FILL AcroForm text fields (ISO 32000 §12.7.3.7's value update,
    done the way interactive editors actually save: as an INCREMENTAL
    revision).  ``values`` maps fully-qualified field names (§12.7.3.2
    parent.child dotting) to new string values; each matched TERMINAL
    field object is re-serialized with its ``/V`` replaced and appended
    through :func:`write_pdf_incremental`, so the original bytes are
    untouched and the edit is forensically visible to
    ``extract_revisions``.  Fields not named in ``values`` keep their
    objects byte-identical (not re-emitted at all).  Returns the new
    document; raises ValueError when the document has no /AcroForm."""
    from .cmap import pdf_text_string
    from .extract import ObjectTable
    from .objects import Ref, get_resolved, resolve
    from .xref import read_xref

    offsets, trailer, compressed = read_xref(data)
    objects = ObjectTable(data, offsets, compressed, [], None)
    root = get_resolved(trailer, "Root", objects)
    acro = get_resolved(root, "AcroForm", objects) if isinstance(root, dict) else None
    if not isinstance(acro, dict):
        raise ValueError("document has no /AcroForm")
    updates: dict = {}

    def walk(ref, prefix):
        val = resolve(ref, objects)
        if not isinstance(val, dict):
            return
        t = get_resolved(val, "T", objects)
        name = prefix + ("." if prefix else "") + (
            pdf_text_string(bytes(t)) if isinstance(t, (bytes, bytearray)) else ""
        )
        kids = val.get("Kids")
        if isinstance(kids, list) and kids:
            for k in kids:
                walk(k, name)
        elif name in values and isinstance(ref, Ref):
            newdict = dict(val)
            newdict["V"] = str(values[name]).encode("latin-1")
            updates[ref.obj_id] = _ser_value(newdict)

    for f in get_resolved(acro, "Fields", objects) or []:
        walk(f, "")
    return write_pdf_incremental(data, updates, xref_stream=xref_stream)


REDACTED_TEXT = "[REDACTED]"


def redact_first_text_incremental(base: bytes, spans, xref_stream: bool = False) -> bytes:
    """Minimal-edit redaction over a :func:`write_pdf` document: replace
    the FIRST text page's content stream (and the page's /Resources,
    pinned back to the shared /F1 Helvetica so the replacement decodes
    as latin-1 regardless of the original page's font) with a
    ``[REDACTED]`` line, as one appended revision (classic section or,
    with ``xref_stream=True``, a §7.5.8 xref-STREAM revision).  Returns
    ``base`` unchanged when no text page exists."""
    for kind, page_id, content_id in content_object_ids(spans):
        if kind != "text":
            continue
        content = b"BT /F1 12 Tf 72 720 Td (" + REDACTED_TEXT.encode("ascii") + b") Tj ET"
        return write_pdf_incremental(
            base,
            {
                page_id: (
                    b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                    b"/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>"
                    % content_id
                ),
                content_id: b"<< /Length %d >>\nstream\n%s\nendstream"
                % (len(content), content),
            },
            xref_stream=xref_stream,
        )
    return base


class _EncState:
    """Writer-side standard security handler (ISO 32000 §7.6): holds the
    derived file key plus the /Encrypt dictionary body, and transforms
    object bodies — stream payloads and string values — into their
    encrypted forms.  Two modes:

    - ``rc4``: V 2 / R 3, 128-bit RC4 with Algorithm-1 per-object keys
      (the classic Acrobat 5 shape; Algorithms 2/3/5 for key, /O, /U).
    - ``aes256``: V 5 / R 6 AESV3 (ISO 32000-2 §7.6.4) — the 256-bit
      file key is free-standing, wrapped via /UE and /OE (Algorithms
      8/9), /Perms per Algorithm 10; CBC IVs derive deterministically
      from the seed so fixtures are reproducible.

    Encrypted string values are re-emitted as HEX strings (ciphertext is
    binary); the reader's decrypt-then-parse path is representation-
    agnostic.  The /Encrypt dictionary itself and xref streams are never
    encrypted (§7.5.8.2); ObjStm-packed objects keep plaintext strings —
    the container stream's encryption covers them (§7.6.2)."""

    def __init__(self, spec: dict):
        import hashlib
        import struct

        from . import crypt

        self.mode = spec.get("mode", "rc4")
        user = spec.get("user_pwd", b"")
        owner = spec.get("owner_pwd") or (user + b"-owner")
        seed = spec.get("seed", b"pdfspark")
        p_flags = -44  # print+modify denied bits cleared: a typical mask
        self.id0 = hashlib.md5(seed + b"/id0").digest()
        if self.mode == "rc4":
            o = crypt.compute_o_entry(owner, user, n=16, r=3)
            self.key = crypt.compute_file_key(o, p_flags, self.id0, user, n=16, r=3)
            u = crypt.compute_u_entry(self.key, self.id0, r=3)
            self.enc_body = (
                b"<< /Filter /Standard /V 2 /R 3 /Length 128 /P %d /O <%s> /U <%s> >>"
                % (p_flags, o.hex().encode("ascii"), u.hex().encode("ascii"))
            )
        elif self.mode == "aes256":
            self.key = hashlib.sha256(seed + b"/filekey").digest()
            vs = hashlib.md5(seed + b"/vs").digest()[:8]
            ks = hashlib.md5(seed + b"/ks").digest()[:8]
            ovs = hashlib.md5(seed + b"/ovs").digest()[:8]
            oks = hashlib.md5(seed + b"/oks").digest()[:8]
            u, ue = crypt.v5_entries(self.key, vs, ks, user)
            o, oe = crypt.v5_entries(self.key, ovs, oks, owner, udata=u[:48])
            # Algorithm 10: one AES-ECB block (== CBC with a zero IV for
            # a single block) over P + 0xFF pad + 'T'/'F' + 'adb' + tail
            perms_clear = struct.pack("<i", p_flags) + b"\xff\xff\xff\xffTadbpdfs"
            perms = crypt._cbc(self.key, perms_clear, bytes(16), encrypt=True)
            self.enc_body = (
                b"<< /Filter /Standard /V 5 /R 6 /Length 256 /P %d "
                b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
                b"/StmF /StdCF /StrF /StdCF "
                b"/O <%s> /U <%s> /OE <%s> /UE <%s> /Perms <%s> >>"
                % (
                    p_flags,
                    o.hex().encode("ascii"),
                    u.hex().encode("ascii"),
                    oe.hex().encode("ascii"),
                    ue.hex().encode("ascii"),
                    perms.hex().encode("ascii"),
                )
            )
        else:
            raise ValueError(f"unknown encrypt mode {self.mode!r}")
        self._seed = seed
        self._crypt = crypt
        self._nonce = 0

    def _cipher(self, oid: int, data: bytes) -> bytes:
        import hashlib

        crypt = self._crypt
        if self.mode == "rc4":
            return crypt.rc4(crypt.object_key(self.key, oid, 0), data)
        self._nonce += 1
        iv = hashlib.md5(self._seed + b"/iv%d/%d" % (oid, self._nonce)).digest()
        return crypt.aes_cbc_encrypt(self.key, data, iv)

    def transform(self, oid: int, body: bytes, strings_only: bool = False) -> bytes:
        """Encrypt one object body in place: the stream payload (with a
        /Length rewrite — AES grows by IV + padding) and every string
        value in the dictionary part."""
        import re as _re

        m = body.find(b"stream\n")
        head, tail = (body, b"") if m < 0 else (body[:m], body[m:])
        if tail and not strings_only:
            payload = tail[len(b"stream\n") : -len(b"\nendstream")]
            payload = self._cipher(oid, payload)
            head = _re.sub(
                rb"/Length \d+", b"/Length %d" % len(payload), head, count=1
            )
            tail = b"stream\n" + payload + b"\nendstream"
        out = bytearray()
        pos = 0
        n = len(head)
        while pos < n:
            c = head[pos]
            if c == 0x28:  # literal string
                from .tokenizer import _parse_literal_string

                val, nxt = _parse_literal_string(head, pos)
                out += b"<" + self._cipher(oid, val).hex().encode("ascii") + b">"
                pos = nxt
            elif c == 0x3C and not (pos + 1 < n and head[pos + 1] == 0x3C):
                from .tokenizer import _parse_hex_string

                val, nxt = _parse_hex_string(head, pos)
                out += b"<" + self._cipher(oid, val).hex().encode("ascii") + b">"
                pos = nxt
            elif c == 0x3C:  # '<<' dict open
                out += b"<<"
                pos += 2
            else:
                out.append(c)
                pos += 1
        return bytes(out) + tail

    def trailer_entries(self, enc_id: int) -> bytes:
        h = self.id0.hex().encode("ascii")
        return b" /Encrypt %d 0 R /ID [<%s> <%s>]" % (enc_id, h, h)


def _serialize(
    objs: list,
    cat_id: int,
    xref_stream: bool = False,
    objstm: bool = False,
    encrypt: dict | None = None,
) -> bytes:
    """Object bodies -> file bytes with a classic xref table or a §7.5.8
    cross-reference stream (/W [1 4 2], FlateDecode, self-entry last).
    ``objstm=True`` (implies the xref-stream form — classic tables have
    no type-2 entries) additionally packs every NON-stream object into
    one §7.5.7 object stream: header of ``id offset`` pairs, bodies
    concatenated after /First, the whole payload Flate-compressed, and
    the packed ids referenced from the xref stream as type-2
    (objstm, index) entries — the fully "modern writer" output shape.
    ``encrypt`` (a :class:`_EncState` spec dict: mode/user_pwd/owner_pwd/
    seed) produces an ENCRYPTED document in any of the three forms; the
    /Encrypt dictionary rides as its own direct object (never packed,
    §7.5.7) and the trailer gains /Encrypt + /ID."""
    import zlib as _zlib

    enc = _EncState(encrypt) if encrypt else None
    if objstm:
        xref_stream = True
        buf = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
        packed = [i for i, b in enumerate(objs, start=1) if b"stream\n" not in b]
        pset = set(packed)
        entries: dict[int, tuple] = {}
        for i, body in enumerate(objs, start=1):
            if i in pset:
                continue
            entries[i] = (1, len(buf), 0)
            if enc:
                body = enc.transform(i, body)
            buf += b"%d 0 obj\n" % i + body + b"\nendobj\n"
        enc_id = len(objs) + 1 if enc else 0
        stm_id = len(objs) + (2 if enc else 1)
        if enc:
            entries[enc_id] = (1, len(buf), 0)
            buf += b"%d 0 obj\n" % enc_id + enc.enc_body + b"\nendobj\n"
        header = bytearray()
        bodies = bytearray()
        for idx, i in enumerate(packed):
            header += b"%d %d " % (i, len(bodies))
            bodies += objs[i - 1] + b"\n"
            entries[i] = (2, stm_id, idx)
        payload = _zlib.compress(bytes(header) + bytes(bodies))
        if enc:  # the container is encrypted as a whole (§7.6.2)
            payload = enc._cipher(stm_id, payload)
        entries[stm_id] = (1, len(buf), 0)
        buf += (
            b"%d 0 obj\n<< /Type /ObjStm /N %d /First %d "
            b"/Filter /FlateDecode /Length %d >>\nstream\n"
            % (stm_id, len(packed), len(header), len(payload))
        )
        buf += payload
        buf += b"\nendstream\nendobj\n"
        xref_id = stm_id + 1
        xref_at = len(buf)
        rows = bytearray(b"\x00" + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big"))
        for i in range(1, stm_id + 1):
            t, a, c = entries[i]
            rows += bytes((t,)) + a.to_bytes(4, "big") + c.to_bytes(2, "big")
        rows += b"\x01" + xref_at.to_bytes(4, "big") + (0).to_bytes(2, "big")
        xp = _zlib.compress(bytes(rows))
        buf += (
            b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root %d 0 R "
            b"/Filter /FlateDecode /Length %d%s >>\nstream\n"
            % (
                xref_id,
                xref_id + 1,
                cat_id,
                len(xp),
                enc.trailer_entries(enc_id) if enc else b"",
            )
        )
        buf += xp
        buf += b"\nendstream\nendobj\nstartxref\n%d\n%%%%EOF\n" % xref_at
        return bytes(buf)

    buf = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    emit = list(objs)
    enc_id = 0
    if enc:
        emit = [enc.transform(i, b) for i, b in enumerate(emit, start=1)]
        enc_id = len(emit) + 1
        emit.append(enc.enc_body)
    offsets = []
    for i, body in enumerate(emit, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    if not xref_stream:
        xref_at = len(buf)
        buf += b"xref\n0 %d\n0000000000 65535 f \n" % (len(emit) + 1)
        for off in offsets:
            buf += b"%010d 00000 n \n" % off
        buf += b"trailer\n<< /Size %d /Root %d 0 R%s >>\nstartxref\n%d\n%%%%EOF\n" % (
            len(emit) + 1,
            cat_id,
            enc.trailer_entries(enc_id) if enc else b"",
            xref_at,
        )
        return bytes(buf)
    xref_id = len(emit) + 1
    xref_at = len(buf)
    rows = bytearray(b"\x00" + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big"))
    for off in offsets:
        rows += b"\x01" + off.to_bytes(4, "big") + (0).to_bytes(2, "big")
    rows += b"\x01" + xref_at.to_bytes(4, "big") + (0).to_bytes(2, "big")
    payload = _zlib.compress(bytes(rows))
    buf += (
        b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root %d 0 R "
        b"/Filter /FlateDecode /Length %d%s >>\nstream\n"
        % (
            xref_id,
            xref_id + 1,
            cat_id,
            len(payload),
            enc.trailer_entries(enc_id) if enc else b"",
        )
    )
    buf += payload
    buf += b"\nendstream\nendobj\nstartxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(buf)


def _serialize_linearized(
    objs: list, cat_id: int, first_page_id: int, n_pages: int, fp_end: int
) -> bytes:
    """Annex F "Linearized PDF" (fast web view) layout: the
    linearization parameter dictionary is the FIRST object in the file,
    followed by the first-page cross-reference table (whose trailer
    /Prev points at the main table at the END of the file, and which is
    the target of the file-end ``startxref``), the first-page objects,
    the hint stream, the remaining objects, and the main table — a
    byte-range reader can render page one after downloading only the
    file head.  Parameters per §F.2: /L file length, /H [hint offset,
    hint object length], /O first-page object number, /E end-of-first-
    page offset, /N page count, /T offset of the main table's first
    entry.  Emission is two-pass: every offset-valued field is written
    ``%010d`` fixed-width, so pass 1 (zeros) fixes the geometry and
    pass 2 fills the real values without moving a byte.

    Documented subset: the hint stream is structurally valid (a real
    Flate stream the /H range describes exactly) but carries no §F.4
    hint tables — hints are a pure optimization every conforming reader
    may ignore; objects keep their build numbering (the Acrobat
    convention of renumbering first-page objects highest is a
    convention, not a conformance requirement — both xref tables
    together cover every object exactly once)."""
    import zlib as _zlib

    N = len(objs)
    lin_id, hint_id = N + 1, N + 2
    hint_payload = _zlib.compress(b"\0" * 32)
    hint_body = b"<< /S 0 /Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream" % (
        len(hint_payload),
        hint_payload,
    )

    def emit(l=0, h0=0, h1=0, e=0, t=0, prev=0, front=0, off=None):
        off = off or {}
        buf = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
        pos: dict = {"lin": len(buf)}
        buf += (
            b"%d 0 obj\n<< /Linearized 1 /L %010d /H [%010d %010d] "
            b"/O %d /E %010d /N %d /T %010d >>\nendobj\n"
            % (lin_id, l, h0, h1, first_page_id, e, n_pages, t)
        )
        pos["front"] = len(buf)
        buf += b"xref\n0 %d\n0000000000 65535 f \n" % (fp_end + 1)
        for i in range(1, fp_end + 1):
            buf += b"%010d 00000 n \n" % off.get(i, 0)
        buf += b"%d 2\n%010d 00000 n \n%010d 00000 n \n" % (
            lin_id,
            off.get(lin_id, 0),
            off.get(hint_id, 0),
        )
        buf += (
            b"trailer\n<< /Size %d /Root %d 0 R /Prev %010d >>\n"
            b"startxref\n0\n%%%%EOF\n" % (N + 3, cat_id, prev)
        )
        o: dict = {}
        for i in range(1, fp_end + 1):
            o[i] = len(buf)
            buf += b"%d 0 obj\n" % i + objs[i - 1] + b"\nendobj\n"
        pos["e"] = len(buf)
        o[hint_id] = len(buf)
        buf += b"%d 0 obj\n" % hint_id + hint_body + b"\nendobj"
        pos["hlen"] = len(buf) - o[hint_id]
        buf += b"\n"
        for i in range(fp_end + 1, N + 1):
            o[i] = len(buf)
            buf += b"%d 0 obj\n" % i + objs[i - 1] + b"\nendobj\n"
        pos["main"] = len(buf)
        buf += b"xref\n0 1\n"
        pos["t"] = len(buf)
        buf += b"0000000000 65535 f \n%d %d\n" % (fp_end + 1, N - fp_end)
        for i in range(fp_end + 1, N + 1):
            buf += b"%010d 00000 n \n" % off.get(i, 0)
        buf += b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%010d\n%%%%EOF\n" % (
            N + 3,
            cat_id,
            front,
        )
        o[lin_id] = pos["lin"]
        pos["off"] = o
        pos["len"] = len(buf)
        return bytes(buf), pos

    _, p = emit()
    out, p2 = emit(
        l=p["len"],
        h0=p["off"][hint_id],
        h1=p["hlen"],
        e=p["e"],
        t=p["t"],
        prev=p["main"],
        front=p["front"],
        off=p["off"],
    )
    assert p2["len"] == p["len"]  # two-pass geometry must not move
    return out


def _num(v: float) -> bytes:
    """PDF numeric literal (no exponent notation, §7.3.3): integers plain,
    floats via repr (exact read-back for values parsed from decimals)."""
    if float(v).is_integer():
        return b"%d" % int(v)
    r = repr(float(v))
    if "e" in r or "E" in r:  # out-of-range for corpus geometry; clamp form
        r = f"{float(v):.10f}".rstrip("0").rstrip(".")
    return r.encode("ascii")


def write_pdf_layout(
    layout_spans,
    xref_stream: bool = False,
    objstm: bool = False,
    encrypt: dict | None = None,
    page_annots: dict | None = None,
) -> bytes:
    """Layout-preserving writer: ``(page_idx, x, y, text)`` spans -> a PDF
    that re-extracts (extract_layout_spans) to the SAME page/origin/text
    triples — each span is shown at its origin via a Tm set.  Pages are
    the distinct page_idx values in order (gaps become empty pages so
    indices survive).  Non-latin1 spans share one per-page Type0 font
    with a generated ToUnicode table (same machinery as write_pdf).
    ``encrypt`` as in :func:`write_pdf`.  ``page_annots`` maps a page
    index to a list of raw annotation dictionary bodies (bytes) emitted
    INLINE in that page's /Annots array — zero extra objects; the
    redaction pipeline uses this to place /Redact marks."""
    by_page: dict = {}
    max_page = -1
    for page_idx, x, y, text in layout_spans:
        p = int(page_idx)
        by_page.setdefault(p, []).append((float(x), float(y), str(text)))
        max_page = max(max_page, p)
    if max_page < 0:
        max_page = 0

    objs: list[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    cat_id = add(b"")
    root_id = add(b"")
    font_id = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    page_ids = []
    for p in range(max_page + 1):
        spans = by_page.get(p, [])
        uni_text = "".join(t for _x, _y, t in spans if not _is_latin1(t))
        parts = [b"BT /F1 12 Tf"]
        ucodes = None
        if uni_text:
            chars = sorted(set(uni_text))
            ucodes = {ch: i for i, ch in enumerate(chars)}
        for x, y, t in spans:
            pos = b" 1 0 0 1 " + _num(x) + b" " + _num(y) + b" Tm "
            if _is_latin1(t):
                parts.append(b"/F1 12 Tf" + pos + _text_string(t) + b" Tj")
            else:
                show = "".join(f"{ucodes[ch]:04X}" for ch in t).encode("ascii")
                parts.append(b"/FU 12 Tf" + pos + b"<" + show + b"> Tj")
        parts.append(b"ET")
        content = b" ".join(parts)
        res = b"<< /Font << /F1 %d 0 R" % font_id
        extra: list[bytes] = []
        if uni_text:
            _show, extra = _cid_objects(uni_text, len(objs) + 3)
            res += b" /FU %d 0 R" % (len(objs) + 5)
        res += b" >> >>"
        annots = b""
        if page_annots and page_annots.get(p):
            annots = b" /Annots [" + b" ".join(page_annots[p]) + b"]"
        pid = add(
            b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
            b"/Resources %s /Contents %d 0 R%s >>" % (root_id, res, len(objs) + 2, annots)
        )
        add(b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content))
        for body in extra:
            add(body)
        page_ids.append(pid)

    kids = b"[" + b" ".join(b"%d 0 R" % q for q in page_ids) + b"]"
    objs[cat_id - 1] = b"<< /Type /Catalog /Pages %d 0 R >>" % root_id
    objs[root_id - 1] = b"<< /Type /Pages /Kids %s /Count %d >>" % (kids, len(page_ids))
    return _serialize(objs, cat_id, xref_stream, objstm, encrypt)


def write_tagged_page(rows, base_lang: str | None = None, xref_stream: bool = False) -> bytes:
    """Tagged single-page writer for a LOGICAL span sequence: ``rows`` =
    ``[(struct_type|None, lang|None, text)]`` in reading order -> a PDF
    whose structure tree declares one StructElem per TYPED row (its /S
    preserved verbatim, /Lang written only where it differs from
    ``base_lang``, /K the row's MCID) and draws None-typed rows WITHOUT
    marked content (artifact content, §14.8.2.2).  The tagged read of
    this write (``extract_tagged_spans``) reproduces the input rows —
    the structure-preserving re-emission primitive a remediation
    pipeline needs (:func:`write_pdf` ``tagged=True`` is the simpler
    all-/P authoring form).  Non-latin1 rows share one Type0 font with
    a generated ToUnicode table (same machinery as the other writers)."""
    rows = [(st, lg, str(t)) for st, lg, t in rows]
    objs: list[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    cat_id = add(b"")
    root_id = add(b"")
    font_id = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    uni_text = "".join(t for _st, _lg, t in rows if not _is_latin1(t))
    ucodes = None
    if uni_text:
        ucodes = {ch: i for i, ch in enumerate(sorted(set(uni_text)))}
    parts = [b"BT"]
    mcid = 0
    tagged_rows = []  # (mcid, struct_type, lang)
    for i, (st, lg, t) in enumerate(rows):
        pos = b" 1 0 0 1 72 " + _num(720 - 14 * i) + b" Tm "
        if _is_latin1(t):
            show = b"/F1 12 Tf" + pos + _text_string(t) + b" Tj"
        else:
            hexs = "".join(f"{ucodes[ch]:04X}" for ch in t).encode("ascii")
            show = b"/FU 12 Tf" + pos + b"<" + hexs + b"> Tj"
        if st is not None:
            parts.append(b" /%s << /MCID %d >> BDC %s EMC" % (
                str(st).encode("ascii"), mcid, show))
            tagged_rows.append((mcid, str(st), lg))
            mcid += 1
        else:
            parts.append(b" " + show)
    parts.append(b" ET")
    content = b"".join(parts)
    res = b"<< /Font << /F1 %d 0 R" % font_id
    extra: list[bytes] = []
    if uni_text:
        _show, extra = _cid_objects(uni_text, len(objs) + 3)
        res += b" /FU %d 0 R" % (len(objs) + 5)
    res += b" >> >>"
    pid = add(
        b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
        b"/Resources %s /Contents %d 0 R /StructParents 0 >>"
        % (root_id, res, len(objs) + 2)
    )
    add(b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content))
    for body in extra:
        add(body)
    stroot_id = add(b"")  # placeholder
    docelem_id = add(
        b"<< /Type /StructElem /S /Document /P %d 0 R /Pg %d 0 R /K [%s] >>"
        % (
            stroot_id,
            pid,
            b" ".join(b"%d 0 R" % (stroot_id + 2 + j) for j in range(len(tagged_rows))),
        )
    )
    elem_ids = []
    for m, st, lg in tagged_rows:
        lang_entry = b""
        if lg is not None and lg != base_lang:
            lang_entry = b" /Lang " + _text_string(str(lg))
        elem_ids.append(
            add(
                b"<< /Type /StructElem /S /%s%s /P %d 0 R /K %d >>"
                % (str(st).encode("ascii"), lang_entry, docelem_id, m)
            )
        )
    nums = b"0 [" + b" ".join(b"%d 0 R" % e for e in elem_ids) + b"]"
    objs[stroot_id - 1] = (
        b"<< /Type /StructTreeRoot /K %d 0 R /ParentTree << /Nums [%s] >> >>"
        % (docelem_id, nums)
    )
    cat_extra = b" /StructTreeRoot %d 0 R /MarkInfo << /Marked true >>" % stroot_id
    if base_lang:
        cat_extra += b" /Lang " + _text_string(str(base_lang))
    objs[cat_id - 1] = b"<< /Type /Catalog /Pages %d 0 R%s >>" % (root_id, cat_extra)
    objs[root_id - 1] = b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % pid
    return _serialize(objs, cat_id, xref_stream, False, None)
