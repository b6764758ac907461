"""Hand-built one-revision PDFs for kernel edge cases, shared by the
kernel and pipeline tests."""

from __future__ import annotations


def pdf(*objs: bytes, trailer: bytes = b"") -> bytes:
    """A one-revision PDF whose objects 1..n are ``objs`` (1 = catalog);
    ``trailer`` holds extra trailer entries, each after a space."""
    out = bytearray(b"%PDF-1.7\n")
    offsets = []
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    out += b"".join(b"%010d 00000 n \n" % o for o in offsets)
    out += b"trailer\n<< /Size %d /Root 1 0 R%s >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, trailer, xref
    )
    return bytes(out)


def stream(attrs: bytes, data: bytes) -> bytes:
    return b"<< %s /Length %d >>\nstream\n%s\nendstream" % (attrs, len(data), data)


# /Resources (a /Differences font and an image) only on the /Pages node:
# the page inherits them (ISO 32000 §7.7.3.4); codes XY decode as AB
INHERITED_RESOURCES = pdf(
    b"<< /Type /Catalog /Pages 2 0 R >>",
    b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
    b"/Resources << /Font << /F1 4 0 R >> /XObject << /Im1 5 0 R >> >> >>",
    b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 6 0 R >>",
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
    b"/Encoding << /Differences [88 /A /B] >> >>",
    b"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 /BitsPerComponent 8 "
    b"/ColorSpace /DeviceGray /Length 1 >>\nstream\n\x00\nendstream",
    stream(b"", b"/Im1 Do BT /F1 12 Tf 72 720 Td (XY) Tj ET"),
)

_LINK = b"<< /Type /Annot /Subtype /Link /Rect [0 0 9 9] /Dest [3 0 R /Fit] >>"
# one dangling kid (99 0 R) in the page tree; three links and two outline
# items all point at the one real page
DANGLING_KID = pdf(
    b"<< /Type /Catalog /Pages 2 0 R /Outlines 4 0 R >>",
    b"<< /Type /Pages /Kids [3 0 R 99 0 R] /Count 2 >>",
    b"<< /Type /Page /Parent 2 0 R /Annots [" + b" ".join([_LINK] * 3) + b"] >>",
    b"<< /Type /Outlines /First 5 0 R /Last 6 0 R /Count 2 >>",
    b"<< /Title (one) /Parent 4 0 R /Next 6 0 R /Dest [3 0 R /Fit] >>",
    b"<< /Title (two) /Parent 4 0 R /Prev 5 0 R /Dest [3 0 R /Fit] >>",
)

# the page draws /Fm1, whose form draws /Im1: only the form declares the
# image, so the page reaches it only through the form
IMAGE_IN_FORM = pdf(
    b"<< /Type /Catalog /Pages 2 0 R >>",
    b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
    b"/Resources << /XObject << /Fm1 4 0 R >> >> /Contents 6 0 R >>",
    stream(b"/Type /XObject /Subtype /Form /BBox [0 0 10 10] "
           b"/Resources << /XObject << /Im1 5 0 R >> >>", b"/Im1 Do"),
    b"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 /BitsPerComponent 8 "
    b"/ColorSpace /DeviceGray /Length 1 >>\nstream\n\x7f\nendstream",
    stream(b"", b"/Fm1 Do"),
)

# both content streams take /Length from an object that follows them: the
# first payload holds the bytes "endstream", the second ends in a CR
FORWARD_LENGTH = pdf(
    b"<< /Type /Catalog /Pages 2 0 R >>",
    b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
    b"/Resources << /Font << /F1 4 0 R >> >> /Contents [5 0 R 7 0 R] >>",
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    b"<< /Length 6 0 R >>\nstream\nBT /F1 12 Tf 72 720 Td (endstream) Tj ET\nendstream",
    b"40",
    b"<< /Length 8 0 R >>\nstream\nBT /F1 12 Tf 72 700 Td (cr) Tj ET\r\nendstream",
    b"34",
)

# a FreeText annotation whose /AP /N appearance shows codes AB in a font
# whose /ToUnicode CMap maps them to "xy"; /Contents is the fallback text
_XY_CMAP = (
    b"begincmap\n1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
    b"2 beginbfchar\n<41> <0078>\n<42> <0079>\nendbfchar\nendcmap"
)
FREETEXT_TOUNICODE = pdf(
    b"<< /Type /Catalog /Pages 2 0 R >>",
    b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Annots [<< /Type /Annot "
    b"/Subtype /FreeText /Rect [0 0 200 30] /Contents (AB) /AP << /N 4 0 R >> >>] >>",
    stream(b"/Type /XObject /Subtype /Form /BBox [0 0 200 30] "
           b"/Resources << /Font << /F1 5 0 R >> >>", b"BT /F1 10 Tf 2 8 Td (AB) Tj ET"),
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /ToUnicode 6 0 R >>",
    stream(b"", _XY_CMAP),
)

# the page dict holds a 5,000-deep nested array (/Deep) beside its text
DEEP_NESTING = pdf(
    b"<< /Type /Catalog /Pages 2 0 R >>",
    b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Deep " + b"[" * 5000 + b"]" * 5000
    + b" /Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    stream(b"", b"BT /F1 12 Tf 72 720 Td (deep) Tj ET"),
)


def _aesv2_short_key() -> bytes:
    from pdfparser_spark.core import crypt

    id0 = b"handmade-aesv2-5"
    o = crypt.compute_o_entry(b"owner", b"", n=5, r=4)
    u = crypt.compute_u_entry(crypt.compute_file_key(o, -4, id0, b"", n=5, r=4), id0, r=4)
    return pdf(
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R >> >> /Contents 6 0 R >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Filter /Standard /V 4 /R 4 /Length 40 /P -4 /O <%s> /U <%s> "
        b"/CF << /StdCF << /CFM /AESV2 >> >> /StmF /StdCF /StrF /StdCF >>"
        % (o.hex().encode(), u.hex().encode()),
        stream(b"", bytes(range(32))),
        trailer=b" /Encrypt 5 0 R /ID [<%s> <%s>]" % (id0.hex().encode(), id0.hex().encode()),
    )


# an AESV2 document whose /Length 40 gives 5-byte file keys and so 10-byte
# object keys, which no AES accepts; the empty user password validates
AESV2_SHORT_KEY = _aesv2_short_key()


def body_only(doc: bytes, catalog: bytes = b"/Type /Catalog") -> bytes:
    """``doc`` cut before its xref table (no trailer keyword, no
    ``startxref``: recovery synthesizes the trailer), its catalog's
    ``/Type /Catalog`` written as ``catalog``."""
    return doc[: doc.rindex(b"\nxref") + 1].replace(b"/Type /Catalog", catalog, 1)
