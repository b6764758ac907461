"""Xref resolution, content-stream tokenization, and CMap units."""

from __future__ import annotations

import binascii
import zlib

from pdfparser_spark.core.cmap import CMap, simple_decode
from pdfparser_spark.core.content import tokenize_content
from pdfparser_spark.core.xref import find_startxref, read_xref, sniff_version
from pdfparser_spark.synth import build_document


def test_sniff_version_reference_fixture_semantics():
    # mirrors reference doc_tree.rs:181-195 version assertions
    assert sniff_version(b"%PDF-1.7\nrest") == "1.7"
    assert sniff_version(b"%PDF-1.3\n") == "1.3"


def test_startxref_locates_offset():
    data = b"junk ... startxref\n12345\n%%EOF"
    assert find_startxref(data) == 12345


def test_classic_xref_multi_and_prev():
    d0 = build_document(0, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    offsets, trailer, compressed = read_xref(d0["bytes"])
    assert trailer["Size"] >= 4
    assert all(gen == 0 for (_oid, gen) in offsets)
    assert compressed == {}


def test_xref_stream_parses():
    d1 = build_document(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    offsets, trailer, _ = read_xref(d1["bytes"])
    assert str(trailer["Type"]) == "XRef"
    assert len(offsets) >= 5


def test_content_tokenize_tj_tf_td_do():
    content = b"BT /F1 12 Tf 72 720 Td (Hello) Tj ET q /Im1 Do Q"
    evs = tokenize_content(content)
    assert [e[0] for e in evs] == ["text", "media"]
    assert evs[0][2] == "F1" and evs[0][3] == b"Hello"
    assert evs[1][2] == "Im1"


def test_content_tokenize_tj_array():
    evs = tokenize_content(b"BT /F2 9 Tf [(A) -120 (B)] TJ ET")
    assert evs[0][0] == "textarr"
    assert [x for x in evs[0][3] if isinstance(x, bytes)] == [b"A", b"B"]


def test_content_resyncs_after_garbage():
    evs = tokenize_content(b"\xff\xfe BT /F1 1 Tf (ok) Tj ET")
    assert any(e[0] == "text" and e[3] == b"ok" for e in evs)


def test_cmap_bfchar_and_bfrange():
    cm = CMap.parse(
        b"""begincodespacerange <0000> <FFFF> endcodespacerange
        2 beginbfchar <0041> <0061> <0042> <0062> endbfchar
        1 beginbfrange <0043> <0045> <0063> endbfrange"""
    )
    assert cm.width == 2
    assert cm.decode(b"\x00A\x00B\x00C\x00D\x00E") == "abcde"


def test_cmap_bfrange_array_form():
    cm = CMap.parse(b"1 beginbfrange <01> <03> [<0058> <0059> <005A>] endbfrange")
    assert cm.decode(b"\x01\x02\x03") == "XYZ"


def test_cmap_bfrange_outgrowing_its_destination_stops_at_the_last_fit():
    """<0000> <FFFF> <0041> would map code FFBF to 0x10000, which two
    bytes cannot hold: the run stops at FFBE and later codes stay unmapped."""
    cm = CMap.parse(
        b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"1 beginbfrange <0000> <FFFF> <0041> endbfrange"
    )
    assert cm.decode(b"\x00\x00\x00\x01\xff\xbe\xff\xbf\xff\xff") == "AB\uffff\ufffd\ufffd"


def test_simple_decode_winansi():
    assert simple_decode(b"caf\xe9", "WinAnsiEncoding") == "café"


def test_remap_decoder_base_table_equals_per_byte_decode():
    """remap_decoder's one-decode base table equals simple_decode byte by
    byte (cp1252's undefined codes included), with /Differences on top."""
    from pdfparser_spark.core.cmap import remap_decoder

    every = bytes(range(256))
    for base in ("WinAnsiEncoding", "MacRomanEncoding", None):
        want = [simple_decode(bytes([i]), base) for i in range(256)]
        assert list(remap_decoder(base, [])(every)) == want
        want[65] = "é"
        assert list(remap_decoder(base, [(65, "eacute")])(every)) == want


def test_hybrid_xrefstm_merges_classic_and_stream():
    """Hybrid-reference file (ISO 32000 §7.5.8.4): classic trailer carries
    /XRefStm pointing at an xref stream whose entries complement the classic
    table.  read_xref must surface objects from BOTH."""
    buf = bytearray()

    def emit(b: bytes) -> int:
        at = len(buf)
        buf.extend(b)
        return at

    emit(b"%PDF-1.5\n")
    off1 = emit(b"1 0 obj\n42\nendobj\n")
    off2 = emit(b"2 0 obj\n43\nendobj\n")
    # xref stream object: one type-1 row for object 2 -> off2
    payload = bytes([1]) + off2.to_bytes(2, "big") + (0).to_bytes(2, "big")
    off3 = emit(
        b"3 0 obj\n<< /Type /XRef /W [1 2 2] /Size 4 /Index [2 1] /Length "
        + str(len(payload)).encode()
        + b" >>\nstream\n"
        + payload
        + b"\nendstream\nendobj\n"
    )
    offx = emit(
        b"xref\n0 2\n0000000000 65535 f \n"
        + f"{off1:010d} 00000 n \n".encode()
        + b"trailer\n<< /Size 4 /Root 1 0 R /XRefStm "
        + str(off3).encode()
        + b" >>\n"
    )
    emit(b"startxref\n" + str(offx).encode() + b"\n%%EOF")

    offsets, trailer, compressed = read_xref(bytes(buf))
    assert offsets[(1, 0)] == off1   # from the classic table
    assert offsets[(2, 0)] == off2   # from the hybrid /XRefStm stream
    assert int(trailer["Size"]) == 4
    assert compressed == {}


def test_cmap_mixed_width_codespace():
    """Real CID fonts declare mixed-width codespaces (1-byte ASCII range +
    2-byte CJK range in one font); decode must pick the code width by
    byte-wise codespace containment per position (ISO 32000 §9.7.6.2)."""
    cmap = (
        b"begincmap\n"
        b"2 begincodespacerange\n<00> <7F>\n<8000> <80FF>\nendcodespacerange\n"
        b"2 beginbfchar\n<41> <0041>\n<8001> <4E2D>\nendbfchar\n"
        b"1 beginbfrange\n<8010> <8012> <0061>\nendbfrange\n"
        b"endcmap"
    )
    cm = CMap.parse(cmap)
    # 1-byte 'A', then 2-byte CJK, then 2-byte range codes a,b,c, then 1-byte again
    raw = b"\x41" + b"\x80\x01" + b"\x80\x10\x80\x11\x80\x12" + b"\x41"
    assert cm.decode(raw) == "A中abcA"
    # byte-wise containment: <8200> is outside both ranges -> replacement,
    # consume shortest width (1), then resync on the 1-byte range
    assert cm.decode(b"\x82\x41") == "�A"


def test_cmap_distinct_widths_same_prefix():
    """1-byte code <41> and 2-byte code <0041> must stay distinct (bytes-
    keyed mapping, not integer-keyed)."""
    cmap = (
        b"begincmap\n"
        b"2 begincodespacerange\n<00> <3F>\n<4000> <41FF>\nendcodespacerange\n"
        b"2 beginbfchar\n<3A> <0058>\n<4041> <0059>\nendbfchar\nendcmap"
    )
    cm = CMap.parse(cmap)
    assert cm.decode(b"\x3a" + b"\x40\x41") == "XY"
