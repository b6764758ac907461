"""CCITTFaxDecode (ITU-T T.4/T.6) codec + the scanned family end to end."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pdfparser_spark.core.extract import extract_ccitt_images
from pdfparser_spark.synth import (
    build_document_scanned,
    scanned_dims,
    scanned_ink,
    scanned_params,
)
from pdfparser_spark.textops import ccitt


def test_run_tables_are_prefix_free():
    for table in (ccitt._WHITE, ccitt._BLACK):
        codes = list(table.values()) + list(ccitt._EXT.values())
        for i, a in enumerate(codes):
            for b in codes[i + 1 :]:
                assert not a.startswith(b) and not b.startswith(a), (a, b)


@given(
    seed=st.integers(0, 10**6),
    h=st.integers(1, 24),
    w=st.integers(1, 48),
    k=st.sampled_from([-1, 0]),
    byte_align=st.booleans(),
    black_is_1=st.booleans(),
    density=st.floats(0.0, 1.0),
)
@settings(max_examples=120, deadline=None)
def test_codec_roundtrips_random_masks(seed, h, w, k, byte_align, black_is_1, density):
    rng = np.random.RandomState(seed % 2**31)
    mask = rng.rand(h, w) < density
    data = ccitt.encode_ccitt(mask, k=k, byte_align=byte_align, black_is_1=black_is_1)
    out = ccitt.decode_ccitt(data, w, h, k=k, byte_align=byte_align, black_is_1=black_is_1)
    assert np.array_equal(out, mask)


def test_codec_handles_runs_beyond_extended_makeups():
    # a 6000-px run needs repeated 2560 makeups (T.4 coding of runs > 2623)
    m = np.zeros((2, 6000), dtype=bool)
    m[0, 10:5980] = True
    for k in (-1, 0):
        data = ccitt.encode_ccitt(m, k=k)
        assert np.array_equal(ccitt.decode_ccitt(data, 6000, 2, k=k), m)


@given(seed=st.integers(0, 10**6), n_mut=st.integers(1, 8))
@settings(max_examples=80, deadline=None)
def test_decoder_only_raises_valueerror(seed, n_mut):
    import random as _random

    rng = _random.Random(seed)
    m = (np.arange(20 * 32).reshape(20, 32) % 7) < 3
    data = bytearray(ccitt.encode_ccitt(m, k=-1))
    for _ in range(n_mut):
        data[rng.randrange(len(data))] = rng.randrange(256)
    try:
        out = ccitt.decode_ccitt(bytes(data), 32, 20, k=-1)
        assert out.shape == (20, 32)
    except ValueError:
        pass  # the only permitted failure mode


def test_scanned_family_end_to_end():
    for did in range(25):
        d = build_document_scanned(did, "unused")
        r = extract_ccitt_images(d["bytes"])
        assert not r["errors"], (did, r["errors"][:2])
        assert len(r["images"]) == 1
        _pi, name, codec, k, cols, rows, ba, b1, payload, gbl = r["images"][0]
        p = scanned_params(did)
        if p["jbig2"]:
            from pdfparser_spark.textops.jbig2 import decode_jbig2

            assert codec == "jbig2" and gbl == b""
            mask = decode_jbig2(payload, gbl)
        else:
            assert codec == "ccitt"
            assert (k, ba, b1) == (p["k"], p["byte_align"], p["black_is_1"])
            assert (cols, rows) == scanned_dims(did)
            mask = ccitt.decode_ccitt(payload, cols, rows, k=k, byte_align=ba, black_is_1=b1)
        assert np.array_equal(mask, scanned_ink(did))


def test_black_is_1_is_individually_observable():
    # doc 1 sets /BlackIs1: a decoder ignoring it reads INVERTED ink
    d = build_document_scanned(1, "unused")
    r = extract_ccitt_images(d["bytes"])
    _pi, _n, _codec, k, cols, rows, ba, b1, payload, _g = r["images"][0]
    assert b1
    wrong = ccitt.decode_ccitt(payload, cols, rows, k=k, byte_align=ba, black_is_1=False)
    assert np.array_equal(wrong, ~scanned_ink(1))


def test_byte_align_is_individually_observable():
    # doc 0 byte-aligns each row: decoding without alignment must not
    # silently agree (either raises or differs)
    d = build_document_scanned(0, "unused")
    r = extract_ccitt_images(d["bytes"])
    _pi, _n, _codec, k, cols, rows, ba, b1, payload, _g = r["images"][0]
    assert ba and k == -1
    try:
        wrong = ccitt.decode_ccitt(payload, cols, rows, k=k, byte_align=False, black_is_1=b1)
        assert not np.array_equal(wrong, scanned_ink(0))
    except ValueError:
        pass


def test_jbig2_mmr_roundtrip_and_containment():
    from pdfparser_spark.textops.jbig2 import decode_jbig2, encode_jbig2_mmr

    for did in range(10):
        m = scanned_ink(did)
        assert np.array_equal(decode_jbig2(encode_jbig2_mmr(m)), m), did
    blob = encode_jbig2_mmr(scanned_ink(3))
    # corrupt JBIG2 may only ever raise ValueError (task containment)
    for i in range(0, len(blob), 3):
        try:
            decode_jbig2(blob[:i] + bytes((blob[i] ^ 0xFF,)) + blob[i + 1 :])
        except ValueError:
            pass
    for cut in range(1, len(blob), 5):
        try:
            decode_jbig2(blob[:cut])
        except ValueError:
            pass
    # arithmetic-coded generic region: documented subset boundary
    arith = bytearray(blob)
    # generic flags byte of segment 1: MMR bit cleared
    # segment 0 header (11) + page info (19) + segment 1 header (11) + region info (17)
    arith[11 + 19 + 11 + 17] = 0x00
    try:
        decode_jbig2(bytes(arith))
        raise AssertionError("expected ValueError for arithmetic region")
    except ValueError:
        pass


def test_jbig2_arithmetic_roundtrip_and_fuzz():
    from pdfparser_spark.textops.jbig2 import decode_jbig2, encode_jbig2_arith

    for did in range(10):
        m = scanned_ink(did)
        assert np.array_equal(decode_jbig2(encode_jbig2_arith(m)), m), did
    blob = encode_jbig2_arith(scanned_ink(5))
    for i in range(0, len(blob), 3):
        try:
            decode_jbig2(blob[:i] + bytes((blob[i] ^ 0x5A,)) + blob[i + 1 :])
        except ValueError:
            pass
    for cut in range(1, len(blob), 4):
        try:
            decode_jbig2(blob[:cut])
        except ValueError:
            pass


def test_jbig2_symbol_text_roundtrip_and_fuzz():
    """The §6.4/§6.5 symbol-dictionary + text-region organization (the
    dominant real-scanner form): tiled/deduped symbols, all four
    GBTEMPLATEs, height classes, the IAID tree, REFCORNER TL — and the
    containment contract (corrupt input only ever raises ValueError)."""
    import numpy as np

    from pdfparser_spark.textops.jbig2 import decode_jbig2, encode_jbig2_symbol_text

    for did in (2, 22, 42, 62):
        ink = scanned_ink(did)
        for tmpl in range(4):
            blob = encode_jbig2_symbol_text(ink, template=tmpl)
            assert np.array_equal(decode_jbig2(blob), ink), (did, tmpl)
    # BOTTOM-left anchoring codes different T values, same pixels
    for did in (2, 22):
        ink = scanned_ink(did)
        tl = encode_jbig2_symbol_text(ink, refcorner=1)
        bl = encode_jbig2_symbol_text(ink, refcorner=0)
        assert tl != bl
        assert np.array_equal(decode_jbig2(bl), ink), did
    # blank page degenerates to a 1x1 white symbol with zero instances
    blank = np.zeros((16, 16), dtype=bool)
    assert not decode_jbig2(encode_jbig2_symbol_text(blank)).any()
    # non-square mask exercises ragged edge tiles (multiple height classes)
    ragged = scanned_ink(3)[:19, :21]
    assert np.array_equal(decode_jbig2(encode_jbig2_symbol_text(ragged)), ragged)
    # fuzz: every single-byte mutation / truncation is contained
    blob = encode_jbig2_symbol_text(scanned_ink(2))
    for i in range(len(blob)):
        try:
            out = decode_jbig2(blob[:i] + bytes((blob[i] ^ 0xFF,)) + blob[i + 1 :])
            assert out.dtype == bool
        except ValueError:
            pass
    for cut in range(0, len(blob), 3):
        try:
            decode_jbig2(blob[:cut])
        except ValueError:
            pass


def test_mq_coder_roundtrip_skewed_streams():
    import hashlib

    from pdfparser_spark.textops.jbig2 import MQDecoder, MQEncoder

    for trial in range(25):
        h = hashlib.sha256(f"mq{trial}".encode()).digest() * 50
        n = 31 + trial * 97
        bits = [(h[i % len(h)] >> (i % 8)) & 1 for i in range(n)]
        if trial % 3 == 1:
            bits = [1 if b and i % 9 == 0 else 0 for i, b in enumerate(bits)]
        if trial % 3 == 2:
            bits = [0 if b and i % 11 == 0 else 1 for i, b in enumerate(bits)]
        enc = MQEncoder()
        st = [(0, 0)] * 16
        for i, b in enumerate(bits):
            enc.encode(st, i % 16, b)
        blob = enc.flush()
        dec = MQDecoder(blob)
        st2 = [(0, 0)] * 16
        assert [dec.decode(st2, i % 16) for i in range(n)] == bits, trial


def test_jbig2_tpgdon_typical_prediction():
    from pdfparser_spark.textops.jbig2 import (
        decode_generic_arith,
        decode_jbig2,
        encode_generic_arith,
        encode_jbig2_arith,
    )

    # repeated-row mask: typical prediction triggers and compresses
    rep = np.zeros((12, 20), dtype=bool)
    rep[3:9, 4:15] = True
    t = encode_generic_arith(rep, tpgdon=True)
    n = encode_generic_arith(rep, tpgdon=False)
    assert len(t) < len(n)
    assert np.array_equal(decode_generic_arith(t, 20, 12, tpgdon=True), rep)
    # the SLTP bit consumes coder state: decoding a TPGDON stream with
    # the flag ignored must NOT silently agree
    wrong = decode_generic_arith(t, 20, 12, tpgdon=False)
    assert not np.array_equal(wrong, rep)
    # container-level roundtrip: both TPGDON arms x all four templates
    for did in range(6):
        m = scanned_ink(did)
        for tp in (False, True):
            for t in (0, 1, 2, 3):
                assert np.array_equal(
                    decode_jbig2(encode_jbig2_arith(m, tpgdon=tp, template=t)), m
                )


def test_jbig2_refinement_roundtrip_and_fuzz():
    """§6.3 generic refinement (r04 item 4): intermediate generic region
    + immediate refinement restores the exact ink; both GRTEMPLATEs and
    TPGRON on/off; corrupt input only ever raises ValueError."""
    import numpy as np
    from pdfparser_spark.textops.jbig2 import (
        decode_generic_refinement,
        decode_jbig2,
        encode_generic_refinement,
        encode_jbig2_refined,
    )

    rng = np.random.default_rng(3)
    for template in (0, 1):
        for tpgron in (False, True):
            mask = rng.random((19, 31)) < 0.45
            ref = mask ^ (rng.random((19, 31)) < 0.12)
            data = encode_generic_refinement(
                mask, ref, template=template, tpgron=tpgron
            )
            out = decode_generic_refinement(
                data, 31, 19, ref, template=template, tpgron=tpgron
            )
            assert np.array_equal(out, mask)
    # the full embedded-stream organization on real family docs
    for did in (12, 52, 92, 132):
        m = scanned_ink(did)
        blob = encode_jbig2_refined(
            m, template=(did // 40) % 2, tpgron=(did // 80) % 2 == 0
        )
        assert np.array_equal(decode_jbig2(blob), m), did
    blob = encode_jbig2_refined(scanned_ink(12))
    for i in range(0, len(blob), 3):
        try:
            decode_jbig2(blob[:i] + bytes((blob[i] ^ 0xA5,)) + blob[i + 1 :])
        except ValueError:
            pass
    for cut in range(1, len(blob), 4):
        try:
            decode_jbig2(blob[:cut])
        except ValueError:
            pass


def test_jbig2_refinement_tpgron_is_load_bearing():
    """A decoder that ignores TPGRON must desynchronize: decoding a
    TPGRON-on stream with tpgron=False diverges (or raises)."""
    import numpy as np
    from pdfparser_spark.textops.jbig2 import (
        decode_generic_refinement,
        encode_generic_refinement,
    )

    rng = np.random.default_rng(7)
    mask = rng.random((17, 29)) < 0.5
    ref = mask ^ (rng.random((17, 29)) < 0.15)
    data = encode_generic_refinement(mask, ref, template=0, tpgron=True)
    try:
        wrong = decode_generic_refinement(data, 29, 17, ref, template=0, tpgron=False)
        assert not np.array_equal(wrong, mask)
    except ValueError:
        pass


def test_jbig2_halftone_roundtrip_and_fuzz():
    """§6.6 halftone organization: pattern dictionary + gray-coded
    bitplane grid renders the exact ink; all four HTEMPLATEs; corrupt
    input only ever raises ValueError."""
    import numpy as np
    from pdfparser_spark.textops.jbig2 import decode_jbig2, encode_jbig2_halftone

    for did in (32, 72, 112, 152):
        m = scanned_ink(did)
        blob = encode_jbig2_halftone(m, template=(did // 40) % 4)
        assert np.array_equal(decode_jbig2(blob), m), did
    blob = encode_jbig2_halftone(scanned_ink(32))
    for i in range(0, len(blob), 3):
        try:
            decode_jbig2(blob[:i] + bytes((blob[i] ^ 0x3C,)) + blob[i + 1 :])
        except ValueError:
            pass
    for cut in range(1, len(blob), 4):
        try:
            decode_jbig2(blob[:cut])
        except ValueError:
            pass


def test_jbig2_halftone_gray_planes_are_load_bearing():
    """Both gray-code bitplanes carry data: zeroing the LSB plane's
    checker changes nothing visible (patterns 0/1 and 2/3 render alike)
    but a decoder that drops a PLANE mis-renders — simulate by decoding
    with a truncated pattern list."""
    import numpy as np
    import pytest as _pytest
    from pdfparser_spark.textops.jbig2 import (
        decode_halftone_region,
        decode_pattern_dict,
        encode_jbig2_halftone,
    )
    from pdfparser_spark.textops.jbig2 import _read_segment_header

    blob = encode_jbig2_halftone(scanned_ink(32))
    # extract the two payloads by walking the segments directly
    pos = 0
    payloads = {}
    while pos < len(blob):
        num, styp, _pg, ds, de, pos, _refs = _read_segment_header(blob, pos)
        payloads[styp] = blob[ds:de]
    patterns = decode_pattern_dict(payloads[16])
    assert len(patterns) == 4
    _x, _y, mask = decode_halftone_region(payloads[22], patterns)
    assert np.array_equal(mask, scanned_ink(32))
    # a decoder with a truncated dictionary reads ONE bitplane where two
    # were coded: it must either reject or mis-render, never agree
    try:
        _x2, _y2, wrong = decode_halftone_region(payloads[22], patterns[:2])
        assert not np.array_equal(wrong, scanned_ink(32))
    except ValueError:
        pass


def test_jbig2_halftone_cells_straddling_the_edge_are_clipped():
    """§6.6.5.2: grid cells that straddle the region edge composite
    their overlapping part (never silently dropped).  A 3x3 grid of 2x2
    cells at pitch 2 from (-1, -1) over a 4x4 region: every border cell
    straddles an edge.  Reference: composite onto a padded canvas, crop."""
    import struct

    import numpy as np
    from pdfparser_spark.textops.jbig2 import (
        MQEncoder,
        _encode_generic_shared,
        decode_halftone_region,
    )

    patterns = [np.zeros((2, 2), bool), np.array([[1, 0], [1, 1]], bool)]
    gray = np.array([[1, 1, 0], [1, 0, 1], [0, 1, 1]], bool)
    enc = MQEncoder()
    _encode_generic_shared(enc, [(0, 0)] * (1 << 16), gray, 0)
    payload = (
        struct.pack(">IIIIB", 4, 4, 0, 0, 0)
        + bytes((0,))  # arithmetic, HTEMPLATE 0, no skip mask, OR
        + struct.pack(">IIii", 3, 3, -256, -256)  # origin (-1, -1) in 1/256 px
        + struct.pack(">HH", 512, 0)  # pitch 2 px
        + enc.flush()
    )
    canvas = np.zeros((8, 8), bool)
    for mg in range(3):
        for ng in range(3):
            y, x = 1 + (-1 + 2 * mg), 1 + (-1 + 2 * ng)
            canvas[y : y + 2, x : x + 2] |= patterns[int(gray[mg, ng])]
    _x, _y, mask = decode_halftone_region(payload, patterns)
    assert np.array_equal(mask, canvas[1:5, 1:5])
    assert mask[0, 0] and mask[2, 0]  # ink from cells straddling the left edge


def test_jbig2_halftone_grid_is_in_256ths_of_a_pixel():
    """§6.6.5.2: cell (m, n) sits at ((HGX + m*HRY + n*HRX) >> 8,
    (HGY + m*HRX - n*HRY) >> 8) — origin and vector in 1/256 pixel, so
    a fractional origin floors and a non-zero HRY skews the grid.
    Reference: the formula composited cell by cell."""
    import struct

    import numpy as np
    from pdfparser_spark.textops.jbig2 import (
        MQEncoder,
        _encode_generic_shared,
        decode_halftone_region,
    )

    patterns = [np.zeros((2, 2), bool), np.array([[1, 1], [0, 1]], bool)]
    gray = np.array([[1, 0, 1], [0, 1, 1]], bool)
    for hgx, hgy, hrx, hry in ((384, 256, 512, 0), (640, 128, 512, 256)):
        enc = MQEncoder()
        _encode_generic_shared(enc, [(0, 0)] * (1 << 16), gray, 0)
        payload = (
            struct.pack(">IIIIB", 10, 8, 0, 0, 0)
            + bytes((0,))  # arithmetic, HTEMPLATE 0, no skip mask, OR
            + struct.pack(">IIii", 3, 2, hgx, hgy)
            + struct.pack(">HH", hrx, hry)
            + enc.flush()
        )
        canvas = np.zeros((16, 18), bool)  # the region padded by 4
        for m in range(2):
            for n in range(3):
                x = 4 + ((hgx + m * hry + n * hrx) >> 8)
                y = 4 + ((hgy + m * hrx - n * hry) >> 8)
                canvas[y : y + 2, x : x + 2] |= patterns[int(gray[m, n])]
        _x, _y, mask = decode_halftone_region(payload, patterns)
        assert np.array_equal(mask, canvas[4:12, 4:14]), (hgx, hgy, hrx, hry)
        assert mask.any()


def test_jbig2_symbol_refinement_dictionary():
    """§6.5.8.2 SDREFAGG touch-up organization: a base dict of degraded
    tiles + a refinement dict restoring exact tiles; both GRTEMPLATEs;
    corrupt input containment."""
    import numpy as np
    from pdfparser_spark.textops.jbig2 import decode_jbig2, encode_jbig2_symbol_text

    for did in (42, 122, 202):
        m = scanned_ink(did)
        blob = encode_jbig2_symbol_text(
            m, template=(did // 10) % 4, refine=True, rtemplate=(did // 80) % 2
        )
        assert np.array_equal(decode_jbig2(blob), m), did
    blob = encode_jbig2_symbol_text(scanned_ink(42), refine=True)
    for i in range(0, len(blob), 3):
        try:
            decode_jbig2(blob[:i] + bytes((blob[i] ^ 0x66,)) + blob[i + 1 :])
        except ValueError:
            pass
    for cut in range(1, len(blob), 4):
        try:
            decode_jbig2(blob[:cut])
        except ValueError:
            pass
