"""Raw raster image XObjects (ISO 32000 §8.9.5): sample unpack across
BitsPerComponent 1/2/4/8 with byte-aligned row padding, /Decode arrays,
/Indexed palettes and /ImageMask stencils — plus the end-to-end corpus
arm: class-3 media docs ((doc//5)%4 == 3) carry Flate-compressed raw
samples that extract_image_xobjects + textops/raster decode to the
analytic pixel models, through encryption and both synth families."""

from __future__ import annotations

import numpy as np
import pytest

from pdfparser_spark.textops.raster import decode_raster, pack_rows, unpack_rows

TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi"


@pytest.mark.parametrize("bpc", [1, 2, 4, 8])
@pytest.mark.parametrize("h,w,c", [(3, 5, 1), (4, 7, 3), (2, 1, 1), (5, 13, 1), (1, 31, 1)])
def test_pack_unpack_roundtrip(bpc, h, w, c):
    rng = np.random.RandomState(bpc * 100 + h * 10 + w)
    vals = rng.randint(0, 1 << bpc, size=(h, w, c))
    back = unpack_rows(pack_rows(vals, bpc), w, h, c, bpc)
    assert (back == vals).all()


def test_row_padding_is_per_row():
    # width 5 at 1 bpc -> each row occupies a full byte; a decoder that
    # streams bits across row boundaries would misalign row 1
    vals = np.array([[1, 0, 1, 0, 1], [0, 1, 0, 1, 0]], dtype=np.uint8)
    packed = pack_rows(vals, 1)
    assert len(packed) == 2
    assert (unpack_rows(packed, 5, 2, 1, 1)[:, :, 0] == vals).all()


def test_decode_array_inversion_exact():
    s = np.arange(16).reshape(2, 8)
    out = decode_raster(pack_rows(s, 4), 8, 2, 4, "gray", decode=[1, 0])
    assert (out == (17 * (15 - s)).astype(np.uint8)).all()


def test_indexed_palette_lookup():
    pal = bytes(range(256)) * 3  # degenerate but well-formed 256*3 table
    pal = np.arange(768, dtype=np.uint8).tobytes()
    idx = np.array([[0, 1, 255]], dtype=np.uint8)
    out = decode_raster(pack_rows(idx, 8), 3, 1, 8, ("indexed", "rgb", 255, pal))
    palarr = np.frombuffer(pal, dtype=np.uint8).reshape(256, 3)
    assert (out == palarr[idx]).all()
    with pytest.raises(ValueError):
        decode_raster(pack_rows(idx, 8), 3, 1, 8, ("indexed", "rgb", 255, pal[:100]))


def test_imagemask_conventions():
    m = np.array([[1, 0], [0, 1]], dtype=np.uint8)
    assert (decode_raster(pack_rows(m, 1), 2, 2, 1, None, imagemask=True)
            == 255 * m).all()
    assert (decode_raster(pack_rows(m, 1), 2, 2, 1, None, decode=[1, 0], imagemask=True)
            == 255 * (1 - m)).all()
    with pytest.raises(ValueError):
        decode_raster(pack_rows(m, 1), 2, 2, 4, None, imagemask=True)


def test_short_samples_raise():
    with pytest.raises(ValueError):
        unpack_rows(b"\x00" * 5, 4, 2, 3, 8)


def _expected_raster_sum(doc_id: int) -> int:
    from pdfparser_spark.synth import embedded_image_dims, embedded_raster_variant

    w, h = embedded_image_dims(doc_id)
    v = embedded_raster_variant(doc_id)
    rr = np.arange(h, dtype=np.int64)[:, None]
    cc = np.arange(w, dtype=np.int64)[None, :]
    if v == 0:
        return int(sum(((7 * rr + 13 * cc + 31 * k) % 256).sum() for k in range(3)))
    if v == 1:
        idx = (7 * rr + 13 * cc) % 256
        return int(((7 * idx) % 256 + (11 * idx + 3) % 256 + (29 * idx + 7) % 256).sum())
    if v == 2:
        return int((17 * (15 - (7 * rr + 13 * cc) % 16)).sum())
    if v == 3:
        return int((255 * (((rr // 2) + (cc // 3)) % 2)).sum())
    if v == 4:  # Separation -> RGB via Type 3 stitched linears
        c0a, c1a = [0.9, 0.1, 0.2], [0.2, 0.8, 0.4]
        c0b, c1b = [0.2, 0.8, 0.4], [0.1, 0.3, 0.9]
        total = 0
        for r in range(h):
            for c in range(w):
                t = ((7 * r + 13 * c) % 256) * (1.0 / 255.0)
                if t >= 0.5:
                    e = (t - 0.5) * ((1.0 - 0.0) / (1.0 - 0.5))
                    comps = [a + e * (b - a) for a, b in zip(c0b, c1b)]
                else:
                    e = (t - 0.0) * ((1.0 - 0.0) / (0.5 - 0.0))
                    comps = [a + e * (b - a) for a, b in zip(c0a, c1a)]
                total += sum(int(np.floor(255.0 * x + 0.5)) for x in comps)
        return total
    # v5: Separation -> gray via the Type 4 calculator (1-t)^2
    total = 0
    for r in range(h):
        for c in range(w):
            t = ((7 * r + 13 * c) % 16) * (1.0 / 15.0)
            total += int(np.floor(255.0 * ((1.0 - t) * (1.0 - t)) + 0.5))
    return total


def test_raster_corpus_end_to_end():
    """All four sub-variants through BOTH synth families: the armored
    [/AHx /Flate] chain and the binary Flate chain (incl. encrypted docs
    — doc 75 is RC4, doc 15 AES-256, and doc 35's /Indexed palette
    STRING rides encrypted under the protected family)."""
    from pdfparser_spark.core.extract import extract_image_xobjects
    from pdfparser_spark.synth import (
        PROTECTED_USER_PWD,
        build_document,
        build_document_binary,
        build_document_protected,
        embedded_image_dims,
    )

    for builder, pw in ((build_document, b""), (build_document_binary, b"")):
        for doc_id in (15, 35, 55, 75, 95, 115):
            d = builder(doc_id, TEXT)
            images = extract_image_xobjects(d["bytes"], password=pw)["images"]
            assert len(images) == 1, (builder.__name__, doc_id)
            name, payload, meta = images[0]
            assert name == "Im1" and not meta["is_media"]
            w, h = embedded_image_dims(doc_id)
            img = decode_raster(
                bytes(payload), w, h, int(meta["bpc"]), meta["colorspace"],
                meta["decode"], meta["imagemask"],
            )
            assert int(img.sum(dtype=np.int64)) == _expected_raster_sum(doc_id), (
                builder.__name__, doc_id,
            )

    for doc_id in (15, 35):  # force-encrypted: palette string ciphered
        d = build_document_protected(doc_id, TEXT)
        closed = extract_image_xobjects(d["bytes"])  # fails closed
        assert closed["images"] == [] and closed["errors"]
        [(name, payload, meta)] = extract_image_xobjects(
            d["bytes"], password=PROTECTED_USER_PWD
        )["images"]
        w, h = embedded_image_dims(doc_id)
        img = decode_raster(
            bytes(payload), w, h, int(meta["bpc"]), meta["colorspace"],
            meta["decode"], meta["imagemask"],
        )
        assert int(img.sum(dtype=np.int64)) == _expected_raster_sum(doc_id)


def test_fused_query_shape(spark):
    """extract_images_fused emits the raster rows with fmt='raw' beside
    the media-codec rows (spark-level smoke via the local session)."""
    from pdfparser_spark.stages import synthesize_corpus
    from pdfparser_spark.stages.fused import extract_images_fused

    docs = spark.createDataFrame(
        [(d, TEXT) for d in (10, 15, 35, 55, 75, 95, 115)], "doc_id long, text string"
    )
    raw = synthesize_corpus(docs.repartition(4, "doc_id"), family="binary")
    out = {r["doc_id"]: r for r in extract_images_fused(raw).collect()}
    assert out[10]["fmt"] == "jp2"
    for d in (15, 35, 55, 75, 95, 115):
        assert out[d]["fmt"] == "raw", d
        assert out[d]["pixel_sum"] == _expected_raster_sum(d), d
