"""Fused single-pass extraction: documents_raw -> per-document tables.

The staged DAG (decode -> tokenize -> classify -> assemble) buys
checkpoint/resume and per-stage lineage at the cost of three shuffles and
two persisted intermediates.  But extraction itself is *per-document*
embarrassingly parallel — nothing in the kernel crosses documents — so the
maximum-throughput production mode is this fused stage: ONE ``mapInArrow``
running the whole kernel (core/extract.py: version -> xref -> objects ->
filters -> page tree -> content tokenize -> CMap decode -> ordered spans)
per document, zero shuffles, no intermediate materialization.

Every extractor here is a row function plus a schema.  The row function
``rows_of(doc_id, data)`` turns one document's bytes into its output rows,
tuples in schema order; ``_per_doc`` runs it through the package's row
runner (``runner.map_rows``) after byte reassembly from the interleaved
spans (``_doc_bytes``).  The runner adds no error handling: each kernel
keeps its own leniency.  The staged decode stage runs through the same
runner.  The one cross-document extractor,
``extract_merge_pairs_fused``, groups by pair in Spark and hands each
pair's rows to the same runner.

Semantics are identical to the staged DAG (same kernel functions; asserted
by the shared DuckDB oracle and pytest span-equality).  Use the staged
pipeline when you need resumability on very long jobs; use the fused stage
for steady-state throughput — at 1000 executors its only data movement is
the input scan and the output write.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import numpy as np
from pyspark.sql import DataFrame

from ..core.extract import (
    extract_advance_spans,
    extract_attachments,
    extract_ccitt_images,
    extract_doc_graph,
    extract_doc_meta,
    extract_font_programs,
    extract_graphics,
    extract_image_xobjects,
    extract_inline_pixels,
    extract_layout_spans,
    extract_linearization,
    extract_markup_annots,
    extract_outline_tree,
    extract_page_labels,
    extract_revisions,
    extract_shadings,
    extract_signatures,
    extract_spans,
    extract_tagged_spans,
    extract_xmp,
)
from ..runner import map_rows
from ..schema import DOCUMENTS_RAW
from ..synth import SIG_D, SIG_E, SIG_EC_D, SIG_N, TAG_LANGS

_SPANS = "doc_id long, ord int, kind string, text string, media_ref string"
_LAYOUT = "doc_id long, ord int, page_idx int, x double, y double, text string"
_TAGGED = "doc_id long, ord int, page_idx int, struct_type string, lang string, text string"
_WORDS = (
    "doc_id long, ord int, page_idx int, x double, y double, "
    "ax_micro long, w_micro long, text string, size double, mode int"
)
_FIELDS = "doc_id long, field_idx int, field_name string, field_type string, field_value string"


def _doc_bytes(spans) -> bytes:
    # text-bearing spans concatenate in offset order (media markers are
    # zero-width); latin-1 is byte-faithful for the ASCII-armored text.
    # A malformed upstream row (NULL spans, a NULL offset, text above
    # U+00FF) is an empty document: the kernel reports it, never crashes
    parts = [s for s in spans or () if s["text"] is not None]
    if any(s["offset"] is None for s in parts):
        return b""
    try:
        text = "".join(s["text"] for s in sorted(parts, key=lambda s: s["offset"]))
        return text.encode("latin-1")
    except UnicodeEncodeError:
        return b""


def _per_doc(
    documents_raw: DataFrame, schema, rows_of: Callable[[int, bytes], Iterable]
) -> DataFrame:
    """Run ``rows_of(doc_id, data)`` over every document of
    ``documents_raw(doc_id, spans)`` through the row runner; its rows
    (tuples in schema order, or dicts keyed by column) form the output."""
    return map_rows(
        documents_raw.select("doc_id", "spans"),
        schema,
        lambda doc_id, spans: rows_of(doc_id, _doc_bytes(spans)),
    )


def _span_rows(key: int, spans, *extra) -> list:
    """``(key, ord, kind, text, media_ref, *extra)`` per kernel span."""
    return [(key, i, k, t, m, *extra) for i, (k, t, m) in enumerate(spans)]


def _layout_rows(doc_id: int, spans) -> list:
    """Layout spans ``(page, x, y, text, size)`` as ``_LAYOUT`` rows in
    reading order: (page, -y, x, emit order) — top-to-bottom,
    left-to-right, the layout-analysis convention.  The sort is stable,
    so emit order breaks ties."""
    ordered = sorted(spans, key=lambda s: (s[0], -s[2], s[1]))
    return [(doc_id, i, p, float(x), float(y), t) for i, (p, x, y, t, _sz) in enumerate(ordered)]


def _tagged_rows(doc_id: int, spans) -> list:
    return [(doc_id, o, p, st, lg, t) for p, o, st, lg, t in spans]


def _word_rows(doc_id: int, words) -> list:
    return [
        (doc_id, i, int(p), float(x), float(y), int(ax), int(w), t, float(size), int(mode))
        for i, (p, x, y, ax, w, t, size, mode) in enumerate(words)
    ]


def _field_rows(doc_id: int, fields) -> list:
    return [(doc_id, int(i), name, ftype, value) for i, name, ftype, value in fields]


def extract_fused(
    documents_raw: DataFrame, strict: bool = False, password: bytes = b""
) -> DataFrame:
    """-> ``(doc_id, spans array<struct<kind,text,media_ref,offset>>)`` —
    byte-identical to ``Pipeline.run(...)["spans"]``.  ``password`` is the
    credential for encrypted documents (tried as user then owner password;
    constant per job, captured by the Arrow kernel closure)."""

    def rows_of(doc_id, data):
        spans = extract_spans(data, strict=strict, password=password)["spans"]
        return [(doc_id, [
            {"kind": k, "text": t, "media_ref": m, "offset": i}
            for i, (k, t, m) in enumerate(spans)
        ])]

    return _per_doc(documents_raw, DOCUMENTS_RAW, rows_of)


def extract_layout_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """LAYOUT extraction, zero shuffle: the positioning-aware kernel
    (`core.extract.extract_layout_spans` — Td/TD/Tm/TL/T* interpreted)
    emitting each text span's page and text-line origin, presented in
    reading order: `ord` numbers spans per document by (page, -y, x, emit
    order) — top-to-bottom, left-to-right, the layout-analysis convention.
    Emits (doc_id, ord, page_idx, x, y, text)."""

    def rows_of(doc_id, data):
        return _layout_rows(doc_id, extract_layout_spans(data, password=password)["spans"])

    return _per_doc(documents_raw, _LAYOUT, rows_of)


def extract_advance_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Glyph-advance layout extraction, zero shuffle: the width-modeling
    kernel (`core.extract.extract_advance_spans` — /Widths + Tc/Tw/Tz +
    TJ kerns folded into an exact integer cursor) emitting one span per
    shown string with its x-advance from the line origin in micro-points.
    `ord` numbers spans per document in STREAM order (the cursor itself
    is the within-line order).  `y` carries the text rise (Ts) and
    `mode` the render mode (Tr; 3 = invisible OCR-layer ink, reported
    not dropped).  Emits (doc_id, ord, page_idx, x, y, ax_micro, text,
    size, mode)."""

    def rows_of(doc_id, data):
        spans = extract_advance_spans(data, password=password)["spans"]
        return [
            (doc_id, i, p, float(x), float(y), int(ax), t, float(size), int(mode))
            for i, (p, x, y, ax, t, size, mode) in enumerate(spans)
        ]

    return _per_doc(
        documents_raw,
        "doc_id long, ord int, page_idx int, x double, y double, "
        "ax_micro long, text string, size double, mode int",
        rows_of,
    )


def extract_word_boxes_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Word-geometry extraction, zero shuffle: the glyph-advance kernel
    with ``with_width=True`` — each shown string carries BOTH its start
    cursor (``ax_micro``) and its own glyph advance (``w_micro``), so
    (x + ax/1e5, y) .. (x + (ax+w)/1e5, y + size) is the word's exact
    baseline box.  This is the hOCR-style geometry an OCR layer would
    report, recovered integer-exact from the vector text itself.  A
    strict superset of `extract_advance_fused`'s columns; same plan
    (one mapInArrow, scan-bound)."""

    def rows_of(doc_id, data):
        res = extract_advance_spans(data, password=password, with_width=True)
        return _word_rows(doc_id, res["spans"])

    return _per_doc(documents_raw, _WORDS, rows_of)


def extract_hocr_roundtrip_fused(
    documents_raw: DataFrame, password: bytes = b""
) -> DataFrame:
    """hOCR round-trip, zero shuffle: the word-box kernel's exact
    geometry serialized to hOCR (`core.hocr.words_to_hocr` — the format
    OCR pipelines exchange) and parsed BACK through the curation tier's
    lenient HTML parser.  Rows must equal `extract_word_boxes`' (same
    oracle), so a green row proves the exporter emits hOCR our own
    independent HTML machinery fully agrees with."""
    from ..core.hocr import hocr_to_words, words_to_hocr

    def rows_of(doc_id, data):
        res = extract_advance_spans(data, password=password, with_width=True)
        return _word_rows(doc_id, hocr_to_words(words_to_hocr(res["spans"])))

    return _per_doc(documents_raw, _WORDS, rows_of)


def cluster_columns(xs, min_gap: float = 100.0) -> list:
    """1-D gap clustering of a page's line-origin x values -> sorted list
    of column START positions: a new column opens when the gap from the
    previous distinct x exceeds ``min_gap`` (intra-column x jitter —
    indents, ragged starts — stays below it; the inter-column gutter is
    far above).  This is the k-column generalization of a fixed split
    point; assignment is a bisect against the starts."""
    starts: list = []
    prev = None
    for x in sorted(set(xs)):
        if prev is None or x - prev > min_gap:
            starts.append(x)
        prev = x
    return starts


def _column_of(x: float, starts: list) -> int:
    from bisect import bisect_right

    return max(0, bisect_right(starts, x) - 1)


def extract_columns_fused(
    documents_raw: DataFrame,
    column_split_x: float | None = None,
    min_gap: float = 100.0,
) -> DataFrame:
    """Multi-COLUMN reading order, zero shuffle: the layout kernel's
    (page, x, y) spans re-ranked COLUMN-major — each column top-to-bottom,
    left column before right — inside the same Arrow kernel (no
    window/exchange; the per-document sort is row-local).  Column
    membership is AUTO-DETECTED per page by 1-D gap clustering of x
    (``cluster_columns``), so k-column pages need no configuration; pass
    ``column_split_x`` to force the fixed two-column split instead.
    Emits (doc_id, ord, page_idx, col, x, y, text)."""

    def rows_of(doc_id, data):
        spans = extract_layout_spans(data)["spans"]
        if column_split_x is not None:
            col_of = lambda _p, x: int(x >= column_split_x)  # noqa: E731
        else:
            page_xs: dict = {}
            for p, x, _y, _t, _s in spans:
                page_xs.setdefault(p, []).append(x)
            starts = {p: cluster_columns(xs, min_gap) for p, xs in page_xs.items()}
            col_of = lambda p, x: _column_of(x, starts[p])  # noqa: E731
        # page, column, top-to-bottom, left-to-right; stable: emit order
        ordered = sorted(spans, key=lambda s: (s[0], col_of(s[0], s[1]), -s[2], s[1]))
        return [
            (doc_id, i, p, col_of(p, x), float(x), float(y), t)
            for i, (p, x, y, t, _sz) in enumerate(ordered)
        ]

    return _per_doc(
        documents_raw,
        "doc_id long, ord int, page_idx int, col int, x double, y double, text string",
        rows_of,
    )


def extract_layout_sized_fused(documents_raw: DataFrame) -> DataFrame:
    """Layout spans WITH the Tf font size, zero shuffle — the raw
    material for typography-based structure analysis (heading detection,
    body-size estimation).  Emits (doc_id, page_idx, x, y, size, text)
    in emit order; downstream ranking/aggregation is JVM algebra."""

    def rows_of(doc_id, data):
        return [
            (doc_id, p, float(x), float(y), float(size), t)
            for p, x, y, t, size in extract_layout_spans(data)["spans"]
        ]

    return _per_doc(
        documents_raw,
        "doc_id long, page_idx int, x double, y double, size double, text string",
        rows_of,
    )


def extract_images_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """PDF-to-pixels end to end, zero shuffle: reconstruct each document,
    pull its image XObjects out of the (decrypted) object graph
    (`core.extract.extract_image_xobjects`), and decode them — media
    codecs via `textops.media.sniff_decode` (JPEG/JP2/PNG/BMP/PPM), RAW
    §8.9.5 sample rasters (fmt 'raw': Flate samples, /Indexed palettes,
    sub-byte /BitsPerComponent, /Decode, /ImageMask) via
    `textops.raster.decode_raster`.  Emits
    (doc_id, media_ref, fmt, width, height, pixel_sum)."""
    from ..textops.media import sniff_decode
    from ..textops.raster import decode_raster

    def rows_of(doc_id, data):
        for name, payload, meta in extract_image_xobjects(data, password=password)["images"]:
            try:
                if meta["is_media"]:
                    dec = sniff_decode(bytes(payload))
                    if dec is None:
                        continue  # video/unknown codec: stub tier
                    fmt, w, h, img = dec
                else:
                    w, h = int(meta["width"]), int(meta["height"])
                    img = decode_raster(
                        bytes(payload), w, h, int(meta["bpc"] or 8),
                        meta["colorspace"], meta["decode"], meta["imagemask"],
                    )
                    fmt = "raw"
                alpha_sum = None
                sm = meta.get("smask")
                if sm is not None:
                    alpha = decode_raster(
                        bytes(sm["payload"]), int(sm["width"]),
                        int(sm["height"]), int(sm["bpc"] or 8), "gray",
                    )
                    alpha_sum = int(alpha.sum(dtype=np.int64))
            except Exception:
                # corrupt payload (truncated JPEG, short samples, ...):
                # lenient like the rest of the kernel — skip the image,
                # never kill the task
                continue
            yield doc_id, name, fmt, w, h, int(img.sum(dtype=np.int64)), alpha_sum

    return _per_doc(
        documents_raw,
        "doc_id long, media_ref string, fmt string, width int, height int, "
        "pixel_sum long, alpha_sum long",
        rows_of,
    )


def extract_meta_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Document-level metadata, zero shuffle: trailer /Info (Title/Author)
    plus the catalog /Outlines First->Next chain walk
    (`core.extract.extract_doc_meta`).  Emits
    (doc_id, title, author, n_outlines, first_outline)."""

    def rows_of(doc_id, data):
        m = extract_doc_meta(data, password=password)
        return [(
            doc_id, m["title"], m["author"], m["created"], int(m["n_outlines"]),
            m["first_outline"], m["first_outline_page"],
        )]

    return _per_doc(
        documents_raw,
        "doc_id long, title string, author string, created string, "
        "n_outlines int, first_outline string, first_outline_page int",
        rows_of,
    )


def extract_outlines_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """FULL outline tree, zero shuffle: the §12.3.3 depth-first walk
    (`core.extract.extract_outline_tree`) — every bookmark in pre-order
    with its nesting depth, resolved /Dest target page, and open/closed
    display state.  Emits (doc_id, ord, depth, title, target_page,
    closed); one mapInArrow, scan-bound like every fused kernel."""

    def rows_of(doc_id, data):
        items = extract_outline_tree(data, password=password)["items"]
        return [
            (doc_id, int(o), int(depth), title, None if target is None else int(target), bool(closed))
            for o, depth, title, target, closed in items
        ]

    return _per_doc(
        documents_raw,
        "doc_id long, ord int, depth int, title string, target_page int, closed boolean",
        rows_of,
    )


def extract_shadings_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Smooth-shading inventory (§8.7.4.5), zero shuffle: per-page
    /Shading resources with geometry + the colour function evaluated at
    its /Domain endpoints (`core.extract.extract_shadings`).  Flattened
    one row per (doc, page, name) with per-channel endpoint colours."""

    def rows_of(doc_id, data):
        shadings = extract_shadings(data, password=password)["shadings"]
        return [
            (doc_id, p, name, stype, cmax, *c0, *c1, n_ops)
            for p, name, stype, cmax, c0, c1, n_ops in shadings
            if len(c0) == 3 and len(c1) == 3  # non-RGB alternate: outside this view
        ]

    return _per_doc(
        documents_raw,
        "doc_id long, page_idx int, name string, shading_type int, "
        "coord_max int, c0_r int, c0_g int, c0_b int, "
        "c1_r int, c1_g int, c1_b int, n_ops int",
        rows_of,
    )


def extract_graphics_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Vector-graphics summary, zero shuffle: per-doc path-op counters
    over every page's content stream (`core.extract.extract_graphics`).
    Emits (doc_id, n_rects, n_lines, n_curves, n_subpaths, n_strokes,
    n_fills, n_clips, rect_area)."""
    schema = (
        "doc_id long, n_rects int, n_lines int, n_curves int, "
        "n_subpaths int, n_strokes int, n_fills int, n_clips int, "
        "rect_area long"
    )
    counters = [f.split()[0] for f in schema.split(",")[1:]]

    def rows_of(doc_id, data):
        g = extract_graphics(data, password=password)
        return [(doc_id, *(int(g[c]) for c in counters))]

    return _per_doc(documents_raw, schema, rows_of)


def extract_links_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Interactive tier, zero shuffle: page /Annots link annotations —
    /URI actions AND internal /Dest links resolved to their target page
    (`core.extract.extract_doc_graph`), one row per link.
    Emits (doc_id, page, link_idx, uri, target_page)."""

    def rows_of(doc_id, data):
        return [
            (doc_id, int(page), int(li), uri, target)
            for page, li, uri, target in extract_doc_graph(data, password=password)["links"]
        ]

    return _per_doc(
        documents_raw, "doc_id long, page int, link_idx int, uri string, target_page int", rows_of
    )


def extract_forms_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Interactive tier, zero shuffle: catalog /AcroForm terminal fields
    (`core.extract.extract_doc_graph`), one row per field.  Emits
    (doc_id, field_idx, field_name, field_type, field_value) — the value
    is a PDF string for /Tx fields and a NAME for /Btn fields, both
    surfaced as strings; an unset /V surfaces as NULL."""

    def rows_of(doc_id, data):
        return _field_rows(doc_id, extract_doc_graph(data, password=password)["fields"])

    return _per_doc(documents_raw, _FIELDS, rows_of)


def extract_fill_form_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Form-FILL round-trip, zero shuffle: extract the AcroForm, fill
    every /Tx terminal with ``filled-<doc>-<name>`` as an INCREMENTAL
    revision (`core.writer.fill_form_fields` — original bytes untouched,
    odd docs save in the xref-stream revision form), then re-extract.
    /Btn fields and every other object must come back byte-identical;
    the filled values replace the old /V — the interactive-editor save
    path, driven end to end."""
    from ..core.writer import fill_form_fields

    def rows_of(doc_id, data):
        first = extract_doc_graph(data, password=password)["fields"]
        fills = {name: f"filled-{doc_id}-{name}" for _i, name, ftype, _v in first if ftype == "Tx"}
        if fills:
            data = fill_form_fields(data, fills, xref_stream=doc_id % 2 == 1)
        return _field_rows(doc_id, extract_doc_graph(data, password=password)["fields"])

    return _per_doc(documents_raw, _FIELDS, rows_of)


def extract_attachments_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Embedded-file attachments, zero shuffle: /Names /EmbeddedFiles name
    tree -> /Filespec -> decoded /EF stream
    (`core.extract.extract_attachments`), one row per attachment.  Emits
    (doc_id, att_idx, att_name, size, payload_md5)."""

    def rows_of(doc_id, data):
        return [
            (doc_id, int(i), name, None if size is None else int(size), digest)
            for i, name, size, digest in extract_attachments(data, password=password)["attachments"]
        ]

    return _per_doc(
        documents_raw,
        "doc_id long, att_idx int, att_name string, size int, payload_md5 string",
        rows_of,
    )


def extract_tagged_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Tagged-PDF LOGICAL reading order, zero shuffle: the structure-tree
    kernel (core/extract.py ``extract_tagged_spans``, ISO 32000 §14.7/
    §14.8) ranks each show op by its /MCID's depth-first position in the
    /StructTreeRoot walk; untagged (artifact) content follows in drawing
    order with NULL struct_type.  One mapInArrow — the ranking is
    per-document and row-local, so the plan is scan -> kernel -> sink at
    any cluster size."""

    def rows_of(doc_id, data):
        return _tagged_rows(doc_id, extract_tagged_spans(data, password=password)["spans"])

    return _per_doc(documents_raw, _TAGGED, rows_of)


def extract_scanned_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Scanned-PDF pages to pixels, zero shuffle: pull every
    CCITTFaxDecode / JBIG2Decode image XObject out of the object graph
    (``core.extract.extract_ccitt_images``) and run the REAL codec —
    Group 3/4 (``textops/ccitt.py``, honoring /K, /Columns, /Rows,
    /EncodedByteAlign, /BlackIs1) or the T.88 embedded segment walk with
    MMR generic regions (``textops/jbig2.py``).  Emits one row per image
    with the ink statistics (count + position-weighted signature — any
    single pixel flip changes it).  One mapInArrow; decode per-doc."""
    from ..textops.ccitt import decode_ccitt
    from ..textops.jbig2 import decode_jbig2

    def rows_of(doc_id, data):
        res = extract_ccitt_images(data, password=password)
        for page_idx, name, codec, k, columns, nrows, ba, b1, payload, gbl in res["images"]:
            try:
                if codec == "jbig2":
                    mask = decode_jbig2(payload, gbl)
                else:
                    mask = decode_ccitt(payload, columns, nrows, k=k, byte_align=ba, black_is_1=b1)
            except ValueError:
                continue  # corrupt scan: contained skip, task lives
            h, w = mask.shape
            idx = np.arange(h * w, dtype=np.int64).reshape(h, w) + 1
            yield (
                doc_id, page_idx, name, w, h,
                int(mask.sum(dtype=np.int64)), int((idx * mask).sum(dtype=np.int64)),
            )

    return _per_doc(
        documents_raw,
        "doc_id long, page_idx int, media_ref string, width int, "
        "height int, n_black long, ink_sig long",
        rows_of,
    )


def extract_labels_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Page labels (§12.4.2), zero shuffle: the /PageLabels number-tree
    walk + style formatting (decimal/roman/letters, prefix, /St) in one
    mapInArrow.  Every page gets a label (viewer-default ordinal+1 when
    no tree governs it)."""

    def rows_of(doc_id, data):
        labels = extract_page_labels(data, password=password)["labels"]
        return [(doc_id, p, label) for p, label in labels]

    return _per_doc(documents_raw, "doc_id long, page_idx int, label string", rows_of)


def extract_signatures_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Digital-signature verification (§12.8), zero shuffle: the AcroForm
    walk + ByteRange coverage + CMS digest/RSA verification in one
    mapInArrow — the verdict columns are per-doc scalars, so the plan is
    scan -> kernel -> sink at any corpus size.  The kernel's rows are
    (sig_idx, field, signer, digest_alg, key_alg, coverage_ok,
    digest_ok, sig_ok)."""

    def rows_of(doc_id, data):
        return [(doc_id, *s) for s in extract_signatures(data, password=password)["signatures"]]

    return _per_doc(
        documents_raw,
        "doc_id long, sig_idx int, field string, signer string, "
        "digest_alg string, key_alg string, coverage_ok boolean, digest_ok boolean, "
        "sig_ok boolean",
        rows_of,
    )


def extract_markup_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Markup annotations (§12.5.6), zero shuffle: the /Annots walk plus
    the /QuadPoints-to-layout geometric join in one mapInArrow — the
    highlighted TEXT is recovered per document, so no cross-doc data
    movement exists at any corpus size.  The kernel's rows are
    (page_idx, annot_idx, subtype, author, contents, covered_text)."""

    def rows_of(doc_id, data):
        return [(doc_id, *a) for a in extract_markup_annots(data, password=password)["annots"]]

    return _per_doc(
        documents_raw,
        "doc_id long, page_idx int, annot_idx int, subtype string, "
        "author string, contents string, covered_text string",
        rows_of,
    )


def extract_revisions_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Incremental-update revision history (§7.5.6), zero shuffle: the
    xref /Prev chain replayed oldest-first per document — kind, visible
    object count under the prefix merge, and the ids each revision
    changed.  The PDF-side analog of the snapshot log's changes() feed.
    The kernel's rows are (rev_idx, kind, n_objects, changed)."""

    def rows_of(doc_id, data):
        return [(doc_id, *r) for r in extract_revisions(data, password=password)["revisions"]]

    return _per_doc(
        documents_raw,
        "doc_id long, rev_idx int, kind string, n_objects int, changed string",
        rows_of,
    )


def extract_xmp_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """XMP metadata mining (§14.3.2), zero shuffle beyond the leveling
    repartition: one row per document that carries a /Metadata packet."""

    def rows_of(doc_id, data):
        res = extract_xmp(data, password=password)
        return [(doc_id, res["title"], res["creator_tool"])] if res["has_xmp"] else []

    return _per_doc(documents_raw, "doc_id long, xmp_title string, creator_tool string", rows_of)


def extract_rewrite_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Rewrite FIXPOINT, zero shuffle: extract -> serialize the spans
    back to a fresh PDF (core/writer.py) -> extract the rewritten bytes.
    Output rows equal plain extraction's (same span oracle), so a green
    row proves the writer emits documents the kernel fully agrees with —
    the transformation-pipeline primitive (scrub/edit spans, re-emit)."""
    from ..core.writer import write_pdf

    def rows_of(doc_id, data):
        first = extract_spans(data, password=password)
        # odd docs rewrite in the modern xref-STREAM form, every third
        # with Flate-compressed content streams — all writer formats must
        # re-extract identically
        again = extract_spans(
            write_pdf(first["spans"], xref_stream=doc_id % 2 == 1,
                      objstm=doc_id % 4 == 3, compress=doc_id % 3 == 0)
        )
        return _span_rows(doc_id, again["spans"])

    return _per_doc(documents_raw, _SPANS, rows_of)


def extract_tagged_rewrite_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """TAGGED-output writer roundtrip, zero shuffle: extract -> serialize
    with ``write_pdf(tagged=True, lang=...)`` (one /P StructElem per
    text page, /ParentTree, catalog /Lang) -> re-extract through the
    STRUCTURE-TREE kernel.  The tagged read of the tagged write must
    recover every text span in order with struct_type 'P' and the
    written language — the PDF/UA-shaped authoring primitive an
    accessibility/remediation pipeline needs.  ``lang`` cycles the
    synth TAG_LANGS by doc%3 so the channel is per-doc observable."""
    from ..core.writer import write_pdf

    def rows_of(doc_id, data):
        first = extract_spans(data, password=password)
        again = extract_tagged_spans(
            write_pdf(first["spans"], tagged=True, lang=TAG_LANGS[doc_id % 3],
                      xref_stream=doc_id % 2 == 1)
        )
        return _tagged_rows(doc_id, again["spans"])

    return _per_doc(documents_raw, _TAGGED, rows_of)


def extract_tagged_fixpoint_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Structure-PRESERVING re-emission fixpoint, zero shuffle: tagged
    extraction -> ``write_tagged_page`` (each element's /S role and
    /Lang override re-authored verbatim, artifact rows drawn unmarked)
    -> tagged re-extraction.  Output rows equal the first extraction's
    (the extract_tagged_order oracle), proving the writer round-trips
    the full structure channel, not just text.  The document default
    language is recovered from the artifact rows (they speak it) or the
    first tagged row."""
    from ..core.writer import write_tagged_page

    def rows_of(doc_id, data):
        first = extract_tagged_spans(data, password=password)
        seq = [(st, lg, t) for (_p, _o, st, lg, t) in first["spans"]]
        un = [lg for (st, lg, _t) in seq if st is None]
        base = un[0] if un else (seq[0][1] if seq else None)
        again = extract_tagged_spans(
            write_tagged_page(seq, base_lang=base, xref_stream=doc_id % 2 == 1)
        )
        return _tagged_rows(doc_id, again["spans"])

    return _per_doc(documents_raw, _TAGGED, rows_of)


def extract_linearized_roundtrip_fused(
    documents_raw: DataFrame, password: bytes = b""
) -> DataFrame:
    """Linearization round-trip, zero shuffle: extract -> serialize the
    spans in the Annex F "fast web view" layout
    (`core.writer._serialize_linearized`) -> VALIDATE the linearization
    parameters against the produced bytes (`extract_linearization`:
    /L /H /O /T /N checked, not trusted) -> re-extract.  Span rows must
    equal plain extraction's and every check must hold, so one green
    row proves both the byte-range-servable layout and the validator —
    the streaming-delivery write shape."""
    from ..core.writer import write_pdf

    flags = ("linearized", "l_ok", "n_ok", "o_ok", "t_ok", "h_ok")

    def rows_of(doc_id, data):
        lb = write_pdf(extract_spans(data, password=password)["spans"], linearized=True)
        checks = extract_linearization(lb)
        return _span_rows(doc_id, extract_spans(lb)["spans"], *(checks[f] for f in flags))

    return _per_doc(
        documents_raw,
        _SPANS + ", linearized boolean, l_ok boolean, n_ok boolean, "
        "o_ok boolean, t_ok boolean, h_ok boolean",
        rows_of,
    )


def extract_redact_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """REDACTION round-trip, zero shuffle: extract -> scrub PII from the
    span text with the SAME RE2-safe patterns the curation tier and the
    oracle share (email -> phone -> ip, fixed order) -> serialize the
    scrubbed spans back to a PDF (core/writer.py) -> extract the
    redacted document.  The output must equal the span oracle with the
    scrub applied — the end-to-end right-to-be-forgotten shape for
    document corpora (the redacted artifact is a REAL document again,
    not a text column)."""
    import re as _re

    from ..core.writer import write_pdf
    from ..textops.curation import EMAIL_RE, IPV4_RE, PHONE_RE

    subs = [(_re.compile(p), r) for p, r in
            ((EMAIL_RE, "<EMAIL>"), (PHONE_RE, "<PHONE>"), (IPV4_RE, "<IP>"))]

    def rows_of(doc_id, data):
        scrubbed = []
        for kind, text, media_ref in extract_spans(data, password=password)["spans"]:
            if kind == "text" and text:
                for rx, repl in subs:
                    text = rx.sub(repl, text)
            scrubbed.append((kind, text, media_ref))
        again = extract_spans(
            write_pdf(scrubbed, xref_stream=doc_id % 2 == 1, objstm=doc_id % 4 == 3)
        )
        return _span_rows(doc_id, again["spans"])

    return _per_doc(documents_raw, _SPANS, rows_of)


def extract_font_inventory_fused(
    documents_raw: DataFrame, password: bytes = b""
) -> DataFrame:
    """Embedded-font inventory, zero shuffle: every page font reported
    with its §9.9 embedding form and the PARSED program's glyph count +
    space width (core.extract.extract_font_programs) — the corpus font
    forensics a rendering/compliance pipeline runs before committing to
    a font strategy."""

    def rows_of(doc_id, data):
        fonts = extract_font_programs(data, password=password)["fonts"]
        return [
            (doc_id, int(p), fname, sub, prog, int(n), None if w32 is None else int(w32))
            for p, fname, sub, prog, n, w32 in fonts
        ]

    return _per_doc(
        documents_raw,
        "doc_id long, page_idx int, font_name string, subtype string, "
        "program string, n_glyphs int, w_space int",
        rows_of,
    )


def extract_encrypt_rewrite_fused(
    documents_raw: DataFrame, password: bytes = b""
) -> DataFrame:
    """ENCRYPTED-rewrite fixpoint, zero shuffle: extract -> serialize the
    spans back under the standard security handler (core/writer.py
    ``encrypt=``; even docs V2/R3 128-bit RC4, odd docs V5/R6 AESV3-256,
    serialization form cycling classic / xref-stream / ObjStm by
    doc_id%3) -> re-extract WITH the password.  Rows equal plain
    extraction's (same span oracle), so a green row proves the writer's
    Algorithm 2/3/5 (+ 2.B/8/9/10) entries agree with the reader's
    decryptor end-to-end.  A wrong-password probe per doc must yield
    ZERO spans — asserted in-kernel (a poison row would break the
    oracle), so ciphertext secrecy is part of the checked contract."""
    from ..core.writer import write_pdf

    # password + seed are CORPUS-SHARED on purpose: R6 key derivation
    # (Algorithm 2.B) costs ~1.5 ms per distinct (pwd, salt) pair, and
    # crypt.hash_2b memoizes per worker process — shared salts amortize
    # it to a one-time cost per executor (same trade the protected synth
    # family makes)
    pwd = b"hunter2-rw"

    def rows_of(doc_id, data):
        enc = write_pdf(
            extract_spans(data, password=password)["spans"],
            xref_stream=doc_id % 3 == 1,
            objstm=doc_id % 3 == 2,
            encrypt={"mode": "aes256" if doc_id % 2 else "rc4", "user_pwd": pwd, "seed": b"encrw"},
        )
        locked = extract_spans(enc, strict=False, password=b"not-the-key")
        again = extract_spans(enc, password=pwd)
        spans = again["spans"] if not locked["spans"] else [("text", "!CIPHERTEXT-LEAKED!", None)]
        return _span_rows(doc_id, spans)

    return _per_doc(documents_raw, _SPANS, rows_of)


def extract_portfolio_fused(
    documents_raw: DataFrame, password: bytes = b""
) -> DataFrame:
    """PDF-inside-PDF container round-trip, zero shuffle: each document's
    RAW BYTES are embedded as a §7.11 file attachment inside a freshly
    written one-page carrier (write_pdf ``attachments=`` — /EmbeddedFile
    stream -> /Filespec -> catalog /Names /EmbeddedFiles), plus a decoy
    text attachment so the name tree holds >1 key; the kernel then walks
    the carrier's name tree, decodes the payload, and RECURSIVELY runs
    plain extraction on the inner document.  Output rows = the inner
    document's spans — the UNCHANGED span oracle is green only if writer
    name-tree emission, attachment decode, and the recursive kernel all
    agree (the portfolio/e-mail-archive ingestion shape)."""
    from ..core.writer import write_pdf

    def rows_of(doc_id, data):
        carrier = write_pdf(
            [("text", "portfolio %d" % doc_id, None)],
            xref_stream=doc_id % 2 == 1,
            objstm=doc_id % 4 == 3,
            attachments=[
                ("doc%d.pdf" % doc_id, data),
                ("notes.txt", b"carrier for %d" % doc_id),
            ],
        )
        atts = extract_attachments(carrier, with_payload=True)
        inner = next(
            (pl for _i, nm, _sz, _md5, pl in atts["attachments"]
             if nm.endswith(".pdf") and pl is not None),
            None,
        )
        spans = (
            extract_spans(inner, password=password)["spans"]
            if inner is not None
            else [("text", "!ATTACHMENT-LOST!", None)]
        )
        return _span_rows(doc_id, spans)

    return _per_doc(documents_raw, _SPANS, rows_of)


def extract_merge_pairs_fused(
    documents_raw: DataFrame, password: bytes = b""
) -> DataFrame:
    """Document MERGE (the pdftk/qpdf concat shape): documents pair up by
    ``pair_id = doc_id // 2``, each pair's members are extracted, their
    span lists concatenated in doc_id order, written as ONE merged PDF
    (core/writer.py), and the merged bytes re-extracted.  Output rows key
    on pair_id; the oracle renumbers the same spans with a window over
    (doc_id, ord) — green only if the merged document preserves every
    span of both inputs in order.

    The one exchange here is inherent: merging is a CROSS-document
    operation, so bytes must co-locate by pair.  Pair keys are uniform
    (doc_id//2), each group is exactly 1-2 docs — no skew, and the
    shuffle payload is the raw doc bytes themselves (no amplification).
    At 1000 executors this is hash-partition + per-pair kernel work."""
    import pyspark.sql.functions as F

    from ..core.writer import write_pdf

    schema = "pair_id long, ord int, kind string, text string, media_ref string"

    def merge(pair_id, members):
        spans_all = []
        for m in members:  # doc_id order
            spans_all.extend(extract_spans(_doc_bytes(m["spans"]), password=password)["spans"])
        merged = write_pdf(spans_all, xref_stream=pair_id % 2 == 1, objstm=pair_id % 4 == 3)
        return _span_rows(pair_id, extract_spans(merged)["spans"])

    pairs = (
        documents_raw.filter(F.col("doc_id").isNotNull())  # NULL ids have no pair
        .groupBy(F.floor(F.col("doc_id") / 2).cast("long").alias("pair_id"))
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "spans"))).alias("members"))
    )
    return map_rows(pairs, schema, merge)


def extract_incremental_redact_fused(
    documents_raw: DataFrame, password: bytes = b""
) -> DataFrame:
    """Incremental-update round-trip, zero shuffle: extract -> serialize
    (core/writer.py) -> APPEND a one-page redaction as an incremental
    revision (§7.5.6: original bytes untouched, new xref section with
    /Prev) -> extract the updated file AND replay its revision chain.
    The first text span must come back as [REDACTED] with every other
    span intact, and extract_revisions must see exactly two revisions —
    the minimal-edit write path paired with its own forensics."""
    from ..core.writer import redact_first_text_incremental, write_pdf

    def rows_of(doc_id, data):
        first = extract_spans(data, password=password)
        base = write_pdf(first["spans"], xref_stream=doc_id % 2 == 1)
        # every 4th+2 doc appends the revision in the MODERN xref-STREAM
        # form (same chain semantics, §7.5.8)
        upd = redact_first_text_incremental(base, first["spans"], xref_stream=doc_id % 4 == 2)
        nrev = len(extract_revisions(upd)["revisions"])
        return _span_rows(doc_id, extract_spans(upd)["spans"], nrev)

    return _per_doc(documents_raw, _SPANS + ", n_revisions int", rows_of)


def extract_with_headers_fused(
    documents_raw: DataFrame, password: bytes = b""
) -> DataFrame:
    """Layout extraction of documents that CARRY running headers, zero
    shuffle: layout-extract -> stamp ``CONFIDENTIAL-<doc_id>`` at
    (72, 780) on EVERY page (geometry-preserving layout writer) ->
    re-extract.  Feed for :func:`textops.furniture.strip_page_furniture`
    — multi-page docs repeat the header (furniture), single-page docs
    show it once (content, by the >=2-pages rule).  Emits the layout
    schema (doc_id, ord, page_idx, x, y, text)."""
    from ..core.writer import write_pdf_layout

    def rows_of(doc_id, data):
        first = extract_layout_spans(data, password=password)
        body = [(p, x, y, t) for p, x, y, t, _sz in first["spans"]]
        pages = sorted({p for p, _x, _y, _t in body}) or [0]
        hdr = [(p, 72.0, 780.0, "CONFIDENTIAL-%d" % doc_id) for p in pages]
        stamped = write_pdf_layout(hdr + body, xref_stream=doc_id % 2 == 1, objstm=doc_id % 4 == 3)
        return _layout_rows(doc_id, extract_layout_spans(stamped)["spans"])

    return _per_doc(documents_raw, _LAYOUT, rows_of)


def extract_apply_redactions_fused(
    documents_raw: DataFrame, password: bytes = b""
) -> DataFrame:
    """The §12.5.4.5 two-phase redaction workflow in one Arrow kernel,
    zero shuffle: layout-extract -> MARK page ``doc_id % n_pages`` with
    an inline /Redact annotation whose quad brackets that page's line
    origin (writer ``page_annots`` hook) -> APPLY the marks
    (core/redact.py: covered spans removed, marks deleted) -> re-extract
    the sanitized bytes.  Output = the layout rows MINUS the redacted
    page's line; the kernel decides by GEOMETRY (quad containment), the
    oracle by doc_id arithmetic — they agree only if the quad math is
    right.  The sanitized bytes are also probed for the removed text —
    a leak poisons the row so the oracle catches it."""
    from ..core.redact import apply_redactions, redact_mark
    from ..core.writer import write_pdf_layout

    def rows_of(doc_id, data):
        first = extract_layout_spans(data, password=password)
        r = doc_id % (1 + doc_id % 3)
        marked = write_pdf_layout(
            [(p, x, y, t) for p, x, y, t, _sz in first["spans"]],
            xref_stream=doc_id % 2 == 1,
            objstm=doc_id % 4 == 3,
            page_annots={r: [redact_mark(70, 714 - 14 * r, 300, 726 - 14 * r)]},
        )
        res = apply_redactions(marked)
        spans = extract_layout_spans(res["bytes"])["spans"]
        # in-kernel guard: NOTHING may survive inside the marked quad,
        # and the marks themselves must be gone
        leaked = b"/Redact" in res["bytes"] or any(
            p == r and 714 - 14 * r <= y <= 726 - 14 * r and 70 <= x <= 300
            for p, x, y, _t, _s in spans
        )
        if leaked:
            spans = [(p, x, y, "!REDACTION-LEAKED!", s) for p, x, y, _t, s in spans]
        return _layout_rows(doc_id, spans)

    return _per_doc(documents_raw, _LAYOUT, rows_of)


def extract_layout_rewrite_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Layout-preserving rewrite fixpoint, zero shuffle: layout-extract ->
    write_pdf_layout (each span re-shown at its origin) -> layout-extract
    the rewritten bytes, re-ranked exactly like extract_layout_fused.
    Green against the UNCHANGED layout oracle = the writer preserves
    geometry, not just text."""
    from ..core.writer import write_pdf_layout

    def rows_of(doc_id, data):
        first = extract_layout_spans(data, password=password)
        rewritten = write_pdf_layout(
            [(p, x, y, t) for p, x, y, t, _sz in first["spans"]],
            xref_stream=doc_id % 2 == 1,
            objstm=doc_id % 4 == 3,
        )
        return _layout_rows(doc_id, extract_layout_spans(rewritten)["spans"])

    return _per_doc(documents_raw, _LAYOUT, rows_of)


def extract_sign_roundtrip_fused(
    documents_raw: DataFrame, password: bytes = b""
) -> DataFrame:
    """Writer-side DIGITAL SIGNING round trip, zero shuffle: extract ->
    serialize the spans (form cycling classic / xref-stream / ObjStm by
    doc%3) -> `core.writer.sign_pdf_incremental` (ECDSA P-256 on odd
    docs, RSA on even; revision form xref-stream on doc%4==3) ->
    re-verify with `extract_signatures` AND re-extract the spans.  Span
    rows must equal plain extraction's and every verdict must hold —
    verification failures poison the row set instead of dropping rows,
    so the oracle observes them."""
    from ..core.writer import sign_pdf_incremental, write_pdf

    def rows_of(doc_id, data):
        base = write_pdf(
            extract_spans(data, password=password)["spans"],
            xref_stream=doc_id % 3 == 1,
            objstm=doc_id % 3 == 2,
        )
        if doc_id % 2:
            signed = sign_pdf_incremental(
                base, ec_d=SIG_EC_D, cn="pdfspark signer", xref_stream=doc_id % 4 == 3,
            )
        else:
            signed = sign_pdf_incremental(base, rsa=(SIG_N, SIG_E, SIG_D), cn="pdfspark signer")
        sigs = extract_signatures(signed)["signatures"]
        # one signature whose coverage, digest and signature all verify
        ok = len(sigs) == 1 and sigs[0][5] is True and sigs[0][6] is True and sigs[0][7] is True
        spans = extract_spans(signed)["spans"] if ok else [("text", "!SIGNATURE-INVALID!", None)]
        kalg = sigs[0][4] if sigs else None
        return _span_rows(doc_id, spans, kalg, ok, ok, ok)

    return _per_doc(
        documents_raw,
        _SPANS + ", key_alg string, coverage_ok boolean, digest_ok boolean, sig_ok boolean",
        rows_of,
    )


def extract_inline_images_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """Inline-image pixels (§8.9.7), zero shuffle: BI..ID..EI parse +
    abbreviated filter fold + raster decode per page
    (`core.extract.extract_inline_pixels`, rows (page_idx, img_idx,
    width, height, pixel_sum))."""

    def rows_of(doc_id, data):
        return [(doc_id, *im) for im in extract_inline_pixels(data, password=password)["images"]]

    return _per_doc(
        documents_raw,
        "doc_id long, page_idx int, img_idx int, width int, height int, pixel_sum long",
        rows_of,
    )


def extract_repair_roundtrip_fused(documents_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """PDF REPAIR, zero shuffle: extract from DAMAGED bytes (footer-cut
    recovery scan, catalog-loss orphan-page scan, xref offset-slop
    re-sync) -> re-serialize the recovered spans with the writer -> the
    repaired document must re-extract with ZERO error rows and identical
    spans.  ``had_errors`` reports whether extraction logged error rows
    (catalog-loss/slop repairs and dangling refs do; the footer-cut
    recovery scan rebuilds silently inside read_xref — documented);
    ``clean`` must be TRUE on every row — a dirty rewrite poisons the
    rows instead of dropping them."""
    from ..core.writer import write_pdf

    def rows_of(doc_id, data):
        first = extract_spans(data, password=password)
        again = extract_spans(write_pdf(first["spans"], xref_stream=doc_id % 3 == 1))
        clean = again["errors"] == [] and again["spans"] == first["spans"]
        spans = again["spans"] if clean else [("text", "!REPAIR-DIVERGED!", None)]
        return _span_rows(doc_id, spans, bool(first["errors"]), clean)

    return _per_doc(documents_raw, _SPANS + ", had_errors boolean, clean boolean", rows_of)
