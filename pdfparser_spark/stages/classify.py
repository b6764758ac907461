"""Stage 3 — classify.

Text events bind to the font of the scope that showed them via ONE
equi-join on ``(doc_id, page_idx, scope, font_name)`` — the DataFrame
realization of the reference's transparent reference deref
(pdf_objects.rs:216-301; SURVEY.md §2.4 A2: "join-then-coalesce, not
pointer chase").  Glyph bytes become Unicode through the font row's typed
spec, with the fused kernel's own builder (``core.extract.spec_decoder``)
and text rule (``core.extract.shown_text``), inside a mapInArrow kernel
that builds each distinct spec's decoder once per task.  ActualText
replacements decode as PDF text strings, never through a font.  Media
events pass through: the tokenize stage already resolved every ``Do``.

At cluster scale AQE's skew-join splitting handles heavy-tailed documents
(session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.cmap import pdf_text_string
from ..core.extract import FontSpec, shown_text, spec_decoder
from ..runner import map_rows
from ..schema import CLASSIFIED

_KEY = ["doc_id", "page_idx", "ev_idx"]


def _spec(tounicode, encoding, differences) -> FontSpec:
    return FontSpec(tounicode, encoding, tuple((d["code"], d["glyph"]) for d in differences or ()))


def classify(tokens: DataFrame, decoded: DataFrame) -> DataFrame:
    fonts = decoded.filter(F.col("rtype") == "font").select(
        "doc_id", "page_idx", "scope", "font_name", "tounicode", "base_encoding", "differences"
    )
    shows = tokens.filter(F.col("ev_type").isin("text", "atext")).join(
        fonts, on=["doc_id", "page_idx", "scope", "font_name"], how="left"
    )

    decoders: dict = {}  # per task: each task unpickles its own copy

    def decode_text(doc_id, page_idx, ev_idx, ev_type, operand, parts, tu, enc, diffs):
        if ev_type == "atext":
            text = pdf_text_string(operand)
        else:
            spec = _spec(tu, enc, diffs)
            dec = decoders.get(spec)
            if dec is None:
                dec = decoders[spec] = spec_decoder(spec)
            text = shown_text(operand if parts is None else parts, dec)
        return [(doc_id, page_idx, ev_idx, "text", text, None)]

    text_spans = map_rows(
        shows.select(*_KEY, "ev_type", "operand", "parts", "tounicode", "base_encoding", "differences"),
        CLASSIFIED,
        decode_text,
    )
    media_spans = tokens.filter(F.col("ev_type") == "media").select(
        *_KEY,
        F.lit("media").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.col("media_name").alias("media_ref"),
    )
    return text_spans.unionByName(media_spans)
