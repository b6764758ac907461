"""Spark schemas for every stage boundary (SURVEY.md §1.2).

The input/output span shape is the authoritative one from BASELINE.json:15:
``documents(doc_id, spans: array<struct<kind, text, media_ref, offset>>)``.

Intermediate stage tables are flat and column-prunable: each downstream
stage selects only the columns it needs, so the parquet/Iceberg checkpoint
scan prunes (the distributed analog of the reference's lazy demand-driven
parsing, pdf_file.rs:48-68 — see SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

# pipeline input & final output table shape (BASELINE.json:15)
DOCUMENTS_RAW = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
    ]
)

# one resource scope of a page (core/extract.py ``scope_table``): its
# hidden /OC names, its ExtGState font sizes and what each /XObject name
# draws — a form (index into the page's ``forms``, run under scope
# ``scope``) or media (form NULL).  ``xobjects`` is NULL when the scope's
# /XObject is not a dictionary, so every name draws media.
SCOPE_STRUCT = T.StructType(
    [
        T.StructField("hidden", T.ArrayType(T.StringType())),
        T.StructField(
            "gs",
            T.ArrayType(
                T.StructType(
                    [T.StructField("name", T.StringType()), T.StructField("size", T.DoubleType())]
                )
            ),
        ),
        T.StructField(
            "xobjects",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("form", T.IntegerType()),
                        T.StructField("scope", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)

# decode-stage output: one row per doc meta | page | font of a page scope |
# error.  rtype discriminates; unused columns are NULL.
DECODED = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("rtype", T.StringType()),  # meta|page|font|error
        T.StructField("page_idx", T.IntegerType()),
        # page: its content bytes, every scope it can reach (scope 0 is the
        # page's own) and the decoded content of every form they name
        T.StructField("data", T.BinaryType()),
        T.StructField("scopes", T.ArrayType(SCOPE_STRUCT)),
        T.StructField("forms", T.ArrayType(T.BinaryType())),
        # font: keyed by (page_idx, scope, font_name), carrying its
        # core/extract.py ``FontSpec``
        T.StructField("scope", T.IntegerType()),
        T.StructField("font_name", T.StringType()),
        T.StructField("tounicode", T.BinaryType()),
        T.StructField("base_encoding", T.StringType()),
        T.StructField(
            "differences",
            T.ArrayType(
                T.StructType(
                    [T.StructField("code", T.IntegerType()), T.StructField("glyph", T.StringType())]
                )
            ),
        ),
        T.StructField("version", T.StringType()),
        T.StructField("error_kind", T.StringType()),
        T.StructField("stage", T.StringType()),
        T.StructField("detail", T.StringType()),
        T.StructField("n_objects", T.IntegerType()),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("n_streams", T.IntegerType()),
    ]
)

# tokenize-stage output: the content interpreter's events in page order,
# forms executed in place, plus the errors it records
TOKENS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("page_idx", T.IntegerType()),
        T.StructField("ev_idx", T.IntegerType()),
        T.StructField("ev_type", T.StringType()),  # text | atext | media | error
        # text: the scope whose font ``font_name`` decodes it
        T.StructField("scope", T.IntegerType()),
        T.StructField("font_name", T.StringType()),
        # Tj bytes, or the ActualText string of an atext event
        T.StructField("operand", T.BinaryType()),
        # TJ strings, NULL at each kern that reads as a word break
        T.StructField("parts", T.ArrayType(T.BinaryType())),
        T.StructField("media_name", T.StringType()),
        T.StructField("error_kind", T.StringType()),
        T.StructField("stage", T.StringType()),
        T.StructField("detail", T.StringType()),
    ]
)

# classify-stage output: typed spans still carrying their ordering key
CLASSIFIED = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("page_idx", T.IntegerType()),
        T.StructField("ev_idx", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
    ]
)
