"""Error taxonomy mirroring the reference's ``error_chain`` setup.

Reference: /root/reference/src/main.rs:12-48 defines UnavailableType,
FilterError, ParsingError, ReferenceError, TestingError, DocTreeError.

In the distributed pipeline these never become task failures: in lenient
("stoic", reference pdf_file.rs:879-889) mode they are collected as
``(doc_id, error_kind, stage, detail)`` rows feeding the metrics table; in
strict ("sensitive", reference pdf_file.rs:858-877) mode a document with any
error yields an empty span list plus its error rows.
"""

from __future__ import annotations

PARSING_ERROR = "ParsingError"
FILTER_ERROR = "FilterError"
REFERENCE_ERROR = "ReferenceError"
UNAVAILABLE_TYPE = "UnavailableType"
DOC_TREE_ERROR = "DocTreeError"


class PdfError(Exception):
    """Base parse error carrying the taxonomy kind and pipeline stage."""

    kind = PARSING_ERROR
    stage = "tokenize"

    def __init__(self, message: str, kind: str | None = None, stage: str | None = None):
        super().__init__(message)
        if kind is not None:
            self.kind = kind
        if stage is not None:
            self.stage = stage


class ParsingError(PdfError):
    kind = PARSING_ERROR
    stage = "tokenize"


class FilterError(PdfError):
    kind = FILTER_ERROR
    stage = "decode"


class DocTreeError(PdfError):
    kind = DOC_TREE_ERROR
    stage = "assemble"
