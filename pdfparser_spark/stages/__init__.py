"""The four pipeline stages (BASELINE.json north star):

    decode -> tokenize -> classify -> assemble

Each stage is a DataFrame -> DataFrame function with a checkpointable
boundary (pipeline.py persists each output).  Sequential per-document work
happens only inside ``mapInArrow`` kernels, each running the fused
kernel's own code (core/extract.py); *between* stages everything is Spark
algebra — font binding is one join, ordering is one ordered aggregation.
"""

from .assemble import assemble, assemble_line_boxes, assemble_paragraphs, flatten_spans, hyphenate_words
from .classify import classify
from .decode import decode
from .fused import (
    extract_advance_fused,
    extract_word_boxes_fused,
    extract_hocr_roundtrip_fused,
    extract_attachments_fused,
    extract_columns_fused,
    extract_scanned_fused,
    extract_tagged_fused,
    extract_forms_fused,
    extract_fill_form_fused,
    extract_fused,
    extract_graphics_fused,
    extract_shadings_fused,
    extract_images_fused,
    extract_inline_images_fused,
    extract_repair_roundtrip_fused,
    extract_incremental_redact_fused,
    extract_labels_fused,
    extract_markup_fused,
    extract_revisions_fused,
    extract_redact_fused,
    extract_apply_redactions_fused,
    extract_merge_pairs_fused,
    extract_portfolio_fused,
    extract_encrypt_rewrite_fused,
    extract_sign_roundtrip_fused,
    extract_font_inventory_fused,
    extract_with_headers_fused,
    extract_rewrite_fused,
    extract_tagged_rewrite_fused,
    extract_tagged_fixpoint_fused,
    extract_linearized_roundtrip_fused,
    extract_signatures_fused,
    extract_xmp_fused,
    extract_layout_fused,
    extract_layout_rewrite_fused,
    extract_layout_sized_fused,
    extract_links_fused,
    extract_meta_fused,
    extract_outlines_fused,
)
from .synthesize import synthesize_corpus
from .tokenize import tokenize

__all__ = ["assemble", "assemble_paragraphs", "assemble_line_boxes", "classify", "decode", "extract_advance_fused", "extract_word_boxes_fused", "extract_hocr_roundtrip_fused", "extract_columns_fused", "extract_tagged_fused", "extract_scanned_fused", "extract_fused", "extract_graphics_fused", "extract_shadings_fused", "extract_images_fused", "extract_inline_images_fused", "extract_repair_roundtrip_fused", "extract_incremental_redact_fused", "extract_labels_fused", "extract_signatures_fused", "extract_markup_fused", "extract_xmp_fused", "extract_apply_redactions_fused", "extract_merge_pairs_fused", "extract_portfolio_fused", "extract_encrypt_rewrite_fused", "extract_sign_roundtrip_fused", "extract_font_inventory_fused", "extract_with_headers_fused", "extract_rewrite_fused", "extract_tagged_rewrite_fused", "extract_tagged_fixpoint_fused", "extract_linearized_roundtrip_fused", "extract_redact_fused", "extract_revisions_fused", "extract_layout_fused", "extract_layout_rewrite_fused", "extract_layout_sized_fused", "extract_meta_fused", "extract_outlines_fused", "extract_links_fused", "extract_forms_fused", "extract_fill_form_fused", "extract_attachments_fused", "flatten_spans", "hyphenate_words", "synthesize_corpus", "tokenize"]
