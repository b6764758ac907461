"""Every fused extractor against its DuckDB oracle: one ``queries()`` entry
per public ``extract_*_fused`` function, compared at the test scale by the
same type-strict check ``scripts/check_oracles.py`` runs over all queries."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from pdfparser_spark.stages import fused
from scripts.check_oracles import compare, duckdb_views

# extractor -> the oracle-checked query that runs it
QUERY_OF = {
    "extract_advance_fused": "extract_layout_advance",
    "extract_apply_redactions_fused": "pdf_apply_redactions",
    "extract_attachments_fused": "doc_attachments",
    "extract_columns_fused": "extract_columns",
    "extract_encrypt_rewrite_fused": "pdf_encrypt_roundtrip",
    "extract_fill_form_fused": "pdf_fill_form_roundtrip",
    "extract_font_inventory_fused": "doc_embedded_fonts",
    "extract_forms_fused": "doc_form_fields",
    "extract_fused": "extract_spans_fused",
    "extract_graphics_fused": "doc_graphics",
    "extract_hocr_roundtrip_fused": "layout_hocr_roundtrip",
    "extract_images_fused": "extract_embedded_images",
    "extract_incremental_redact_fused": "pdf_incremental_redact",
    "extract_inline_images_fused": "inline_image_decode",
    "extract_labels_fused": "doc_page_labels",
    "extract_layout_fused": "extract_layout",
    "extract_layout_rewrite_fused": "pdf_layout_rewrite",
    "extract_layout_sized_fused": "doc_headings",
    "extract_linearized_roundtrip_fused": "pdf_linearized_roundtrip",
    "extract_links_fused": "doc_links",
    "extract_markup_fused": "doc_markup_annots",
    "extract_merge_pairs_fused": "pdf_merge_pairs",
    "extract_meta_fused": "doc_metadata",
    "extract_outlines_fused": "doc_outline_tree",
    "extract_portfolio_fused": "pdf_portfolio_roundtrip",
    "extract_redact_fused": "pdf_redact_roundtrip",
    "extract_repair_roundtrip_fused": "pdf_repair_roundtrip",
    "extract_revisions_fused": "doc_revisions",
    "extract_rewrite_fused": "pdf_rewrite_roundtrip",
    "extract_scanned_fused": "extract_scanned_ccitt",
    "extract_shadings_fused": "doc_shadings",
    "extract_sign_roundtrip_fused": "pdf_sign_roundtrip",
    "extract_signatures_fused": "doc_signatures",
    "extract_tagged_fixpoint_fused": "pdf_tagged_fixpoint",
    "extract_tagged_fused": "extract_tagged_order",
    "extract_tagged_rewrite_fused": "pdf_tagged_rewrite",
    "extract_with_headers_fused": "layout_page_furniture",
    "extract_word_boxes_fused": "extract_word_boxes",
    "extract_xmp_fused": "doc_xmp_metadata",
}


def test_every_fused_extractor_has_an_oracle_query():
    public = {n for n in dir(fused) if n.startswith("extract_") and n.endswith("_fused")}
    assert public == set(QUERY_OF)
    assert set(QUERY_OF.values()) <= set(entrymod.oracle_sql())


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb_views(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="module")
def oracles():
    return entrymod.oracle_sql()


@pytest.mark.parametrize("extractor", sorted(QUERY_OF))
def test_fused_extractor_matches_oracle(spark, sf_dir, duck, oracles, extractor):
    name = QUERY_OF[extractor]
    ok, verdict = compare(spark, duck, sf_dir, name, entrymod.queries()[name], oracles[name])
    assert ok, verdict


# queries whose kernels run through ``runner.map_rows`` outside the fused
# extractors: media, video, audio, DOM and archive sources
MAP_ROWS_QUERIES = [
    "media_jpx_meta",
    "media_jpx_decode",
    "media_exif",
    "media_resize_real",
    "video_metadata",
    "audio_features",
    "dom_main_content",
    "tar_pdf_extract",
    "zip_pdf_extract",
]


@pytest.mark.parametrize("name", MAP_ROWS_QUERIES)
def test_map_rows_query_matches_oracle(spark, sf_dir, duck, oracles, name):
    ok, verdict = compare(spark, duck, sf_dir, name, entrymod.queries()[name], oracles[name])
    assert ok, verdict
    # "<name>: <n> rows": an empty result would pass against an empty oracle
    assert int(verdict.split()[-2]) > 0, verdict
