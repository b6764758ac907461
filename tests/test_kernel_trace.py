"""The benchmark's kernel trace wraps names in ``core.extract``: every one
of them must still exist and be reached by ``extract_spans``, or the
per-layer ledger silently reads 0 for that phase."""

from perfbench import ktrace
from pdfparser_spark.core import extract, objects
from pdfparser_spark.synth import binary_rules, build_document, build_document_binary

TEXT = "alpha beta gamma delta epsilon zeta eta theta"


def test_kernel_trace_records_every_phase():
    assert binary_rules(0)["encrypted"]
    docs = [build_document(3, TEXT)["bytes"], build_document_binary(0, TEXT)["bytes"]]
    tracer = ktrace.Tracer(extract, objects)
    labels = []
    results = []
    with tracer.installed():
        for data in docs:
            first = len(tracer.spans)
            tracer.begin_doc()
            results.append(extract.extract_spans(data))
            tracer.end_doc()
            labels.append({name for name, *_ in tracer.spans[first:]})
    assert tracer.missing == []
    assert all(r["spans"] and not r["errors"] for r in results)
    assert tracer.counts["encrypted_docs"] == 1
    for doc_labels in labels:
        assert set(ktrace.PHASES.values()) <= doc_labels
    assert tracer.counts["objects_reached"] > 0
