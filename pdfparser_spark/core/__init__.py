"""Pure-Python/numpy document-parse kernel.

Everything in this subpackage is Spark-free and runs *inside* Arrow-batch
UDFs (``mapInArrow``).  It is sequential per document and vectorized across
the documents of a batch — mirroring the reference's single-threaded parse
(reference: src/pdf_doc/pdf_file/pdf_file.rs) while keeping the distributed
engine's unit of parallelism at the document level.
"""
