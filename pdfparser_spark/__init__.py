"""pdfparser_spark — a PySpark-native interleaved-document extraction engine.

Re-expresses the capabilities of the reference parser (rbeard0330/PdfParser,
a single-threaded Rust PDF parser) as a distributed, Arrow-vectorized Spark
pipeline:

    read(span table) -> decode -> tokenize -> classify -> assemble -> spans out

Unit of parallelism is the *document*; within-document parsing is a
sequential, spec-correct state machine executed inside ``mapInArrow`` over
Arrow record batches (never per-row Python UDFs).  Across documents,
everything is DataFrame algebra: reference resolution is a join, page
ordering is a window, metrics are aggregations.

See SURVEY.md for the operator-by-operator mapping to the reference
(file:line citations live in each module's docstring).
"""

__version__ = "0.1.0"
