"""Training-data-pipeline operators over document/embedding tables.

These are the large-scale data-curation operations a 100 TB corpus pipeline
needs alongside extraction: deduplication (exact, MinHash-LSH, SimHash,
n-gram Jaccard, duplicate-span detection AND removal), text quality /
language-ID / token statistics, document fingerprinting, approximate
nearest neighbors over embeddings, the post-dedup curation pass
(decontamination, PII scrub, chunking, canonical selection, domain mix,
rarity scoring), and the multimodal metadata/decode path.

Everything is expressed in built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen'd) except the media decode stub, which is the one
genuinely-Python kernel (mapInArrow, Arrow batches).  Every operator is
deterministic (md5-derived hashing, no RNG) so a DuckDB oracle can verify
values bit-for-bit.
"""
