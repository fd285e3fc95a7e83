"""Document-curation operators over a ``documents`` table (doc_id,
text): exact and substring-level deduplication, benchmark
decontamination, corpus-quality signals and text statistics. No KG
stage reads them; hashing helpers live in ``openie_spark.functions``.
"""
