"""Document-curation operators over a ``documents`` table (doc_id,
text): exact and substring-level deduplication (``dedup``) and text
statistics and sketches (``textstats``). No KG stage, driver query or
tool reads them; hashing helpers live in ``openie_spark.functions``.
"""
