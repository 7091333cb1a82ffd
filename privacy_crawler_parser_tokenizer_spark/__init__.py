"""PySpark-native privacy-policy crawl/parse/tokenize analytics engine.

A from-scratch, Spark-first rebuild of the capabilities of the reference
pipeline (rmjacobson/privacy-crawler-parser-tokenizer): a distributed
URL-frontier + fetch scheduler, HTML->span extraction, sentence
tokenization + quality rules, TF-IDF policy verification, corpus
statistics, and whole-document exact content dedup.  Media stays as
spans (``kind="media"`` with a ``media_ref``) inside the interleaved
text+media documents.

Layout:
  core/       pure-Python kernels, shared verbatim by the sequential
              oracle and the Arrow-batched pandas UDFs (pins semantics)
  functions/  Spark column expressions + vectorized pandas UDFs
  operators/  the frontier's Bloom URL-seen pre-filter
  sources/    table registry, synthetic fixture generators, warehouse
  plans/      frontier crawl scheduler with its robots gate, plan
              introspection helpers
  streaming/  Structured Streaming over documents and the crawl_log
"""

__version__ = "0.1.0"
