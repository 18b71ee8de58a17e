"""datamart_spark — a PySpark-native inverted-index + BM25 search engine.

A from-scratch rebuild of the profiling-plus-search core of
Kamesh-Mishra/datamart (NYU Auctus): the reference profiles tabular
datasets and delegates BM25 fulltext ranking to Elasticsearch 7.8.1
(reference: docker-compose.yml:6, analyzer coordinator/coordinator/
elasticsearch.yml:2-20).  Here the whole path — HTML→text extraction,
analysis, posting-list construction, compression, and top-k BM25
scoring — is expressed Spark-first: DataFrame programs for everything
Catalyst can plan, Arrow-vectorized pandas UDFs for the three genuinely
custom kernels (analyzer, varbyte codec, block-max WAND).

Layout:
    analyzer    — html_strip → UAX#29 tokenize → lowercase → Porter2
    corpus      — deterministic Common-Crawl-style synthetic corpus
    index/      — build doc_stats / term_stats / postings; resume, delete
    query/      — one batch planner + block-max WAND / positional kernels
    profiler/   — the offline admin-area gazetteer (suite admin_area_profile)
    operators/  — join containment and spatial ops the suite calls
    streaming/  — incremental ingest (Structured Streaming)
    suite/      — the oracle-gated query suite behind __spark_entry__.py
"""

__version__ = "0.1.0"
