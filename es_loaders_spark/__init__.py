"""es_loaders_spark — a PySpark-native full-text index build + BM25 query engine.

Re-expresses the capabilities of the reference repo ``shahcompbio/es-loaders``
(a pandas → Elasticsearch ETL; see SURVEY.md) as an idiomatic Spark engine:

- ``corpus``     deterministic Common-Crawl-style web-pages synthesizer
- ``extract``    byte-identical html → text extraction (vectorized pandas UDF)
- ``analyze``    Lucene-StandardAnalyzer-compatible tokenizer (JVM + Arrow paths)
- ``postings``   long-format posting lists + corpus statistics
- ``bm25``       exact BM25 top-k scorer as a Catalyst join/agg plan
- ``codec``      delta+varint posting-block codec with block-max metadata (numpy)
- ``build``      partition-local index build with lineage/metrics checkpointing
- ``merge``      global sort-merge of postings with hot-term salting
- ``wand``       block-max WAND top-k query engine over the compressed index
- ``phrase``     index-backed positional phrase queries
- ``resources``  the engine's cross-call Spark caches and aux thread pool
- ``deletes``    tombstone deletes, live-docs filtering, compaction
- ``dsl``        ES Query-DSL adapter (the reference's verbatim JSON bodies)
- ``catalog``    Iceberg-shaped manifest catalog (atomic snapshot commits)
- ``sources``    HTTP CSV / REST-JSON driver fetch → distributed read; glob scans
- ``queries``    the reference's ETL/aggregation operator surface (SURVEY §2)
- ``dedup``      exact / MinHash-LSH / SimHash / n-gram-Jaccard deduplication
- ``similarity`` brute-force, LSH-bucketed and IVF cosine ANN over embeddings
- ``textstats``  language-ID, quality scoring, token counting, fingerprinting
- ``jpeg``       baseline JPEG codec (pure numpy/stdlib)
- ``multimodal`` binary media columns; real PPM/PNG/JPEG/WAV codecs (video stubbed)
- ``streaming``  watermarked windowed aggs; exactly-once index appends
"""

__version__ = "0.1.0"

K_MAX = 50_000  # reference's max_result_window (mira/constants.py:24)
