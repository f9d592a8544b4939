"""mcp_local_rag_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of shinpr/mcp-local-rag (reference studied
at /root/reference), re-expressed Spark-first.

The reference is a local RAG engine: ingest documents -> semantic chunks ->
embeddings -> hybrid vector+BM25 search with statistical result filtering,
over a single columnar ``chunks`` table. Here every stage is a
DataFrame -> DataFrame function so Catalyst/Tungsten pick the physical
strategy; Python appears only in Arrow-batched pandas UDFs for the
inherently sequential per-document algorithms (semantic chunking).

Layout:
  functions/  — column-expression library (vector math, text, paths)
  operators/  — relational/dataflow operators (search, bm25, sync, dedup…)
  sources/    — ingest sources and parsers
  chunking/   — sentence splitting + Max-Min semantic chunking
  plans/      — composed end-to-end pipelines
"""

__version__ = "0.1.0"
