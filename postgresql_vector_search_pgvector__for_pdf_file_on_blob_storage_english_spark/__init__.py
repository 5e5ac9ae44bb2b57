"""PySpark-native engine with the query & data-processing capabilities
of the reference RAG pipeline
(yoshioterada/PostgreSQL-Vector-Search-pgvector--for-PDF-file-on-Blob-Storage-english),
re-expressed Spark-first: DataFrame/SQL plans, Catalyst optimization,
higher-order-function vector math, Arrow-batched UDFs only where built-ins
can't express the semantics.

Subpackages
-----------
Each ``__init__`` but ``queries`` imports nothing: import the module
you use.

functions  : scalar/array expression builders (vector distances, text
             normalization and chunking, embedding, portable hashing,
             PII and unicode transforms).
operators  : relational/dataflow operators (exact KNN top-k, batched KNN
             join, dedup family, ANN, status state machine, text stats).
sources    : binary/PDF/blob/multimodal ingestion sources.
plans      : physical-plan introspection for plan-shape tests.
streaming  : Structured Streaming variants of the ingest pipeline.
queries    : the (PySpark callable, DuckDB oracle SQL) registry.
session    : the SparkSession factory (``session.get_spark``).
"""
