"""kgspark — a from-scratch PySpark-native temporal knowledge-graph
construction and retrieval engine with the capabilities of
markalosey/graphiti (graphiti-core v0.11.6).

Blueprint: SURVEY.md at the repository root. Every operator cites the reference
file:line whose *semantics* it reproduces; the implementation is
idiomatic Spark DataFrame/SQL dataflow, not a port.

Layout
------
- ``kgspark.schemas``      — StructTypes for all graph tables (SURVEY §1.4)
- ``kgspark.synth``        — deterministic Common-Crawl-style pages generator
- ``kgspark.functions``    — text/date/embedding scalar machinery (E1-E7 support)
- ``kgspark.operators``    — extraction (E*), dedup (D*), temporal (T*), community (C*)
- ``kgspark.search``       — retrieval (Q1-Q15): BM25, cosine, BFS, rerankers
- ``kgspark.sources``      — graph-table store (parquet now, Iceberg-shaped API)
- ``kgspark.pipeline``     — end-to-end add_episode_bulk-equivalent batch job
- ``kgspark.datapipe``     — large-scale training-data ops (dedup/ANN/text QA/curation)
"""

__version__ = "0.1.0"

EMBEDDING_DIM = 64  # test-scale default; reference uses 1024 (embedder/client.py:22)
