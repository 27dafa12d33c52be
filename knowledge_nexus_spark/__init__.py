"""knowledge_nexus_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch rebuild of the capabilities of Jallermax/knowledge-nexus
(reference at /root/reference, cited per-module as file:line) on idiomatic
Spark: DataFrame/SQL plans optimized by Catalyst, Arrow-vectorized pandas
UDFs for text-shaped work, explicit partitioning/skew handling for
web-scale corpora.

Layout:
  schema.py      — fixed StructType schemas (documents/nodes/triples/chunks)
  datagen.py     — deterministic synthetic interleaved-span corpus
  oracle.py      — pure-Python reference-semantics extractor (P/R denominator)
  functions/     — column expressions + vectorized UDFs (render, extract,
                   chunk, embed, ids, textstats)
  operators/     — composed DataFrame operators (graph ops, dedup,
                   similarity, connected components, entity linking)
  pipeline.py    — checkpointed multi-stage KG pipeline with metrics/resume
  storage/       — snapshot checkpoints + the bucketed MERGE
  streaming/     — incremental ingest (Structured Streaming)
"""

__version__ = "0.1.0"
