"""Corpus-curation operators on Spark DataFrames: dedup, similarity,
text statistics, sampling, packing and chunking, BPE.

These are general data-preparation operators, not part of the knowledge
graph engine: nothing in ``knowledge_graph_builder_spark`` imports them.
They depend on the engine only for
``operators.canonicalize.connected_components``.
"""
