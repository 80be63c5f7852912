"""EXT operators (north star BASELINE.json:6): the LLM-training-data
pipeline surface — dedup, similarity search, text analysis, multimodal
columns — designed for 100 TB.

This package is the parameterized library: similarity search (exact and
IVF top-k, banded hyperplane LSH over quantized embeddings), banded
MinHash/SimHash dedup with bounded-output caps and connected components,
text features, and multimodal decode (pandas-UDF codecs). The registry
entries in glue_etl_framework_spark.queries pin its parameters for their
DuckDB oracles — ext.similarity is called by its entries directly — and
the rest is verified by pytest metamorphic/recall tests.
"""
