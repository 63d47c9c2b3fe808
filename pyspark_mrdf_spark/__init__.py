"""pyspark_mrdf_spark — a PySpark-native analytics engine.

A from-scratch, DataFrame-first engine with the query and data-processing
capabilities of the reference (emull8r/PySpark-MRDF — an RDD-based
approximate k-NN graph builder), extended into a general large-scale
training-data pipeline engine: relational queries, vector similarity
search (exact + approximate MRDF/NN-Descent k-NN graphs), deduplication
(exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding-cosine),
text analysis, and multimodal column plumbing.

Design rules (see SURVEY.md §2B/§4):
 - public surface is DataFrames with explicit schemas; no RDDs
 - built-in ``pyspark.sql.functions`` first; Arrow-batched pandas UDFs
   only for vector math; no row-at-a-time Python UDFs
 - every relational operator is DuckDB-oracle-checkable
 - iterative algorithms are driver loops over DataFrame transformations
   with lineage cut by ``operators.util.checkpoint`` — never
   ``collect``/``parallelize`` round-trips
"""

from pyspark_mrdf_spark.session import get_spark
from pyspark_mrdf_spark.io import load_table, load_tables, TABLES

__all__ = ["get_spark", "load_table", "load_tables", "TABLES"]
__version__ = "0.1.0"
