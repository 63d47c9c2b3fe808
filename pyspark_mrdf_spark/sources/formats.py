"""Alternate interchange formats: ORC (columnar) and CSV (delimited).

Parquet is this engine's native storage, but a 100 TB estate is never
format-homogeneous — upstream warehouses hand over ORC, vendor feeds
and exports arrive as CSV. Both get the same discipline the JSONL
entry point (sources/jsonl.py) established:

* **Explicit schema, never inference.** Schema inference is an extra
  full scan at CSV/JSON scale and non-deterministic under dirty data;
  every reader here takes (or fixes) a schema up front, so the scan is
  single-pass and streaming-compatible.
* **PERMISSIVE corrupt capture for row formats.** Malformed CSV lines
  land in ``_corrupt_record`` for quarantine (reuse
  ``sources.jsonl.split_corrupt``) — crash and silent-drop are both
  wrong at crawl scale.
* **ORC keeps the columnar contract.** Spark's ORC reader supports
  the same vectorized batches, column pruning, and predicate pushdown
  as parquet — `tests/test_sources.py` asserts pruned output
  and pushed filters survive the format change, so a query family is
  storage-portable without plan regressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark_mrdf_spark.sources.jsonl import DOC_SCHEMA


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Columnar ORC sink (zlib default — ORC's own striping/stats give
    parquet-equivalent scan pruning)."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — schema comes from file metadata (self-describing,
    like parquet; no inference pass involved)."""
    return spark.read.orc(path)


def write_documents_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Headered, quoted CSV export of the documents shape. Documents
    contain commas/quotes/newlines freely — escaping is on the writer
    (Spark RFC-4180-quotes by default; multiline safety is the READER
    option below)."""
    df.write.mode(mode).option("header", "true").option("escape", '"').csv(path)


def read_documents_csv(spark: SparkSession, path: str) -> DataFrame:
    """Distributed CSV scan of the documents shape with corrupt-line
    capture — explicit schema, no inference pass.

    ``multiLine`` is OFF by default in Spark and stays off here:
    multiline CSV cannot be split at newlines, so one file = one task
    — the scale-killer. Documents with embedded newlines belong in
    parquet/ORC/JSONL; this reader is for the header-per-file exports
    warehouses actually emit."""
    return (
        spark.read.schema(DOC_SCHEMA)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("escape", '"')
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
