"""Persisted dedup index: train-once / ingest-many for incremental
dedup — the dedup twin of the persisted ANN index
(``operators/quantize.py`` write/read_index), sharing its directory
rules (``pyspark_mrdf_spark/io.py``).

A production 100 TB corpus runs dedup as a DAILY INGEST loop: every
batch is checked against the accumulated corpus, survivors are
admitted, and the corpus-side state grows. Recomputing that state per
batch (re-fingerprinting and re-shingling 100 TB of text) would dwarf
the batch itself, so deployments store the three derived tables and
never touch corpus text again:

  fps/       (doc_id, fp)            16 B md5 per doc — the exact tier
  buckets/   (doc_id, band, bucket)  bands rows per doc, partitioned
                                     BY BAND — the LSH candidate tier
  postings/  (doc_id, shingle)       the verify tier (candidate-pruned
                                     by a semi-join before any
                                     materialization, so serving work
                                     is batch-sized, never corpus-sized)
  params.parquet                     (num_hashes, bands, rows_per_band,
                                     n) — FROZEN at build time

The banding parameters are part of the index, not of the query: a
batch encoded with different (num_hashes, bands, rows_per_band, n)
probes garbage buckets, so ``append_dedup_index`` and the two serving
entry points always re-derive batch-side state from the STORED params
(the quantizer-freezing discipline of ``quantize.append_index``).

Scale notes: postings dominate stored bytes (≈ one row per token).
They store raw shingle strings here for bit-compatibility with the
inline ``near_dedup_against`` oracle; at deployment scale store
``md5(shingle)`` on both sides instead — the verify join only tests
equality, and 16-byte keys cut posting bytes by the mean shingle
length. The reference engine has no dedup counterpart (this family is
engine-native scope beyond `/root/reference`; see SURVEY.md §2B).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_mrdf_spark.functions.text import fingerprint
from pyspark_mrdf_spark.io import read_params_file, read_stream_partitions, write_params_file
from pyspark_mrdf_spark.operators.dedup import (
    lsh_band_buckets,
    minhash_signatures,
    near_dedup_against,
    shingle_table,
)

DEDUP_PARAM_NAMES = ("num_hashes", "bands", "rows_per_band", "n")


@dataclass(frozen=True)
class DedupIndex:
    """A loaded dedup index: frozen banding params + the three stored
    tables (all lazy scans of the index directory)."""

    params: dict[str, int]
    fps: DataFrame
    buckets: DataFrame
    postings: DataFrame


def _index_state(
    docs: DataFrame,
    num_hashes: int,
    bands: int,
    rows_per_band: int,
    n: int,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(fps, buckets, postings) for ``docs`` — the single encode used
    by both the initial build and every append, so a grown index is
    row-identical to a rebuilt one by construction.

    r14: signatures and postings each come from their own mapInPandas
    shingle kernel (guide §4.2) — the signature side no longer pays an
    explode + corpus-wide groupBy shuffle, and the kernel passes are an
    order of magnitude cheaper than the former Catalyst higher-order
    chain, so sharing one materialized posting table between them is
    no longer worth the checkpoint."""
    fps = docs.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    sig = minhash_signatures(docs, num_hashes, n, id_col, text_col)
    buckets = lsh_band_buckets(sig, bands, rows_per_band, id_col)
    postings = shingle_table(docs, n, id_col, text_col)
    return fps, buckets, postings


def _write_dedup_params(spark: SparkSession, path: str, params: dict[str, int]) -> None:
    import pyarrow as pa

    tbl = pa.table(
        {
            "name": list(DEDUP_PARAM_NAMES),
            "value": [int(params[k]) for k in DEDUP_PARAM_NAMES],
        }
    )
    write_params_file(spark, path, tbl)


def _read_dedup_params(spark: SparkSession, path: str) -> dict[str, int]:
    tbl = read_params_file(spark, path).to_pydict()
    return dict(zip(tbl["name"], (int(v) for v in tbl["value"])))


def write_dedup_index(
    corpus: DataFrame,
    path: str,
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Build and persist the dedup index of ``corpus`` at ``path``.

    One pass over corpus text (fingerprint + shingle + minhash are all
    per-doc; the only shuffle is the signature groupBy), written by
    Spark so the index build parallelizes like any job. Buckets are
    partitioned BY BAND: band count is tiny and fixed, and a band-
    sliced probe (or a band-by-band rebuild after a param sweep) prunes
    at the storage layer."""
    params = {
        "num_hashes": num_hashes,
        "bands": bands,
        "rows_per_band": rows_per_band,
        "n": n,
    }
    fps, buckets, postings = _index_state(
        corpus, num_hashes, bands, rows_per_band, n, id_col, text_col
    )
    _write_dedup_params(corpus.sparkSession, path, params)
    fps.write.mode("overwrite").parquet(os.path.join(path, "fps"))
    # r15 (guide §6 file sizing): the bucket rows come out of the
    # minhash kernel's partitioning — writing them partitionBy("band")
    # from T upstream tasks lands T×bands files (measured at sf0.1:
    # 128 files for 0.86 MB — q123's stats scan and every serve paid
    # ~0.3 s of open/list overhead). REBALANCE by band lets AQE size
    # the write partitions (coalesce locally, split at scale), and
    # clustering by band is exactly the layout band-sliced probes
    # want. Buckets are metadata-sized (bands rows/doc, ~50 B/row), so
    # the extra shuffle is cheap at any scale — postings (token-sized)
    # deliberately do NOT get this: shuffling them would move corpus-
    # scale bytes to fix a local file-count nit.
    buckets.hint("rebalance", "band").write.mode("overwrite").partitionBy(
        "band"
    ).parquet(os.path.join(path, "buckets"))
    postings.write.mode("overwrite").parquet(os.path.join(path, "postings"))


def read_dedup_index(
    spark: SparkSession, path: str, _exclude_stream_batch: int | None = None
) -> DedupIndex:
    """Load a persisted dedup index — lazy scans only; nothing
    materializes until a serving query prunes it.

    Tables are the union of the base build (+ any batch
    ``append_dedup_index`` rows, which land in the same directories)
    and any partitions a running ``near_ingest_dedup_stream`` has
    committed (``stream_<table>/batch=<id>/``) — a streamed-into index
    serves identically to one grown by batch appends (same frozen
    params either way). ``_exclude_stream_batch`` is the stream's
    replay-safety hook: a re-executed micro-batch must not dedupe
    against its own crashed-attempt partitions (the self-exclusion
    rule of ``streaming/ingest.py``)."""

    def _with_stream(sub: str) -> DataFrame:
        df = spark.read.parquet(os.path.join(path, sub))
        s = read_stream_partitions(
            spark, os.path.join(path, f"stream_{sub}"), _exclude_stream_batch
        )
        return df if s is None else df.unionByName(s.select(*df.columns))

    return DedupIndex(
        params=_read_dedup_params(spark, path),
        fps=_with_stream("fps"),
        buckets=_with_stream("buckets"),
        postings=_with_stream("postings"),
    )


def dedup_against_index(
    new_docs: DataFrame,
    index: DedupIndex,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact incremental dedup served from the stored fingerprint set:
    rows of ``new_docs`` whose md5 fingerprint is not in the index (and
    not duplicated within the batch — lowest id wins). Identical
    verdicts to ``dedup_against(new_docs, corpus)`` with the corpus the
    index was built from; the corpus side ships 16-byte keys only."""
    corpus_fp = index.fps.select("fp").distinct()
    batch = new_docs.withColumn("fp", fingerprint(text_col))
    in_batch_first = batch.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return (
        batch.join(in_batch_first, [id_col, "fp"], "left_semi")
        .join(corpus_fp, "fp", "left_anti")
        .drop("fp")
    )


def near_dedup_against_index(
    new_docs: DataFrame,
    index: DedupIndex,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_buckets: DataFrame | None = None,
    batch_postings: DataFrame | None = None,
) -> DataFrame:
    """Near-dup incremental dedup served fully from the stored index:
    LSH candidates against ``buckets/``, exact Jaccard verify against
    candidate-pruned ``postings/`` — corpus TEXT is never read. Batch-
    side encoding uses the index's frozen params, so a caller cannot
    probe with mismatched banding. ``batch_buckets``/``batch_postings``
    pass an encode of ``new_docs`` the caller already made with those
    params (``_index_state``) through to ``near_dedup_against``."""
    p = index.params
    return near_dedup_against(
        new_docs,
        corpus=None,
        threshold=threshold,
        num_hashes=p["num_hashes"],
        bands=p["bands"],
        rows_per_band=p["rows_per_band"],
        n=p["n"],
        id_col=id_col,
        text_col=text_col,
        corpus_buckets=index.buckets,
        corpus_postings=index.postings,
        batch_buckets=batch_buckets,
        batch_postings=batch_postings,
    )


def append_dedup_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Admit ``new_docs`` (typically the SURVIVORS of a dedup pass)
    into the stored index: encode with the FROZEN params and append
    their fps/buckets/postings. Only new-doc rows are written — the
    ingest loop's per-day cost is batch-sized regardless of corpus
    size. A grown index is row-identical to one rebuilt from the
    doc union (same ``_index_state`` encode; equivalence-tested)."""
    p = _read_dedup_params(spark, path)
    fps, buckets, postings = _index_state(
        new_docs, p["num_hashes"], p["bands"], p["rows_per_band"], p["n"], id_col, text_col
    )
    fps.write.mode("append").parquet(os.path.join(path, "fps"))
    # rebalance before the append for the same §6 reason as the build:
    # appends are batch-sized, and without it every daily append adds
    # tasks×bands more tiny bucket files to the serving scan.
    buckets.hint("rebalance", "band").write.mode("append").partitionBy(
        "band"
    ).parquet(os.path.join(path, "buckets"))
    postings.write.mode("append").parquet(os.path.join(path, "postings"))


def dedup_index_stats(index: DedupIndex) -> DataFrame:
    """Per-band occupancy stats of the stored LSH bucket table — THE
    health monitor of a deployed dedup index (q105's occupancy monitor
    is the ANN twin): (band, n_docs, n_buckets, max_bucket,
    hot_buckets, cand_pairs, occupancy_e6), all exact integers.

    ``cand_pairs`` = Σ sz·(sz−1)/2 over a band's buckets is the number
    of candidate pairs that band generates — the quantity that
    explodes when banding saturates (the q79 16-bit degeneration:
    bucket space too small → every bucket hot → candidates approach
    all-pairs). A deployment watches cand_pairs/n_docs and max_bucket
    per band and either widens the bucket space, adds a ``max_df``-style
    hot-bucket stoplist, or re-bands when they drift. Reads ONLY the
    stored bucket table (never text or postings); two equi-key
    aggregations, no joins."""
    sizes = index.buckets.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        sizes.groupBy("band")
        .agg(
            F.sum("sz").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("sz").cast("bigint").alias("max_bucket"),
            F.sum(F.when(F.col("sz") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("hot_buckets"),
            F.sum(F.expr("sz * (sz - 1) DIV 2")).cast("bigint").alias("cand_pairs"),
        )
        .select(
            F.col("band").cast("bigint").alias("band"),
            "n_docs",
            "n_buckets",
            "max_bucket",
            "hot_buckets",
            "cand_pairs",
            F.expr("n_docs * 1000000 DIV n_buckets").alias("occupancy_e6"),
        )
    )
