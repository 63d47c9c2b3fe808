"""Streaming sinks beyond append: ``foreachBatch`` upsert.

Append-mode file sinks can only add rows; aggregations that REVISE
previous results (per-user running totals, dimension tables fed by a
stream) need a MERGE-style sink. ``foreachBatch`` hands each
micro-batch to ordinary batch code, so the existing
``io.upsert_parquet`` primitive (anti-join + union + rewrite — what
Delta/Iceberg MERGE does per file group) becomes the streaming upsert,
with the checkpoint giving exactly-once batch ids.

All filesystem operations go through the Hadoop FileSystem API of the
dataset's OWN path (``io._hadoop_fs``), never ``os.path``: a
driver-local ``os.path.exists`` on an ``hdfs://`` or ``s3a://`` path
is always False, which would silently route every batch into the
initial-overwrite branch and replace the dataset with that one
micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyspark_mrdf_spark.io import _hadoop_fs


def upsert_stream_to_parquet(
    updates: DataFrame,
    key: str,
    base_path: str,
    checkpoint: str,
    query_name: str = "upsert_sink",
):
    """Run a streaming query that upserts each micro-batch into the
    parquet dataset at ``base_path`` by ``key`` (latest batch wins).

    Each batch rewrites via anti-join + union into a temp dir, then
    swaps it in with two FileSystem renames (base → .old, tmp → base).
    On HDFS each rename is atomic, so a concurrent reader sees the old
    or the new dataset, never a half-written one; the dataset is never
    overwritten in place while being read (parquet reading its own
    input). On object stores rename is a non-atomic copy — correct but
    not isolated; at production scale point this at a table format
    (Delta/Iceberg ``MERGE INTO``) where the same logic is
    file-group-local and the swap is a metadata commit."""
    spark = updates.sparkSession

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        fs, base = _hadoop_fs(spark, base_path)
        tmp_path = base_path.rstrip("/") + "._upsert_tmp"
        old_path = base_path.rstrip("/") + "._upsert_old"
        _, tmp = _hadoop_fs(spark, tmp_path)
        _, old = _hadoop_fs(spark, old_path)
        # crash recovery BEFORE the existence check: a previous run that
        # died between the two swap renames leaves the dataset parked at
        # .old and nothing at base — without this, the batch would take
        # the initial-overwrite branch and silently replace the dataset.
        # Restoring .old (rather than completing .tmp) is always correct:
        # the interrupted batch never committed its checkpoint, so the
        # stream re-runs it against the restored base.
        if not fs.exists(base) and fs.exists(old):
            if not fs.rename(old, base):
                raise IOError(
                    f"upsert recovery: rename {old_path} -> {base_path} failed"
                )
        fs.delete(tmp, True)  # stale tmp from any interrupted attempt
        fs.delete(old, True)
        if not fs.exists(base) or len(fs.listStatus(base)) == 0:
            batch_df.write.mode("overwrite").parquet(base_path)
            return
        base_df = spark.read.parquet(base_path)
        merged = base_df.join(
            batch_df.select(key).distinct(), key, "left_anti"
        ).unionByName(batch_df)
        merged.write.mode("overwrite").parquet(tmp_path)
        if not fs.rename(base, old):
            raise IOError(f"upsert swap: rename {base_path} -> {old_path} failed")
        if not fs.rename(tmp, base):
            # roll the old data back before failing: never leave the
            # dataset path empty
            fs.rename(old, base)
            raise IOError(f"upsert swap: rename {tmp_path} -> {base_path} failed")
        fs.delete(old, True)

    return (
        updates.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
