"""Shared plan-shape helpers for operators and algorithms: the input
spread, the engine's one lineage-cut policy (``checkpoint``), its one
top-k merge (``topk_merge``) and the deterministic training sample.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RELIABLE_CHECKPOINT_CONF = "spark.graft.checkpoint.reliable"


def spread(df: DataFrame) -> DataFrame:
    """Repartition a (possibly single-file) input across the cluster
    before per-document expression work: shingling/hashing/tokenizing
    are expensive per row, and a one-file table would run them all in
    one task.

    Scale guard (r14, guide §2.4): when the input already has at least
    cluster-parallelism partitions, the repartition is a no-op win
    locally but a FULL SHUFFLE OF THE CORPUS TEXT at 100 TB (every
    keyless repartition also pays a local sort, SPARK-23207). Only
    spread when the scan is genuinely under-partitioned — the
    single-file test-input artifact this helper exists for.

    The partition count comes from ``df.rdd.getNumPartitions()``. On a
    scan or a cut frame (``checkpoint``) that is metadata. On a plan with
    exchanges it executes them: adaptive execution must run the shuffle
    stages to know the final partitioning, so each call runs those
    stages as jobs of their own, and the kernel that follows runs them
    again. Call it on scans or cut frames."""
    cur = df.rdd.getNumPartitions()
    n = df.sparkSession.sparkContext.defaultParallelism
    if cur >= n:
        return df
    return df.repartition(n)


def checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage: the engine's one checkpoint rule. Every
    lineage cut in the package goes through here, so one conf decides
    where every cut's blocks live.

    Flag off (the default), ``df.localCheckpoint(eager=eager)``: blocks
    stay on the executors that computed them, unreplicated, at zero
    extra I/O. Losing an executor then fails the job, because the
    truncated lineage cannot recompute the lost partitions.
    ``eager=True`` materializes now, in a job of its own;
    ``eager=False`` defers it to the first action that reads the
    result. Flag on,

        spark.conf.set("spark.graft.checkpoint.reliable", "true")
        spark.sparkContext.setCheckpointDir("hdfs://.../ckpt")

    gives ``df.checkpoint(eager=True)``: blocks are written to the
    checkpoint dir on fault-tolerant storage and survive executor
    loss, at the cost of one write and one read of ``df``. A reliable
    cut is always eager, whatever ``eager`` says: a lazy one would run
    ``df``'s lineage twice (in the first action, then again in the job
    that writes the files), an eager one runs it once. The files are
    removed once the result is unreachable when the session sets
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` (``get_spark``
    does). The conf is read on every call, so flipping it at runtime
    takes effect at the next cut."""
    if df.sparkSession.conf.get(RELIABLE_CHECKPOINT_CONF, "false") == "true":
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)


def topk_merge(cand: DataFrame, k: int, dist: str = "dist_sq") -> DataFrame:
    """The ``k`` nearest per src by (``dist``, dst) — ties to the lower
    dst — as (src, dst, ``dist``, rnk int), rnk 1..≤k: the engine's one
    Spark merge of per-block top-k candidates (the NumPy side is
    ``functions.vector.l2_block_topk``). Local top-k by (dist, dst) is
    associative, so merging per-block candidates this way is exact for
    any blocking, and the window's input is output-sized. ``dist`` names
    the distance column: ``dist_sq`` for exact L2, ``dist`` for
    quantize's code-domain distances. Candidates must hold each (src,
    dst) pair at most once; callers whose blocks can repeat a pair
    dedup it first."""
    w = Window.partitionBy("src").orderBy(dist, "dst")
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("src", "dst", dist, F.col("rnk").cast("int").alias("rnk"))
    )


def md5_sample(
    df: DataFrame, sample_size: int, seed: int, id_col: str, vec_col: str, op: str
) -> np.ndarray:
    """The engine's deterministic training sample, as a float64 matrix:
    the ``sample_size`` rows with the smallest md5(seed:id) — same rows
    on any engine and any partitioning, so an oracle can replay the
    sample in SQL. The collect is bounded by construction
    (sample_size·d floats — the legitimate sample-to-driver training
    pattern). Raises ``ValueError("<op>: empty corpus …")`` when ``df``
    has no rows."""
    h = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    pdf = (
        df.select(F.col(id_col), F.col(vec_col))
        .withColumn("_h", h)
        .orderBy("_h")
        .limit(sample_size)
        .select(vec_col)
    ).toPandas()
    if len(pdf) == 0:
        raise ValueError(f"{op}: empty corpus (no vectors to train on)")
    return np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
