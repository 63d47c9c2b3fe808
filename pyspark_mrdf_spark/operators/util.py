"""Shared plan-shape helpers for operators (r15: promoted from
``operators/dedup.py`` — ``spread`` had grown call sites across two
modules, and the checkpoint escape hatch below is policy, not dedup
logic).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
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
    single-file test-input artifact this helper exists for."""
    cur = df.rdd.getNumPartitions()
    n = df.sparkSession.sparkContext.defaultParallelism
    if cur >= n:
        return df
    return df.repartition(n)


def lazy_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize-on-first-use lineage cut for an intermediate that
    several consumers share (posting tables, tokenized corpora): the
    plan under the checkpoint runs ONCE instead of once per consumer
    (kernel outputs have no Exchange for ReusedExchange to dedup).

    FAILURE-DOMAIN TRADE (guide §5, r14 verdict item 8): the default
    ``localCheckpoint`` stores blocks on executors WITHOUT replication
    and truncates lineage — losing an executor at 100 TB then kills
    the job instead of recomputing the lost partitions. That is the
    right local/bench default (zero extra I/O), but a cluster
    deployment that cannot afford job restarts should flip

        spark.conf.set("spark.graft.checkpoint.reliable", "true")
        spark.sparkContext.setCheckpointDir("hdfs://.../ckpt")

    and the intermediates that route through THIS helper take a
    RELIABLE ``checkpoint`` instead: blocks land on fault-tolerant
    storage, surviving executor loss, at the cost of one write+read of
    the intermediate. Both paths are lazy (``eager=False``) — nothing
    materializes until the first consumer runs.

    Scope: only the callers of this helper honour the flag — the dedup
    operators (``operators/dedup.py``) and q120 (``queries/text.py``).
    Every other lineage cut in the engine (graph, graph_append, mrdf,
    similarity, graph_search, quantize, cache) calls
    ``localCheckpoint`` directly and stays executor-local whatever the
    flag says."""
    spark = df.sparkSession
    if spark.conf.get(RELIABLE_CHECKPOINT_CONF, "false") == "true":
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


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
