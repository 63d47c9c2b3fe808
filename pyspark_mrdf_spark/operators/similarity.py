"""Similarity search operators over an embedding column.

 - ``knn_exact``: brute-force exact k-NN graph — the engine's
   correctness oracle, re-expressing reference knn.py:4-26. The
   reference broadcast the whole dataset as a Python dict and scanned
   it row-at-a-time per vector (knn.py:7,12-26); here the corpus
   matrix is a single NumPy broadcast and each Arrow batch of queries
   computes a vectorized distance block (O(n²d) flops stay, Python
   overhead goes). Above ``broadcast_max_rows`` the entry points
   auto-route to the grid-blocked distributed tier
   (``knn_search_blocked``) — identical results, bounded task memory.
   Scale path for the quadratic flops themselves: ``ann_ivf``
   (bucketed) or MRDF (algorithms.mrdf).
 - ``ann_ivf``: IVF-style approximate search — deterministic coarse
   centroids, cluster assignment, then exact search within probed
   clusters. All relational plumbing is DataFrame ops; only the
   distance kernel is NumPy.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from pyspark_mrdf_spark.functions.vector import (
    l2_argsort_topm,
    l2_block_topk,
    l2_topk_candidates,
)
from pyspark_mrdf_spark.operators.util import checkpoint, md5_sample, topk_merge

KNN_SCHEMA = StructType(
    [
        StructField("src", LongType(), False),
        StructField("dst", LongType(), False),
        StructField("dist_sq", DoubleType(), False),
        StructField("rnk", IntegerType(), False),
    ]
)


def collect_matrix(df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"):
    """Corpus matrix (ids, float64 matrix) for broadcasting.

    Deliberately driver-side: the IVF/MRDF paths exist precisely so
    that only brute-force (small-corpus) search needs this."""
    pdf = df.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    order = np.argsort(ids)
    return ids[order], mat[order]


def knn_exact(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
) -> DataFrame:
    """Exact k-NN graph of a set against itself: ``knn_search`` with
    queries == corpus (reference W3 semantics)."""
    return knn_search(df, df, k, id_col=id_col, vec_col=vec_col, include_self=include_self)


# LogicalRDD = an already-materialized lineage (a checkpoint /
# RDD-backed frame): re-reading it is exactly as cheap as a scan, and
# re-checkpointing it would duplicate a full corpus copy — the very
# cost the guard exists to avoid. Union-of-scans and Range likewise
# re-evaluate for free.
_SCAN_NODES = (
    "Relation", "Project", "Filter", "LocalRelation", "InMemoryRelation",
    "LogicalRDD", "Range", "Union",
)


def _scan_shaped(df: DataFrame) -> bool:
    """True when ``df``'s optimized logical plan is only scan-shaped
    nodes (relation + filter/project) — the inputs whose re-evaluation
    is as cheap as reading them once, so ``knn_search``'s guard-count
    should NOT pay a checkpoint copy for them. Anything else
    (joins, aggregates, Python evals, generators) counts as computed
    lineage worth materializing before the count + scan double read."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:  # plan introspection is an optimization, never a gate
        return False
    skip_below: int | None = None  # indent depth of an InMemoryRelation
    for line in plan.splitlines():
        node = line.lstrip(" +-:")
        if not node:
            continue
        depth = len(line) - len(node)
        if skip_below is not None:
            if depth > skip_below:
                # the cached PHYSICAL plan InMemoryRelation.toString
                # embeds as its subtree (ColumnarToRow/FileScan/...) —
                # already-materialized, so never "computed lineage"
                continue
            skip_below = None
        if node.startswith("InMemoryRelation"):
            skip_below = depth
            continue
        if not node.startswith(_SCAN_NODES):
            return False
    return True


def knn_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = True,
    broadcast_max_rows: int | None = 65_536,
) -> DataFrame:
    """Exact top-k search of ``queries`` against ``corpus``: (src, dst,
    dist_sq, rnk), rnk 1..k ascending by (dist_sq, dst) — the
    similarity-search entry point (external query set vs indexed
    corpus). ``include_self=False`` drops corpus rows whose id equals
    the query id (the self-kNN-graph case).

    Tier routing: a corpus at or under ``broadcast_max_rows`` is
    collected into one broadcast float64 matrix and scanned over query
    partitions (reference knn.py:7 broadcast, vectorized). A LARGER
    corpus auto-routes to ``knn_search_blocked`` — same result, same
    tie-break, distributed corpus — with BOTH grid sides sized so each
    task holds ~16k-row query and corpus slabs. The guard is one
    ``count()`` per side (it also sizes the grid); a COMPUTED input
    lineage (joins, UDF embeds, aggregations) is lazily checkpointed
    first (``operators.util.checkpoint``: executor-local, or reliable
    under ``spark.graft.checkpoint.reliable``), so the count
    materializes it and the scan reuses those blocks instead of
    recomputing the pipeline. Scan-shaped inputs (parquet scan +
    filter/project — detected from the optimized plan) are NOT
    checkpointed: their count is metadata-cheap and a checkpoint
    would copy the whole corpus for nothing — at 100 TB that copy,
    not the double evaluation, would be the scale bug. Pass
    ``broadcast_max_rows=None`` to skip the guard entirely when the
    corpus is known-small."""
    df = queries
    spark = df.sparkSession
    if broadcast_max_rows is not None:
        if not _scan_shaped(corpus):
            ckpt = checkpoint(corpus)
            if queries is corpus:
                queries = df = ckpt
            corpus = ckpt
        n_c = corpus.count()
        if n_c > broadcast_max_rows:
            # ceil to ~16k-row slabs on BOTH sides: an unbounded query
            # set would otherwise concentrate |Q|/4 vectors per task.
            # Self-search (knn_exact) passes the same DataFrame twice —
            # don't run the identical count job again.
            if queries is not corpus and not _scan_shaped(queries):
                queries = checkpoint(queries)
            n_q = n_c if queries is corpus else queries.count()
            n_blocks = max(8, -(-n_c // 16_384))
            n_query_blocks = max(4, -(-n_q // 16_384))
            return knn_search_blocked(
                queries,
                corpus,
                k,
                n_blocks=int(n_blocks),
                n_query_blocks=int(n_query_blocks),
                id_col=id_col,
                vec_col=vec_col,
                include_self=include_self,
            )
    ids, mat = collect_matrix(corpus, id_col, vec_col)
    b = spark.sparkContext.broadcast((ids, mat))

    # a small corpus often arrives as ONE parquet file = one input
    # partition; the quadratic scan must spread over the cluster, so
    # split the QUERY side explicitly (row-independent kernel — the
    # result is partitioning-invariant)
    n_parts = max(spark.sparkContext.defaultParallelism, df.rdd.getNumPartitions())

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c_ids, c_mat = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q_ids = pdf[id_col].to_numpy(dtype=np.int64)
            q_mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield l2_block_topk(q_ids, q_mat, c_ids, c_mat, k, include_self)

    return df.select(id_col, vec_col).repartition(n_parts).mapInPandas(_scan, KNN_SCHEMA)


def knn_search_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_blocks: int = 8,
    n_query_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = True,
) -> DataFrame:
    """Exact top-k search with a DISTRIBUTED corpus — the scale tier of
    ``knn_search`` (which broadcasts the corpus via a driver collect).

    Grid blocking: corpus rows hash into ``n_blocks`` corpus blocks,
    queries into ``n_query_blocks`` query blocks; each (q-block,
    c-block) grid cell is one cogroup that computes a vectorized local
    top-k (``l2_block_topk``); ``topk_merge`` merges the ≤ n_blocks·k
    candidates per query. Local top-k by (dist, id) is associative, so blocked merge
    ≡ full scan EXACTLY (same tie-break as the SQL oracle's
    ORDER BY dist, id).

    Scale accounting (n_q queries, n_c corpus rows, B = n_blocks,
    M = n_query_blocks): shuffle is n_q·B + n_c·M rows (each side
    replicates across the OTHER side's blocks); task memory is one
    grid cell — ~n_q/M query vectors + ~n_c/B corpus vectors — so BOTH
    sides are bounded (M=1 degenerates to the whole query set per
    task); the merge window input is output-sized (n_q·B·k rows), not
    n_q·n_c. O(n_q·n_c·d) flops remain — exactness' honest price;
    this tier spreads them over B·M tasks."""
    blk = F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).cast("int")
    qblk = F.pmod(F.hash(F.col(id_col)), F.lit(n_query_blocks)).cast("int")
    c = corpus.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        blk.alias("block"),
        F.explode(F.sequence(F.lit(0), F.lit(n_query_blocks - 1))).alias("qblk"),
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        qblk.alias("qblk"),
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("block"),
    )

    def _scan(key: tuple, qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame(columns=["src", "dst", "dist_sq"])
        q_ids = qpdf["q_id"].to_numpy(dtype=np.int64)
        q_mat = np.stack(qpdf["q_vec"].to_numpy()).astype(np.float64)
        c_ids = cpdf["c_id"].to_numpy(dtype=np.int64)
        c_mat = np.stack(cpdf["c_vec"].to_numpy()).astype(np.float64)
        return l2_block_topk(q_ids, q_mat, c_ids, c_mat, k, include_self).drop(
            columns=["rnk"]
        )

    cand = (
        q.groupby("qblk", "block")
        .cogroup(c.groupby("qblk", "block"))
        .applyInPandas(_scan, "src long, dst long, dist_sq double")
    )
    return topk_merge(cand, k)


def knn_exact_blocked(
    df: DataFrame,
    k: int,
    n_blocks: int = 8,
    n_query_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact self-kNN graph on the distributed tier (``knn_exact``
    semantics via ``knn_search_blocked``)."""
    return knn_search_blocked(
        df,
        df,
        k,
        n_blocks=n_blocks,
        n_query_blocks=n_query_blocks,
        id_col=id_col,
        vec_col=vec_col,
        include_self=False,
    )


def ivf_train_centroids(
    df: DataFrame,
    n_centroids: int = 8,
    sample_size: int = 2048,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Seeded Lloyd-refined IVF centroids → (n_centroids, d) float64.

    Training data is a DETERMINISTIC bounded sample: the
    ``sample_size`` rows with the smallest md5(seed:id) — same rows on
    any engine, any partitioning. Collecting it is bounded by
    construction (sample_size·d floats, never O(n)) — the legitimate
    sample-to-driver training pattern; assignment and search stay
    fully distributed. Init = first ``n_centroids`` hash-ordered
    sample rows; ``iters`` Lloyd steps with empty clusters keeping
    their previous centroid. Everything is seeded ⇒ same centroids
    every run.

    Use with ``ann_ivf(..., centroids=...)``: balanced trained cells
    beat the lowest-id quantizer's arbitrary cells on recall at equal
    probe cost (tested)."""
    x = md5_sample(df, sample_size, seed, id_col, vec_col, "ivf_train_centroids")
    return lloyd_centroids(x, n_centroids, iters)


def lloyd_centroids(x: np.ndarray, n_centroids: int, iters: int) -> np.ndarray:
    """Pure-NumPy Lloyd core of ``ivf_train_centroids``: init = first
    ``n_centroids`` rows, ``iters`` refinement steps, empty clusters
    keep their previous centroid.

    Exposed separately so an ORACLE can reproduce the exact centroids:
    given the same sample matrix (the md5-ordered sample is
    reproducible in SQL) this function is the single source of truth
    for the arithmetic — q57's DuckDB oracle replays it on
    DuckDB-loaded rows and inlines the bit-identical centroids as SQL
    literals."""
    c = x[:n_centroids].copy()
    for _ in range(iters):
        cand, d2 = l2_topk_candidates(x, c, 1, pad=0)
        assign = cand[np.arange(len(x)), np.argmin(d2, axis=1)]
        for j in range(n_centroids):
            members = x[assign == j]
            if len(members):
                c[j] = members.mean(axis=0)
    return c


def auto_n_centroids(n_rows: int) -> int:
    """The ``cells ~ O(sqrt(n))`` IVF sizing rule as code: ``6·sqrt(n)``,
    floored at 8 cells and capped at ``n // 8`` so an expected cell
    keeps ≥8 members. The constant is calibrated by the measured
    equal-scan-fraction sweep in ``queries/vector.py`` (256 Lloyd
    cells at n=2000 was the recall-optimal point: 6·sqrt(2000)≈268);
    finer cells at fixed probe·assign/cells budget monotonically buy
    recall, so the rule errs fine, not coarse."""
    if n_rows <= 0:
        return 8
    return max(8, min(n_rows // 8, int(6.0 * np.sqrt(n_rows))))


def ann_ivf(
    df: DataFrame,
    k: int,
    n_centroids: int | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    r_assign: int = 1,
) -> DataFrame:
    """IVF approximate k-NN: deterministic coarse quantizer (the
    ``n_centroids`` lowest-id vectors — reproducible across engines,
    no k-means randomness — or trained centroids via
    ``ivf_train_centroids``), assign every vector to its ``r_assign``
    nearest centroids, then search exactly within each query's
    ``n_probe`` nearest clusters.

    ``n_centroids=None`` (the default) self-sizes the quantizer from
    one corpus ``count()`` via ``auto_n_centroids`` — the
    ``O(sqrt(n))`` rule, so a 500-row corpus and a 50k-row corpus get
    rule-consistent, different cell counts without the caller
    choosing. Pass an explicit ``n_centroids`` to pin the geometry
    (oracle-checked queries do, so their SQL twin can enumerate the
    same cells).

    ``r_assign`` > 1 is spill-tree-style MULTI-ASSIGNMENT: each corpus
    vector is stored in its ``r_assign`` nearest cells, so a true
    neighbor sitting just across a cell boundary is still found from
    either side. At fixed scanned-fraction (≈ r_assign·n_probe /
    n_centroids) finer cells + overlap beat coarse disjoint cells on
    recall: (32 cells, r_assign=4, probe 2) scans the same ~25% of the
    corpus as (8, 1, 2) but measures ~0.62 recall@10 vs ~0.43 on the
    64-d test corpus. Storage grows r_assign×, the standard IVF
    replication trade.

    Physical design (scale-first; replaces an earlier crossJoin +
    zip_with/aggregate version — Catalyst higher-order functions are
    interpreted, not codegen'd, so per-pair array lambdas were the
    bottleneck, and the full candidate set hit the final window):

      1. centroid table collected (n_centroids rows — tiny) and
         broadcast as a NumPy matrix;
      2. ONE mapInPandas pass assigns every vector its r_assign home
         clusters and its n_probe probe clusters — vectorized argmin
         per Arrow batch, no join, no shuffle;
      3. cogroup(members, probe-queries) by cluster: per-cluster NumPy
         block scan with local top-k per query (cluster sizes
         ≈ r_assign·n/n_centroids bound memory and the quadratic term);
      4. candidates dedup'd (a pair can surface in several probed
         cells when r_assign > 1), then ``topk_merge`` over ≤
         n_probe·k rows per query — window input is output-sized, not
         candidate-sized.

    Returns (src, dst, dist_sq, rnk) like ``knn_exact``.
    """
    from pyspark.sql.types import ArrayType

    spark = df.sparkSession
    if centroids is not None:
        # trained quantizer (ivf_train_centroids): cluster ids are
        # centroid indices
        c_mat = np.asarray(centroids, dtype=np.float64)
        c_ids = np.arange(len(c_mat), dtype=np.int64)
        bcent = spark.sparkContext.broadcast((c_ids, c_mat))
    else:
        if n_centroids is None:
            n_centroids = auto_n_centroids(df.count())
        cent_rows = df.orderBy(id_col).limit(n_centroids).select(id_col, vec_col).collect()
        c_ids = np.array([r[0] for r in cent_rows], dtype=np.int64)
        c_mat = np.stack([np.asarray(r[1]) for r in cent_rows]).astype(np.float64)
        order = np.argsort(c_ids)
        bcent = spark.sparkContext.broadcast((c_ids[order], c_mat[order]))

    vec_type = df.schema[vec_col].dataType
    assign_schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("vec", vec_type, False),
            StructField("cells", ArrayType(LongType(), False), False),
            StructField("probes", ArrayType(LongType(), False), False),
        ]
    )
    top_cells = max(r_assign, n_probe)

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cid, cm = bcent.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # gemm-speed nearest-cells pick; exact distances + stable
            # ties ⇒ ties break to the lower cent_id, matching the
            # oracle's (dist, cent_id) order
            idx = l2_argsort_topm(q, cm, top_cells)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(dtype=np.int64),
                    "vec": pdf[vec_col],
                    "cells": [cid[row[:r_assign]].tolist() for row in idx],
                    "probes": [cid[row[:n_probe]].tolist() for row in idx],
                }
            )

    assigned = df.select(id_col, vec_col).mapInPandas(_assign, assign_schema)
    members = assigned.select(
        F.explode("cells").alias("cluster"),
        F.col("id").alias("c_id"),
        F.col("vec").alias("c_vec"),
    )
    probes = assigned.select(
        F.col("id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.explode("probes").alias("cluster"),
    )

    def _search(key: tuple, qpdf: pd.DataFrame, mpdf: pd.DataFrame) -> pd.DataFrame:
        if len(qpdf) == 0 or len(mpdf) == 0:
            return pd.DataFrame(columns=["src", "dst", "dist_sq"])
        q_ids = qpdf["q_id"].to_numpy(dtype=np.int64)
        q_mat = np.stack(qpdf["q_vec"].to_numpy()).astype(np.float64)
        m_ids = mpdf["c_id"].to_numpy(dtype=np.int64)
        m_mat = np.stack(mpdf["c_vec"].to_numpy()).astype(np.float64)
        out = l2_block_topk(q_ids, q_mat, m_ids, m_mat, k, include_self=False)
        return out.drop(columns=["rnk"])

    cand = (
        probes.groupby("cluster")
        .cogroup(members.groupby("cluster"))
        .applyInPandas(_search, "src long, dst long, dist_sq double")
    )
    if r_assign > 1:
        # a multi-assigned pair can surface from several probed cells;
        # dedup by min distance (dup distances can differ in the last
        # ulp across gemm block shapes — min makes the survivor
        # deterministic) so the merge counts each pair once
        cand = cand.groupBy("src", "dst").agg(F.min("dist_sq").alias("dist_sq"))
    return topk_merge(cand, k)


def cosine_topk_by_group(
    df: DataFrame,
    k: int,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k most-cosine-similar pairs WITHIN each group: (src, dst,
    rnk), rnk 1..k by (cosine desc, dst).

    Shape matters at scale: a pair self-join ships every vector once
    PER PAIR through the shuffle and Arrow boundary (O(G²) vector
    transfers per group); grouping first ships each vector ONCE and
    computes the all-pairs block as one BLAS matmul per group
    (applyInPandas — bound group size like MRDF's α if groups can be
    huge). Ranking uses the repo-wide fixed-point discipline: cosines
    round to 1e-6 BEFORE ordering (ties → lower id), and the SQL
    oracle orders identically — a last-ulp float difference between
    engines (or kernels) cannot flip a rank."""

    def _topk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        order0 = np.argsort(ids, kind="stable")
        ids = ids[order0]
        mat = np.stack(pdf[vec_col].to_numpy()[order0]).astype(np.float64)
        s = mat @ mat.T
        norms = np.sqrt(np.diag(s))
        cos_e6 = np.rint((s / np.outer(norms, norms)) * 1e6).astype(np.int64)
        # vectorized top-(k+1): stable argsort on -cos_e6 over id-ordered
        # columns ≡ per-row lexsort((ids, -cos_e6)) — ties to the lower
        # id — with no per-row Python loop (same selection as the
        # blocked tier's kernel below)
        n = len(ids)
        kk = min(k + 1, n)
        sel = np.argsort(-cos_e6, axis=1, kind="stable")[:, :kk]
        dst = ids[sel]
        not_self = dst != ids[:, None]
        keep = not_self & (np.cumsum(not_self, axis=1) <= k)
        src = np.repeat(ids, kk).reshape(n, kk)
        rnk = np.cumsum(not_self, axis=1)
        return pd.DataFrame(
            {"src": src[keep], "dst": dst[keep], "rnk": rnk[keep]}
        )

    return (
        df.select(group_col, id_col, vec_col)
        .groupBy(group_col)
        .applyInPandas(_topk, "src long, dst long, rnk long")
    )


def cosine_topk_by_group_blocked(
    df: DataFrame,
    k: int,
    n_blocks: int = 8,
    n_query_blocks: int = 4,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``cosine_topk_by_group`` with BOUNDED task memory — the tier for
    groups too large for one ``applyInPandas`` task.

    Grid blocking within each group: members hash into ``n_blocks``
    corpus blocks AND ``n_query_blocks`` query blocks; each (group,
    q-block, c-block) grid cell is one cogroup computing one cosine
    gemm with a local top-k; a final window merges ≤ n_blocks·k
    candidates per query. Task memory is one grid cell —
    ~|G|/n_query_blocks query vectors + ~|G|/n_blocks corpus vectors —
    so BOTH sides stay bounded when one label holds millions of
    vectors; shuffle is |G|·(n_blocks + n_query_blocks) rows per group.

    Norms are per-row sum-of-squares (einsum) on both sides — the
    same accumulation the single-task kernel's gram diagonal produces
    for d-dim rows — so pair cosines are identical across tiers
    (equivalence-tested)."""
    from pyspark.sql import Window

    blk = F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).cast("int")
    qblk = F.pmod(F.hash(F.col(id_col)), F.lit(n_query_blocks)).cast("int")
    c = df.select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        blk.alias("block"),
        F.explode(F.sequence(F.lit(0), F.lit(n_query_blocks - 1))).alias("qblk"),
    )
    q = df.select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        qblk.alias("qblk"),
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("block"),
    )

    def _scan(key: tuple, qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["src", "dst", "cos"]
        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame(columns=cols)
        q_ids = qpdf["q_id"].to_numpy(dtype=np.int64)
        q_mat = np.stack(qpdf["q_vec"].to_numpy()).astype(np.float64)
        c_ids = cpdf["c_id"].to_numpy(dtype=np.int64)
        c_mat = np.stack(cpdf["c_vec"].to_numpy()).astype(np.float64)
        c_order = np.argsort(c_ids, kind="stable")
        c_ids = c_ids[c_order]
        c_mat = c_mat[c_order]
        qn = np.sqrt(np.einsum("ij,ij->i", q_mat, q_mat))
        cn = np.sqrt(np.einsum("ij,ij->i", c_mat, c_mat))
        cos_e6 = np.rint(((q_mat @ c_mat.T) / np.outer(qn, cn)) * 1e6).astype(np.int64)
        # vectorized top-(k+1): full stable argsort on -cos_e6 over
        # id-ordered columns ≡ per-row lexsort((ids, -cos_e6)) — ties
        # to the lower id — without the per-row Python loop. Fixed-point
        # BEFORE ordering: rank-safe across kernels and engines.
        kk = min(k + 1, len(c_ids))
        sel = np.argsort(-cos_e6, axis=1, kind="stable")[:, :kk]
        dst = c_ids[sel]
        cval = np.take_along_axis(cos_e6, sel, axis=1)
        not_self = dst != q_ids[:, None]
        keep = not_self & (np.cumsum(not_self, axis=1) <= k)
        src = np.repeat(q_ids, kk).reshape(len(q_ids), kk)
        return pd.DataFrame(
            {"src": src[keep], "dst": dst[keep], "cos": cval[keep]}
        )

    cand = (
        q.groupby("g", "qblk", "block")
        .cogroup(c.groupby("g", "qblk", "block"))
        .applyInPandas(_scan, "src long, dst long, cos double")
    )
    wk = Window.partitionBy("src").orderBy(F.col("cos").desc(), "dst")
    return (
        cand.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select("src", "dst", F.col("rnk").cast("long").alias("rnk"))
    )


def lsh_hyperplane_buckets(
    df: DataFrame,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH bucket per vector: bit j = sign of the
    dot product with plane j; bucket = Σ bit_j·2ʲ — cosine-similar
    vectors collide with high probability, so candidate generation
    becomes an equi-join on bucket (the LSH-bucketed ANN scale path;
    complement to IVF).

    "Random" planes are the ``n_planes`` lowest-id vectors —
    deterministic across engines like the IVF quantizer, no RNG to
    reproduce. Signs gate on the 1e-6 fixed-point dot so a last-ulp
    difference cannot flip a bit. Kernel is one vectorized matmul per
    Arrow batch against the broadcast (tiny) plane matrix."""
    spark = df.sparkSession
    rows = df.orderBy(id_col).limit(n_planes).select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    planes = np.stack([np.asarray(r[1]) for r in rows]).astype(np.float64)
    planes = planes[np.argsort(ids)]
    bp = spark.sparkContext.broadcast(planes)
    weights = (2 ** np.arange(n_planes)).astype(np.int64)

    def _bucket(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = bp.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            dots_e6 = np.rint((v @ p.T) * 1e6).astype(np.int64)
            buckets = ((dots_e6 >= 0).astype(np.int64) * weights).sum(axis=1)
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(dtype=np.int64), "bucket": buckets}
            )

    n_parts = max(spark.sparkContext.defaultParallelism, df.rdd.getNumPartitions())
    return (
        df.select(id_col, vec_col)
        .repartition(n_parts)
        .mapInPandas(_bucket, "id long, bucket long")
        .withColumnRenamed("id", id_col)
    )


def prefix_dim_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    d_prefix: int = 16,
    k_candidates: int | None = None,
    n_blocks: int = 8,
    n_query_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = True,
) -> DataFrame:
    """Matryoshka-style two-stage search (Kusupati et al. 2022, the
    truncatable-embedding retrieval pattern production embedding APIs
    ship): candidates by EXACT search over only the first ``d_prefix``
    dimensions — d_prefix/d of the scan bytes and flops — then exact
    full-dimension rerank of candidates only, the ``knn_search`` output
    contract (src, dst, dist_sq, rnk).

    This is the dimension-truncation axis of the quantization ladder
    (SQ8/PQ/BQ shrink bits per dimension; this shrinks DIMENSIONS per
    vector). With MRL-trained embeddings the prefix carries most of
    the metric structure, so modest candidate budgets recover near-
    exact recall; with generic embeddings the prefix is an arbitrary
    d_prefix-dim projection and the budget is the dial (measured on
    the random-ish driver corpus at d=64, k=5: see the q119 test).
    Both stages are compositions of already-proven operators: the
    blocked grid scan on sliced vectors, the shared rerank tail —
    every scale property (bounded grid cells, candidate-sized rerank)
    is inherited."""
    from pyspark_mrdf_spark.operators.quantize import _rerank_exact

    if k_candidates is None:
        k_candidates = 8 * k
    q_sliced = queries.select(id_col, F.slice(vec_col, 1, d_prefix).alias(vec_col))
    c_sliced = corpus.select(id_col, F.slice(vec_col, 1, d_prefix).alias(vec_col))
    cand = knn_search_blocked(
        q_sliced, c_sliced, k_candidates,
        n_blocks=n_blocks, n_query_blocks=n_query_blocks,
        id_col=id_col, vec_col=vec_col, include_self=include_self,
    ).select("src", "dst")
    return _rerank_exact(cand, queries, corpus, k, id_col, vec_col)
