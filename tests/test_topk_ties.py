"""Tie law: every exact L2 top-k entry point keeps each query's k
nearest by (dist_sq, dst) — ties to the lower id — on a corpus built to
tie: an integer grid with duplicate rows, so equal distances (zero
among the copies, small integers elsewhere) straddle every rank
boundary. Each entry point must return exactly the (src, dst, dist_sq,
rnk) rows of the NumPy ``lexsort`` brute force below."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import pyspark_mrdf_spark.algorithms.nndescent as nd
from pyspark_mrdf_spark.algorithms.graph_append import knn_graph_append
from pyspark_mrdf_spark.operators.similarity import (
    ann_ivf,
    knn_exact_blocked,
    knn_search,
    knn_search_blocked,
)

K = 6
GRIDS = ((3, 2), (5, 4))


def _corpus():
    """90 rows over 30 distinct points of {0,1,2}³: 20 points twice, 10
    three times. Ids are scattered, so id order is not row order."""
    rng = np.random.default_rng(11)
    base = rng.integers(0, 3, size=(30, 3))
    mat = np.concatenate([base, base[:20], base[:10]]).astype(np.float64)
    ids = (rng.permutation(1000)[: len(mat)] * 7 + 3).astype(np.int64)
    return ids, mat


def _brute(q_ids, q_mat, c_ids, c_mat, k, include_self):
    rows = []
    for qi, qv in zip(q_ids, q_mat):
        keep = np.ones(len(c_ids), dtype=bool) if include_self else c_ids != qi
        ids, d2 = c_ids[keep], ((c_mat[keep] - qv) ** 2).sum(axis=1)
        for r, j in enumerate(np.lexsort((ids, d2))[:k], start=1):
            rows.append((int(qi), int(ids[j]), float(d2[j]), r))
    return sorted(rows)


def _rows(df):
    if not hasattr(df, "collect"):  # a pandas frame from the NumPy kernel
        return sorted(
            (int(s), int(d), float(x), int(r))
            for s, d, x, r in df[["src", "dst", "dist_sq", "rnk"]].itertuples(index=False)
        )
    return sorted(
        (r["src"], r["dst"], r["dist_sq"], r["rnk"])
        for r in df.select("src", "dst", "dist_sq", "rnk").collect()
    )


@pytest.fixture(scope="module")
def corpus(spark):
    ids, mat = _corpus()
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, mat)],
        "vec_id long, embedding array<float>",
    ).repartition(3)
    return ids, mat, df.localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def self_graph(corpus):
    ids, mat, _ = corpus
    return _brute(ids, mat, ids, mat, K, include_self=False)


def test_corpus_ties_across_rank_boundaries(self_graph):
    # the law only bites if the k-th and (k+1)-th candidates tie often
    ids, mat = _corpus()
    tied = 0
    for qi, qv in zip(ids, mat):
        d2 = np.sort(((mat[ids != qi] - qv) ** 2).sum(axis=1))
        tied += d2[K - 1] == d2[K]
    assert tied >= len(ids) // 2


@pytest.mark.parametrize("broadcast_max_rows", [65_536, 10], ids=["broadcast", "blocked"])
@pytest.mark.parametrize("include_self", [True, False])
def test_knn_search_tiers(spark, corpus, broadcast_max_rows, include_self):
    ids, mat, df = corpus
    sel = ids % 3 == 0
    q = df.filter(F.col("vec_id") % 3 == 0)
    got = knn_search(
        q, df, K, include_self=include_self, broadcast_max_rows=broadcast_max_rows
    )
    assert _rows(got) == _brute(ids[sel], mat[sel], ids, mat, K, include_self)


@pytest.mark.parametrize("grid", GRIDS, ids=lambda g: f"{g[0]}x{g[1]}")
def test_blocked_grids(spark, corpus, self_graph, grid):
    ids, mat, df = corpus
    nb, nq = grid
    assert _rows(knn_exact_blocked(df, K, n_blocks=nb, n_query_blocks=nq)) == self_graph
    sel = ids % 2 == 1
    q = df.filter(F.col("vec_id") % 2 == 1)
    got = knn_search_blocked(q, df, K, n_blocks=nb, n_query_blocks=nq)
    assert _rows(got) == _brute(ids[sel], mat[sel], ids, mat, K, include_self=True)


@pytest.mark.parametrize("r_assign", [1, 2])
def test_ann_ivf_probing_every_cell(spark, corpus, self_graph, r_assign):
    _, _, df = corpus
    got = ann_ivf(df, K, n_centroids=4, n_probe=4, r_assign=r_assign)
    assert _rows(got) == self_graph


@pytest.mark.parametrize("exact_block_max", [nd.EXACT_BLOCK_MAX, 16], ids=["exact", "tiled"])
def test_nn_descent_exact_paths(monkeypatch, self_graph, exact_block_max):
    ids, mat = _corpus()
    monkeypatch.setattr(nd, "EXACT_BLOCK_MAX", exact_block_max)
    assert _rows(nd.nn_descent(ids, mat, K)) == self_graph


def test_graph_append_exact(spark, corpus, self_graph):
    ids, _, df = corpus
    old = df.filter(F.col("vec_id") % 4 != 0)
    new = df.filter(F.col("vec_id") % 4 == 0)
    got = knn_graph_append(knn_exact_blocked(old, K), old, new, K, mode="exact")
    assert _rows(got) == self_graph
