"""Local NN-Descent (Dong, Moses & Li, WWW 2011) as a single-machine
NumPy kernel.

Re-expresses reference nndescent.py:9-68 with one fundamental
architectural change (SURVEY.md §3.1): the reference ran NN-Descent
*as Spark jobs per ≤α subset*, collecting/broadcasting every
intermediate (~7 driver round-trips per inner iteration,
nndescent.py:17-64). Here the whole algorithm runs inside ONE executor
task per subset — MRDF guarantees subsets fit (≤α rows), so the right
Spark granularity is one ``applyInPandas`` group, fully vectorized.

Semantics kept from the reference:
 - B[v] initialized with k random neighbors, flag=new
   (reference initial_sample, nndescent.py:194-203)
 - per round: split new/old and sample ρK of new (nndescent.py:76-100),
   build sampled reverse lists (nndescent.py:102-117), local join over
   candidate pairs (nndescent.py:139-172), merge keeping k best
   (nn_update_heap, nndescent.py:174-192)
 - terminate when changed edges < δ·n·k or round cap (nndescent.py:66-67)

Implementation difference: instead of per-pair heap pushes, each round
scatters all candidate edges into arrays and does one vectorized
top-k-per-node merge (identical fixpoint, ~100× less Python overhead).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark_mrdf_spark.functions.vector import (
    l2_block_topk,
    l2_self_topk_tiled,
    pairwise_l2_sq,
)

# Below this block size the EXACT gemm graph beats iterating: one
# BLAS matmul + one vectorized sort is ~milliseconds at n=500 where
# NN-Descent's sampling rounds cost ~1s. The bound is set by task
# MEMORY, not speed — the n×n float64 distance matrix is the limit
# (4096² × 8B = 134 MB). Between EXACT_BLOCK_MAX and TILED_EXACT_MAX
# the tiled variant keeps the same exactness with one 4096² tile pair
# in memory at a time; only above that do NN-Descent's sampled rounds
# win. MRDF's α typically lands groups well under these, so in
# practice the division forest does the pruning and leaves solve
# exactly.
EXACT_BLOCK_MAX = 4096
TILED_EXACT_MAX = 32768


def nn_descent(
    ids: np.ndarray,
    mat: np.ndarray,
    k: int,
    *,
    sample_rate: float = 1.0,
    precision: float = 0.001,
    max_rounds: int = 30,
    rng: np.random.Generator | None = None,
    k_build: int | None = None,
) -> pd.DataFrame:
    """Approximate k-NN graph of one vector block.

    Returns edges (src, dst, dist_sq, rnk), ≤ k per src, ascending
    (dist_sq, dst). Blocks up to ``TILED_EXACT_MAX`` get the exact
    graph from ``l2_block_topk`` (tiled above ``EXACT_BLOCK_MAX``).

    ``k_build``: internal working list size. NN-Descent's convergence
    depends on candidate-pool width; for small k in high dimension the
    ρK pool starves (recall@5 ≈ 0.40 on uniform 64-d data). Building
    at max(k, 20) and truncating the output to k recovers ≈ 1.0 at
    the same asymptotic cost.
    """
    rng = rng or np.random.default_rng(42)
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    k_eff = min(k, n - 1)
    if n <= 1 or n <= EXACT_BLOCK_MAX:
        return l2_block_topk(ids, mat, ids, mat, max(k_eff, 0), include_self=False)
    if n <= TILED_EXACT_MAX:
        return l2_self_topk_tiled(ids, mat, k_eff, EXACT_BLOCK_MAX)
    k_out = k_eff
    k_eff = min(k_build if k_build is not None else max(k, 20), n - 1)

    mat = np.asarray(mat, dtype=np.float64)
    # graph state: per node, parallel arrays sorted ascending (dist, idx)
    nb_dist = np.full((n, k_eff), np.inf)
    nb_idx = np.full((n, k_eff), -1, dtype=np.int64)
    nb_new = np.zeros((n, k_eff), dtype=bool)
    # random init at distance ∞ (reference sample_infinity /
    # initial_sample, nndescent.py:70-74,194-203)
    for v in range(n):
        cand = rng.choice(n - 1, size=k_eff, replace=False)
        cand[cand >= v] += 1
        nb_idx[v] = cand
        nb_new[v] = True

    rho_k = max(1, int(sample_rate * k_eff))
    threshold = precision * n * k_eff

    for _ in range(max_rounds):
        new_lists: list[np.ndarray] = []
        old_lists: list[np.ndarray] = []
        rev_new: list[list[int]] = [[] for _ in range(n)]
        rev_old: list[list[int]] = [[] for _ in range(n)]
        for v in range(n):
            valid = nb_idx[v] >= 0
            new_pos = np.flatnonzero(nb_new[v] & valid)
            if len(new_pos) > rho_k:
                new_pos = rng.choice(new_pos, size=rho_k, replace=False)
            nb_new[v, new_pos] = False
            nl = nb_idx[v][new_pos]
            ol = nb_idx[v][~nb_new[v] & valid]
            ol = np.setdiff1d(ol, nl, assume_unique=False)
            new_lists.append(nl)
            old_lists.append(ol)
            for u in nl:
                rev_new[u].append(v)
            for u in ol:
                rev_old[u].append(v)

        srcs: list[np.ndarray] = []
        dsts: list[np.ndarray] = []
        d2s: list[np.ndarray] = []
        for v in range(n):
            rn = np.asarray(rev_new[v], dtype=np.int64)
            ro = np.asarray(rev_old[v], dtype=np.int64)
            if len(rn) > rho_k:
                rn = rng.choice(rn, size=rho_k, replace=False)
            if len(ro) > rho_k:
                ro = rng.choice(ro, size=rho_k, replace=False)
            cn = np.unique(np.concatenate([new_lists[v], rn]))
            co = np.unique(np.concatenate([old_lists[v], ro]))
            co = np.setdiff1d(co, cn, assume_unique=True)
            m_new, m_all = len(cn), len(cn) + len(co)
            if m_new == 0 or m_all < 2:
                continue
            block = np.concatenate([cn, co])
            d2 = pairwise_l2_sq(mat[block], mat[block])
            # pairs with ≥1 new member: (new i, any j>i) — the paper's
            # local join (reference get_nn_updates_to_make,
            # nndescent.py:139-172)
            ai, bi = np.triu_indices(m_all, k=1)
            keep = ai < m_new
            ai, bi = ai[keep], bi[keep]
            u1, u2 = block[ai], block[bi]
            dd = d2[ai, bi]
            srcs.append(np.concatenate([u1, u2]))
            dsts.append(np.concatenate([u2, u1]))
            d2s.append(np.concatenate([dd, dd]))

        if not srcs:
            break
        updates = _merge_round(nb_dist, nb_idx, nb_new, np.concatenate(srcs), np.concatenate(dsts), np.concatenate(d2s), k_eff)
        if updates < threshold:
            break

    # each list is sorted by (dist, dst) with unfilled slots (-1, inf)
    # last, so a node's finite entries are its ranks 1..
    found = (nb_idx >= 0) & np.isfinite(nb_dist)
    rnk = np.cumsum(found, axis=1)
    keep = found & (rnk <= k_out)
    return pd.DataFrame(
        {
            "src": np.repeat(ids, k_eff).reshape(n, k_eff)[keep],
            "dst": ids[nb_idx[keep]],
            "dist_sq": nb_dist[keep],
            "rnk": rnk[keep].astype(np.int32),
        }
    )


def _merge_round(nb_dist, nb_idx, nb_new, src, dst, d2, k_eff: int) -> int:
    """Vectorized equivalent of the reference's per-update
    nn_update_heap (nndescent.py:174-192): per node, merge candidate
    edges with the current list — dedupe by dst keeping best distance,
    sort by (dist, dst), truncate to k. Returns number of changed
    slots (the reference's update counter)."""
    n = nb_dist.shape[0]
    # deduplicate identical (src, dst) candidates, keep min dist
    order = np.lexsort((d2, dst, src))
    src, dst, d2 = src[order], dst[order], d2[order]
    first = np.ones(len(src), dtype=bool)
    first[1:] = (src[1:] != src[:-1]) | (dst[1:] != dst[:-1])
    src, dst, d2 = src[first], dst[first], d2[first]

    updates = 0
    starts = np.searchsorted(src, np.arange(n))
    ends = np.searchsorted(src, np.arange(n), side="right")
    for v in range(n):
        s, e = starts[v], ends[v]
        if s == e:
            continue
        cand_i, cand_d = dst[s:e], d2[s:e]
        valid = nb_idx[v] >= 0
        cur_i = nb_idx[v][valid]
        cur_d = nb_dist[v][valid]
        cur_n = nb_new[v][valid]
        all_i = np.concatenate([cur_i, cand_i])
        all_d = np.concatenate([cur_d, cand_d])
        all_new = np.concatenate([cur_n, np.ones(len(cand_i), dtype=bool)])
        # dedupe by dst keeping the best distance (a candidate replaces
        # a random-init ∞ entry for the same dst; identical real pairs
        # have identical distances so ties keep the current entry)
        o = np.lexsort((all_new, all_d, all_i))
        all_i, all_d, all_new = all_i[o], all_d[o], all_new[o]
        keep = np.ones(len(all_i), dtype=bool)
        keep[1:] = all_i[1:] != all_i[:-1]
        all_i, all_d, all_new = all_i[keep], all_d[keep], all_new[keep]
        o = np.lexsort((all_i, all_d))[:k_eff]
        merged_i, merged_d, merged_new = all_i[o], all_d[o], all_new[o]
        prev_finite = cur_i[np.isfinite(cur_d)]
        changed = int((~np.isin(merged_i, prev_finite)).sum())
        if changed == 0 and len(merged_i) == len(cur_i):
            continue
        updates += changed
        kk = len(merged_i)
        nb_idx[v, :kk], nb_dist[v, :kk], nb_new[v, :kk] = merged_i, merged_d, merged_new
        nb_idx[v, kk:], nb_dist[v, kk:], nb_new[v, kk:] = -1, np.inf, False
    return updates

