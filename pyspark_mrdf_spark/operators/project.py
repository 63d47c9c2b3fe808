"""Linear dimensionality reduction for embedding columns.

PCA is the standard pre-index step at corpus scale: a 100 TB embedding
table at d=768 spends most of its ANN cost moving bytes, and the first
~1/6th of the PCA spectrum usually carries ~90% of the energy — so the
production pipeline trains a rotation once on a bounded sample,
projects every vector (embarrassingly parallel, zero shuffle), and
builds the index in the reduced space. q119's prefix-dimension search
is the naive form of the same idea (truncate raw dims); PCA is its
principled sibling — rotate first so the kept prefix is the
energy-optimal one.

Determinism contract (the repo-wide rule): training reads an
md5-ordered bounded sample (same rows on any engine or partitioning,
the ``ivf_train_centroids`` pattern) through ``pca_components`` — the
single source of truth for the arithmetic, replayed by oracles on
DuckDB-loaded rows (q57's technique). The projection kernel
accumulates over input dims in STRICTLY SEQUENTIAL order, so every
output coordinate is bit-identical to a left-assoc SQL sum of the same
terms (see ``_seq_sq_dists`` in operators/quantize.py for why NumPy's
tree-reducing ``.sum``/``@`` cannot appear on the per-row path).

Reference parity note: the reference engine has no reduction operator;
this extends the vector family beyond it (same status as the
quantization ladder, SURVEY.md §2 'beyond the reference').
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from pyspark_mrdf_spark.operators.util import checkpoint, md5_sample


def pca_components(x: np.ndarray, d_out: int) -> tuple[np.ndarray, np.ndarray]:
    """(mean, components) from a float64 sample matrix — the single
    source of truth oracles replay.

    mean: (d,) sample mean. components: (d, d_out) — columns are the
    top-``d_out`` unit eigenvectors of the sample covariance, ordered
    by descending eigenvalue, each sign-fixed so its largest-|entry|
    coordinate is positive (eigenvectors are only defined up to sign;
    the fix makes the result a function of the data alone).

    Train-time arithmetic (gemm, eigh) may tree-reduce freely: only
    the RESULT is shared (inlined as literals on the oracle side), so
    determinism here means "same sample matrix -> same floats in this
    process", which LAPACK satisfies; the per-row fold discipline
    applies to the projection kernel, not to training."""
    x = np.asarray(x, dtype=np.float64)
    mean = x.mean(axis=0)
    xc = x - mean
    cov = (xc.T @ xc) / max(len(x) - 1, 1)
    w, v = np.linalg.eigh(cov)  # ascending eigenvalues
    order = np.argsort(w)[::-1][:d_out]
    comp = v[:, order]
    for j in range(comp.shape[1]):
        i = int(np.argmax(np.abs(comp[:, j])))
        if comp[i, j] < 0:
            comp[:, j] = -comp[:, j]
    return mean, comp


def pca_train(
    df: DataFrame,
    d_out: int,
    sample_size: int = 2048,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray]:
    """Train a PCA rotation on the md5-ordered bounded sample (same
    rows on any engine/partitioning; collect bounded by construction
    at sample_size·d floats — the legitimate sample-to-driver training
    pattern). Returns (mean (d,), components (d, d_out))."""
    x = md5_sample(df, sample_size, seed, id_col, vec_col, "pca_train")
    return pca_components(x, d_out)


def opq_balanced_order(variances: np.ndarray, n_subspaces: int) -> np.ndarray:
    """Eigenvalue-allocation permutation (the parametric OPQ of Ge et
    al., CVPR 2013 — public method): assign PCA dimensions to
    ``n_subspaces`` equal-capacity buckets so the per-bucket variance
    PRODUCTS balance. Greedy: walk dims by descending variance, give
    each to the unfull bucket with the smallest current log-product.
    Returns the dim permutation (bucket-0 dims first, then bucket-1,
    ...), so contiguous ``d_sub`` slices of the permuted space are the
    balanced subspaces PQ trains on.

    Why products: a subquantizer's distortion at a fixed code budget
    scales with the GEOMETRIC mean of its dims' variances, so the
    contiguous-PCA split (all the top eigenvalues in subspace 0) wastes
    codebook capacity on one subspace while the tail subspaces encode
    noise — exactly the imbalance this permutation removes.

    SCALE-INVARIANCE (r13 advisor fix, strengthened): the r12 greedy
    ran raw log-variances through plain argmin-sum (LPT). That
    degenerates when every variance is < 1 (all logs negative — e.g.
    L2-normalized embeddings): whichever bucket has the MOST dims has
    the smallest log-sum and attracts every subsequent dim until
    full, so the permutation silently collapses to the identity — the
    contiguous PCA split the balancing exists to beat (advisor-
    measured: zero recall gain). Plain mean-centering (the advisor's
    sketch) removes the degenerate attractor but is NOT
    balance-preserving either — the shift is per-dim, so buckets at
    different fill counts compare shifted by different totals, and on
    the decaying spectrum it measured 1.7× WORSE spread than the r12
    greedy. The fix that dominates both (measured spreads on the
    test spectrum: r12 6.81, centered-argmin 11.26, this 0.78 —
    identical on the spectrum × any constant):
     - center the logs (logv −= logv.mean()), making the permutation
       a function of the spectrum's SHAPE alone (total = 0, so the
       per-bucket target is 0);
     - process dims by DESCENDING |centered log| (the dims that can
       unbalance most get placed while buckets are still comparable —
       LPT's rationale, applied to signed values);
     - assign a positive-log dim to the open bucket with the SMALLEST
       running sum, a negative-log dim to the LARGEST (pairing
       extremes drives every bucket toward the zero target; argmin
       for negatives would pile the tail into one bucket).
    Ties (flat spectra) break by lowest bucket index, then the stable
    dim order — deterministic, same as r12."""
    variances = np.asarray(variances, dtype=np.float64)
    d = len(variances)
    if d % n_subspaces:
        raise ValueError(f"d={d} not divisible by n_subspaces={n_subspaces}")
    cap = d // n_subspaces
    logv = np.log(np.maximum(variances, 1e-300))
    logv = logv - logv.mean()
    order = np.argsort(-np.abs(logv), kind="stable")
    buckets: list[list[int]] = [[] for _ in range(n_subspaces)]
    logprod = np.zeros(n_subspaces)
    for dim in order:
        open_b = [b for b in range(n_subspaces) if len(buckets[b]) < cap]
        lv = float(logv[dim])
        if lv > 0:
            b = min(open_b, key=lambda i: (logprod[i], i))
        else:
            b = min(open_b, key=lambda i: (-logprod[i], i))
        buckets[b].append(int(dim))
        logprod[b] += lv
    return np.array([dim for b in buckets for dim in b], dtype=np.int64)


def opq_components(x: np.ndarray, n_subspaces: int) -> tuple[np.ndarray, np.ndarray]:
    """(mean, rotation) for OPQ-lite PQ pre-rotation from a float64
    sample matrix — the single source of truth oracles could replay
    (same exposure contract as ``pca_components``, which it builds on).

    rotation: (d, d) orthogonal — the FULL PCA basis with columns
    permuted by ``opq_balanced_order`` so contiguous subspace slices
    have balanced variance products. Rotating is an isometry (plus the
    mean shift, which L2 distances ignore), so exact neighbors are
    unchanged; only the PQ code geometry improves."""
    x = np.asarray(x, dtype=np.float64)
    mean, comp = pca_components(x, x.shape[1])
    xc = x - mean
    # per-PCA-dim sample variances = eigenvalues (computed as the
    # projected sample's second moments, so the allocation sees exactly
    # the basis pca_components fixed the signs of)
    var = np.square(xc @ comp).sum(axis=0) / max(len(x) - 1, 1)
    return mean, comp[:, opq_balanced_order(var, n_subspaces)]


def opq_train(
    df: DataFrame,
    n_subspaces: int,
    sample_size: int = 2048,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray]:
    """Train the OPQ-lite rotation on the md5-ordered bounded sample
    (the ``pca_train`` discipline: same rows on any engine or
    partitioning; driver state bounded at sample_size·d floats).
    Returns (mean (d,), rotation (d, d)); apply with
    ``pca_project_vec`` (d_out = d), then PQ-train on the rotated
    corpus with contiguous subspaces as usual."""
    x = md5_sample(df, sample_size, seed, id_col, vec_col, "opq_train")
    return opq_components(x, n_subspaces)


def project_kernel(v: np.ndarray, mean: np.ndarray, comp: np.ndarray) -> np.ndarray:
    """(n, d_out) projection with STRICTLY SEQUENTIAL accumulation over
    input dims: out_j = fold-left over i of (v_i - mean_i)·comp[i, j] —
    bit-identical to the oracle's left-assoc SQL sum of the same terms.
    Starts from the i=0 term (not a 0.0 seed) so a would-be -0.0 result
    keeps the sign the SQL fold produces."""
    v = np.asarray(v, dtype=np.float64)
    acc = (v[:, 0:1] - mean[0]) * comp[0][None, :]
    for i in range(1, comp.shape[0]):
        acc = acc + (v[:, i : i + 1] - mean[i]) * comp[i][None, :]
    return acc


def pca_project(
    df: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_prefix: str = "p",
) -> DataFrame:
    """Project every vector onto the trained components — one
    mapInPandas pass, zero shuffle, O(parameters) closure (d·d_out
    doubles ride task serialization; at d=768, d_out=128 that's 786 KB
    — broadcast-free by design). Output: (id, p0..p{d_out-1} double)
    scalar columns, index- and driver-hash-friendly."""
    mean = np.asarray(mean, dtype=np.float64)
    comp = np.asarray(components, dtype=np.float64)
    d_out = comp.shape[1]
    out_cols = [f"{out_prefix}{j}" for j in range(d_out)]
    schema = f"{id_col} long, " + ", ".join(f"{c} double" for c in out_cols)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            v = np.stack(b[vec_col].to_numpy())
            out = project_kernel(v, mean, comp)
            res = {id_col: b[id_col].to_numpy()}
            for j, c in enumerate(out_cols):
                res[c] = out[:, j]
            yield pd.DataFrame(res)

    return df.select(id_col, vec_col).mapInPandas(gen, schema)


def pca_project_vec(
    df: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``pca_project`` emitting ONE array<double> column (named
    ``vec_col``) instead of scalar columns — the shape the search
    operators consume. Same kernel, same determinism contract."""
    mean = np.asarray(mean, dtype=np.float64)
    comp = np.asarray(components, dtype=np.float64)
    schema = f"{id_col} long, {vec_col} array<double>"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            v = np.stack(b[vec_col].to_numpy())
            out = project_kernel(v, mean, comp)
            yield pd.DataFrame(
                {id_col: b[id_col].to_numpy(), vec_col: list(out)}
            )

    return df.select(id_col, vec_col).mapInPandas(gen, schema)


def pca_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    d_out: int = 16,
    k_candidates: int | None = None,
    sample_size: int = 2048,
    seed: int = 42,
    n_blocks: int = 8,
    n_query_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
    mean: np.ndarray | None = None,
    components: np.ndarray | None = None,
) -> DataFrame:
    """Two-stage search in the ROTATED truncated space: candidates by
    exact scan over the d_out-dim PCA projection (d_out/d of the scan
    bytes and flops, like q119's raw prefix — but the kept dims are
    the energy-optimal ones, so on anisotropic data the same candidate
    budget buys strictly more recall; law-tested), then exact
    full-dimension rerank of candidates only. ``knn_search`` output
    contract (src, dst, dist_sq, rnk).

    Pass (mean, components) to serve off a frozen rotation (train
    once, search many — the persisted-index discipline); omit to train
    on the corpus in-call. Both stages are proven operators (blocked
    grid scan, shared rerank tail), so grid-cell bounds and
    candidate-sized rerank are inherited."""
    from pyspark_mrdf_spark.operators.quantize import _rerank_exact
    from pyspark_mrdf_spark.operators.similarity import knn_search_blocked

    if k_candidates is None:
        k_candidates = 8 * k
    if mean is None or components is None:
        mean, components = pca_train(
            corpus, d_out, sample_size=sample_size, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
    qp = pca_project_vec(queries, mean, components, id_col, vec_col)
    cp = pca_project_vec(corpus, mean, components, id_col, vec_col)
    cand = knn_search_blocked(
        qp, cp, k_candidates,
        n_blocks=n_blocks, n_query_blocks=n_query_blocks,
        id_col=id_col, vec_col=vec_col, include_self=include_self,
    ).select("src", "dst")
    return _rerank_exact(cand, queries, corpus, k, id_col, vec_col)


def pca_sq8_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    d_out: int = 16,
    k_candidates: int | None = None,
    sample_size: int = 2048,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
    mean: np.ndarray | None = None,
    components: np.ndarray | None = None,
    weighted: bool = True,
) -> DataFrame:
    """REDUCE → QUANTIZE → RERANK, the production index composition
    (OPQ's shape without the codebook): PCA to ``d_out`` dims, SQ8 the
    projected space to 1 B/dim — a d_out-byte/row candidate index,
    d·8/d_out× below the float64 working set (32× at 64→16) — scan it
    with exact INTEGER code distances, rerank candidates at full
    precision on the ORIGINAL vectors. Each stage is a proven operator
    (``pca_project_vec``; ``sq8_train``, ``sq8_encode`` and
    ``quantize.candidates``; ``_rerank_exact``), so grid bounds,
    integer determinism, and the candidate-sized rerank are all
    inherited; the q133 oracle replays the whole composition —
    bit-exact projection, IEEE-determined codes, integer candidate
    distances — in SQL.

    Measured regimes (SCALABILITY.json pca-serving rows, r8): at
    n=50k/d=64 the composition serves ~2x faster than full-d SQ8 at
    equal recall 1.0 and the same candidate budget (quarter the scan
    bytes/flops). At n=1M the SPECTRUM decides: on flat-spectrum data
    (isotropic mixture) 16 kept dims carry ~25% of the energy and
    recall collapses to 0.37 — don't reduce flat spectra; on a
    decaying spectrum (scales 4.0->0.1, the shape trained embeddings
    have) the rotated 16-dim candidates hold recall 0.86 where full-d
    SQ8 at its own budget drops to 0.48 — 4x fewer index bytes per
    unit of recall. The pre-reduction call that picks d_out should
    check the sample eigenvalue decay (pca_components returns the
    basis; the energy fraction is one cumsum away)."""
    from pyspark_mrdf_spark.operators.quantize import (
        _rerank_exact,
        candidates,
        sq8_encode,
        sq8_train,
    )

    if k_candidates is None:
        k_candidates = 8 * k
    if mean is None or components is None:
        mean, components = pca_train(
            corpus, d_out, sample_size=sample_size, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
    # checkpoint the projected corpus: train (min/max pass) and encode
    # would otherwise each re-run the projection lineage
    cp = checkpoint(pca_project_vec(corpus, mean, components, id_col, vec_col))
    qp = pca_project_vec(queries, mean, components, id_col, vec_col)
    mn, mx = sq8_train(cp, vec_col)
    codes = sq8_encode(cp, mn, mx, id_col, vec_col)
    # weighted by default: the PROJECTED space is anisotropic BY
    # CONSTRUCTION (PCA orders dims by variance), exactly the spectrum
    # the plain code distance distorts — see sq8_range_weights
    cand = candidates(
        qp, codes, k_candidates, {"mn": mn, "mx": mx},
        id_col=id_col, vec_col=vec_col, include_self=include_self,
        weighted=weighted,
    ).select("src", "dst")
    return _rerank_exact(cand, queries, corpus, k, id_col, vec_col)
