"""Quantized search — the engine's approximate tier of exact k-NN
(reference knn.py:4-26) and the memory tier of the similarity stack.

At 100 TB the ANN bottleneck is not flops but bytes: a float32 64-d
embedding is 256 B/row, so a 10^11-row corpus is ~25 TB of raw vectors
that every scan must move. Each codec stores a compact code per row,
scans the codes for candidates, and reranks only the candidates at full
precision (``_rerank_exact``) — the same discipline as every other
candidate-generation operator in this engine (LSH, IVF, banding).

Four codecs, one table (``_CODECS``). Each entry is the codec's
train, encode and candidate-score kernel:

  sq8    per-dim (min, max) → 1 B/dim codes; symmetric integer
         code-space L2, optionally range-weighted (``weighted=True``)
  bq     per-dim median thresholds → 1 bit/dim; Hamming distance
  pq     per-subspace Lloyd codebooks → 1 B/subspace; asymmetric
         table-lookup distance (ADC)
  ivfpq  coarse cells + residual PQ codebooks → cell id + 1 B/subspace;
         probe n_probe cells, ADC inside each probed cell

Three functions serve every codec:

  candidates(queries, codes, k, params)  →  (src, dst, dist): top-k per
      query in the code domain (dist is long for sq8/bq, double for
      pq/ivfpq), scanning ``codes`` as they are partitioned;
  search_encoded(queries, params, codes, corpus, k)  →  (src, dst,
      dist_sq, rnk): candidates, then the exact rerank on ``corpus``.
      The params name the codec and carry any OPQ rotation, so
      ``read_index``'s output feeds it unchanged;
  search(queries, corpus, k, kind, **train_kw): train, encode, then
      ``search_encoded`` — the per-call convenience path.

sq8, bq and pq share one flat scan (``_flat_scan``); ivfpq keeps its
probe/salt/per-cell cogroup (``_ivfpq_scan``); both end in the same
per-block top-k tail, and ``_scan_codes`` merges their candidates with
``operators.util.topk_merge``. Five functions persist
every codec (``write_index``, ``read_index``, ``build_index``,
``append_index``, ``merge_indexes``; see the persistence section).

Determinism contract: SQ8 codes are ``floor((v - mn) * 255 / (mx - mn)
+ 0.5)`` evaluated in float64 with exactly that association, so a SQL
engine computing the same expression derives bit-identical codes, and
the symmetric code-space distance is integer math — the whole
candidate stage hash-verifies cross-engine (q89's oracle). Constant
dimensions (mx == mn) encode as 0. BQ thresholds are elements of the
data and Hamming is integer (q116); PQ/IVF-PQ training replays from
one md5-ordered sample and every ADC sum is a strict left fold (q92,
q95). Results are partition-independent: local top-k by (dist, dst)
is associative.

Measured win regime (SCALABILITY.json, synthetic-200000x512-serving,
r8): serving 2000-query batches off a PERSISTED SQ8 index at
n=200k/d=512 costs 6.8-9.8 s/batch vs 26.8-37.7 s/batch exact at
recall 1.0 — ~3.9x faster at the memory-bound operating point, with
the one-time index build (6.2 s) amortized across batches. That is
the bytes-moved argument above converted into evidence: the exact
scan moves ~n·d·16 B per query block where SQ8 moves n·(d+8) B.
IVF-PQ at the same point matches exact wall-clock (28.9-35.4 s,
recall 0.957 at a 640-candidate rerank budget): at d=512
same-cluster distances concentrate, so recall must be bought with a
larger candidate stage. A second point (synthetic-500000x128-serving)
repeats the SQ8 win (6.1-7.7 s warm vs 21-24 s exact, recall 1.0)
and pins down IVF-PQ's honest tradeoff: 256 cells / probe 32 /
256-code books reach recall 0.9967 at a 12.5% scan fraction on a
32 B/row index — 32× below the float64 working set — but cost
29-59 s/batch, because at in-memory BLAS speeds the exact gemm beats
ADC gathers per candidate. IVF-PQ's measured value is therefore
index BYTES and scan pruning — the I/O-bound regime where the corpus
does not fit executor memory and 1/8th of 32 B/row is what gets read
— not local-mode CPU wall-clock. A third, largest-n point
(synthetic-1000000x64-serving, r8) closes the sweep: SQ8 keeps its
win at n=1M (recall 0.9996, warm 11-21 s/batch vs exact 32-72 s),
and IVF-PQ's two operating points bracket its tradeoff — 6.25% scan
with small codebooks is SQ8-fast but recall 0.69; buying recall 0.97
(probe 32, 256-entry books, 1600 cand) costs more than the scan
fraction saves while the 72 B/row SQ8 table stays RAM-resident.
Same conclusion at three (n, d) points: SQ8 is the local measured-win
tier; IVF-PQ is the 3-9× smaller-index tier whose wall-clock win
needs storage-layer pruning to bite. BQ (synthetic-200000x512-bq-
serving) reaches recall 0.9669 at a 640-candidate budget and 1.0 at
2560, but its wide budget's merge + rerank outweighs the 8× scan-byte
saving vs SQ8: its value is the 72 B/row stored index at d=512.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass
from functools import partial, reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_mrdf_spark.io import (
    read_params_file,
    read_stream_partitions,
    same_path,
    write_params_file,
)
from pyspark_mrdf_spark.operators.util import checkpoint, md5_sample, topk_merge


def sq8_train(df: DataFrame, vec_col: str = "embedding") -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension (min, max) over the corpus, as two float64 arrays.

    Distributed shape: posexplode -> groupBy(pos) min/max is a
    map-side-combined aggregate onto d keys — the only corpus-sized
    pass, and it moves d partial rows per task, never vectors. The
    result is O(d) driver state (the quantizer itself), like IVF's
    centroid table. min/max are order-independent, so the values are
    exact regardless of partitioning, and widening float32 inputs to
    float64 is value-preserving — the quantizer is engine-portable.
    """
    rows = (
        df.select(F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    )
    if not rows:
        raise ValueError("sq8_train: empty corpus (no vectors to train the quantizer on)")
    d = max(r["pos"] for r in rows) + 1
    mn = np.zeros(d, dtype=np.float64)
    mx = np.zeros(d, dtype=np.float64)
    for r in rows:
        mn[r["pos"]] = r["mn"]
        mx[r["pos"]] = r["mx"]
    return mn, mx


def sq8_codes(mat: np.ndarray, mn: np.ndarray, mx: np.ndarray) -> np.ndarray:
    """Quantize a (n, d) float matrix to uint8 codes.

    The op order ``(v - mn) * 255.0 / rng + 0.5`` then ``floor`` is the
    determinism contract shared with q89's SQL oracle — do not
    re-associate it. Values inside [mn, mx] land in [0, 255] by
    construction; the clip only guards out-of-range QUERY vectors
    quantized against a corpus-trained quantizer."""
    rng = mx - mn
    safe = np.where(rng == 0.0, 1.0, rng)
    t = np.floor((mat.astype(np.float64) - mn) * 255.0 / safe + 0.5)
    t = np.where(rng == 0.0, 0.0, t)
    return np.clip(t, 0.0, 255.0).astype(np.uint8)


def _collect_queries(
    queries: DataFrame, id_col: str, vec_col: str, op: str
) -> tuple[np.ndarray, np.ndarray]:
    """ONE driver materialization of the bounded query batch —
    (q_ids int64, raw stacked vector matrix) — shared by a search
    call's candidate stage and its rerank tail. Collecting in each
    stage separately would run the query DataFrame's lineage twice per
    batch (a full duplicate scan when the queries are computed, e.g.
    an embed_payloads output) and hold two driver copies."""
    qpdf = queries.select(id_col, vec_col).toPandas()
    if len(qpdf) == 0:
        raise ValueError(f"{op}: empty query set")
    return qpdf[id_col].to_numpy(dtype=np.int64), np.stack(qpdf[vec_col].to_numpy())


def _map_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    kernel,
    schema: str = "vec_id long, code binary",
) -> DataFrame:
    """The one mapInPandas scaffold behind every ``*_encode``:
    ``kernel(mat)`` maps an Arrow batch's stacked vectors to its output
    columns besides ``vec_id``, and the ``code`` uint8 matrix it returns
    is packed one BINARY cell per row. The codec params ride along in
    the kernel's closure as task constants (O(params), like a broadcast
    literal)."""

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cols = kernel(np.stack(pdf[vec_col].to_numpy()))
            cols["code"] = [c.tobytes() for c in cols["code"]]
            yield pd.DataFrame({"vec_id": pdf[id_col].to_numpy(dtype=np.int64), **cols})

    return df.select(id_col, vec_col).mapInPandas(_enc, schema)


def sq8_encode(
    df: DataFrame,
    mn: np.ndarray,
    mx: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code binary): each row's d uint8 codes packed into one
    BINARY cell — the stored index representation (1 byte/dim)."""
    mn_b, mx_b = mn.copy(), mx.copy()
    return _map_encode(df, id_col, vec_col, lambda mat: {"code": sq8_codes(mat, mn_b, mx_b)})


def sq8_range_weights(
    mn: np.ndarray, mx: np.ndarray, scale: int = 1024
) -> np.ndarray:
    """Integer per-dimension weights restoring the TRUE metric's scale
    to the code-space distance: w_i = max(1, floor(scale·(rng_i/
    rng_max)² + 0.5)) as int64, where rng_i = mx_i − mn_i.

    Why: the plain code distance Σ(q_code−c_code)² weighs every dim
    equally (each spans 0-255 regardless of its real range), which
    DISTORTS anisotropic metrics — measured at n=1M with per-dim scales
    ramping 4.0→0.1 (SCALABILITY.json pca-serving-aniso row), unweighted
    SQ8 recall fell to 0.48 at a 40-candidate budget while the true
    metric's per-dim contribution goes as rng_i². Weighting the code
    distance by round(scale·(rng_i/rng_max)²) makes the candidate
    ordering track the true metric again, costs nothing at scan time
    (the weights fold into the gemm operands), and stays EXACT integer
    arithmetic — floor(x+0.5) on IEEE doubles, derived from (mn, mx)
    only, so any engine derives bit-identical weights.

    Measured at n=1M (the same SCALABILITY row): weighted recall
    **1.0** vs 0.4847 unweighted at the identical 40-candidate budget,
    identical stored index, and the same wall (21-26 s/batch) — the
    entire recall cliff was candidate-ordering distortion, not
    quantization error. Law-pinned at small n in
    tests/test_similarity_api.py (minimal-budget ordering test)."""
    mn = np.asarray(mn, dtype=np.float64)
    mx = np.asarray(mx, dtype=np.float64)
    rng = mx - mn
    top = float(rng.max())
    if top <= 0.0:
        return np.ones(len(rng), dtype=np.int64)
    w = np.floor(scale * (rng / top) ** 2 + 0.5).astype(np.int64)
    return np.maximum(w, 1)


def _sq8_prep(q_mat: np.ndarray, params: dict, weighted: bool = False) -> tuple:
    """Query side of the SQ8 scan: the batch's int32 codes and the
    integer per-dimension weights — all 1 (the plain code distance)
    unless ``weighted``, then ``sq8_range_weights`` of the index's own
    (mn, mx). The stored index is the same either way, so a deployment
    can flip the flag per query batch without re-encoding."""
    mn, mx = params["mn"], params["mx"]
    q_codes = sq8_codes(q_mat, mn, mx).astype(np.int32)
    if weighted:
        w = sq8_range_weights(mn, mx)
    else:
        w = np.ones(q_codes.shape[1], dtype=np.int64)
    return q_codes, w, weighted


def _sq8_kernel(qc: np.ndarray, wv: np.ndarray, weighted: bool):
    """Symmetric code-space L2, Σ_d w_d·(q_code_d − c_code_d)² — exact
    integer arithmetic, so the candidate set is bit-reproducible on any
    engine. Exactness bound with weights: the distance can reach
    3·d·w_max·255² (≈2^33.6 at d=64, w_max=1024), and the tie-fold key
    multiplies it by the width of the scored block — one Arrow batch
    of ``_flat_scan``, at most spark.sql.execution.arrow.
    maxRecordsPerBatch rows (10k ≈ 2^13.3 by default) whatever the
    slab size. Blocks must stay ≤ 2^53 / (3·d·w_max·255²) columns
    (≈2^19 at d=64) to keep the key inside float64-exact range, so the
    default batch is safe with ~50× margin even at those weights."""
    # float32 fast tier (unweighted, d ≤ 129): every value in the
    # assembly is an INTEGER below 2^24, so float32 is exact —
    # per-dot q·c ≤ d·255² ≤ 129·65025 = 8,388,225 (every gemm partial
    # sum included), cc ≤ the same, and g = cc − 2q·c spans
    # [−16,776,450, 8,388,225], all inside float32's 2^24 = 16,777,216
    # exact-integer range. Halving operand/output bytes matters because
    # the 32-way-concurrent scan is MEMORY-BANDWIDTH-bound (measured:
    # the identical gemm runs 6× slower at 32 concurrent tasks than
    # alone), and the float32 path also skips the fold-key temp.
    use_f32 = not weighted and qc.shape[1] <= 129
    wf = wv.astype(np.float64)
    # fold the weights into the query operand: Σ w·q·c = (q⊙w)·c,
    # so the corpus-side gemm operand stays the raw 1 B/dim codes
    qcf = (
        qc.astype(np.float32)
        if use_f32
        else qc.astype(np.float64) * wf[None, :]
    )
    qq = ((qc.astype(np.int64) ** 2) * wv[None, :]).sum(axis=1).astype(np.float64)

    def score(c_mat: np.ndarray) -> np.ndarray:
        cf = c_mat.astype(np.float32 if use_f32 else np.float64)
        if use_f32:
            cc = np.einsum("ij,ij->i", cf, cf)
        else:
            cc = (
                (c_mat.astype(np.int64) ** 2) * wv[None, :]
            ).sum(axis=1).astype(np.float64)
        # rank within a row by g = ||c||² − 2q·c (the row-constant
        # ||q||² cannot change per-row order; it is added back after
        # selection). EXACT in the chosen float width: every dot/norm
        # is an integer ≤ w·255²·d ≪ 2^53 (float64) or ≤ 255²·129 <
        # 2^24 (float32 tier), and floats are also why this is fast —
        # the gemm takes the BLAS path (integer matmul has none) and
        # the elementwise assembly is SIMD (an int64 assembly of the
        # full matrix measured 4.9s per 5000×12500 task; this form
        # ~0.5s)
        g = qcf @ cf.T
        g *= -2.0
        g += cc[None, :]
        return g

    # float32 tier: plain introselect on g (4 B/elem — no n_c·g
    # fold-key temp), then the exact tie repair; integer-valued
    # distances make the boundary comparison exact. Measured 1.56× the
    # fold-key path single-threaded, more under the 32-way scan's
    # bandwidth contention.
    return score, (_select_topk_ties if use_f32 else _select_folded), qq


# byte -> popcount lookup: the Hamming kernel's only table. uint8 is
# plenty (max popcount of a byte is 8) and keeps the gather output
# small before the int64 accumulation.
_POPCOUNT = np.unpackbits(
    np.arange(256, dtype=np.uint8)[:, None], axis=1
).sum(axis=1).astype(np.uint8)


def bq_train(df: DataFrame, vec_col: str = "embedding") -> np.ndarray:
    """Per-dimension nearest-rank MEDIAN thresholds, as one float64
    array — the binary quantizer (Jegou et al.'s sign-split baseline;
    the 1-bit tier Lucene/FAISS ship as ``BQ``/``binary`` indexes).

    The median (not the mean) is the determinism anchor: a nearest-rank
    pick is an ELEMENT of the data, so any engine sorting the same
    multiset picks the bit-identical value — no float summation-order
    drift (a mean would tree-reduce differently per partitioning).
    Distributed shape: posexplode -> per-dimension window row_number
    (the only corpus-sized pass; each of the d keys sorts its n values
    within one task — at true 100 TB scale substitute the q106 sampled
    nearest-rank, which the quantizer consumes unchanged).
    """
    n = df.count()
    if n == 0:
        raise ValueError("bq_train: empty corpus (no vectors to train thresholds on)")
    target = (n - 1) // 2 + 1
    wk = Window.partitionBy("pos").orderBy("v")
    rows = (
        df.select(F.posexplode(vec_col).alias("pos", "v"))
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") == target)
        .select("pos", "v")
        .collect()
    )
    d = max(r["pos"] for r in rows) + 1
    thr = np.zeros(d, dtype=np.float64)
    for r in rows:
        thr[r["pos"]] = r["v"]
    return thr


def bq_bits(mat: np.ndarray, thr: np.ndarray) -> np.ndarray:
    """(n, d) uint8 bit matrix: 1 where v > thr (strictly — the median
    element itself encodes 0 on every engine; IEEE comparison of
    exactly-roundtripped values is the portability contract)."""
    return (mat.astype(np.float64) > thr).astype(np.uint8)


def bq_encode(
    df: DataFrame,
    thr: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code binary): d sign bits packed into ceil(d/8) bytes per
    row (np.packbits big-endian layout) — 1 BIT/dim, a 32x smaller
    stored index than float32 parquet and 8x smaller than SQ8. The
    tier that fits a 10^11-row corpus in cluster memory."""
    thr_b = thr.copy()
    return _map_encode(
        df, id_col, vec_col, lambda mat: {"code": np.packbits(bq_bits(mat, thr_b), axis=1)}
    )


def _bq_prep(q_mat: np.ndarray, params: dict) -> tuple:
    """Query side of the BQ scan: the batch's packed sign bits."""
    return (np.packbits(bq_bits(q_mat, params["thr"]), axis=1),)


def _bq_kernel(qp: np.ndarray):
    """HAMMING distance in the 1-bit domain, popcount(q_bits XOR
    c_bits) — pure integer, bit-reproducible on any engine. Ties are
    massive at ≤ d+1 distinct distances, so selection folds in the
    id-ordered column index (``_select_folded``).

    1-bit codes keep far less metric information than SQ8's 8-bit ones,
    so the default candidate budget is 8k (vs 4k) — measured at d=64,
    k=5 on the driver corpus: recall 0.64@40 / 0.81@80 / 0.93@160 /
    0.995@320 candidates."""
    # Hamming via BLAS, not a per-byte LUT loop: popcount(q XOR c)
    # == |q|₁ + |c|₁ − 2·q·c on the UNPACKED 0/1 vectors, and every
    # addend is a small nonnegative integer, so the float64 gemm is
    # EXACT (all partial sums are integers ≪ 2^53 — associativity
    # cannot perturb them). The byte-LUT form measured ~10× slower:
    # ceil(d/8) outer-XOR gathers each allocating an (n_q, n_c)
    # temporary vs one gemm over d-column bit matrices
    qb = np.unpackbits(qp, axis=1).astype(np.float64)
    ql1 = qb.sum(axis=1)

    def score(c_mat: np.ndarray) -> np.ndarray:
        cb_bits = np.unpackbits(c_mat, axis=1).astype(np.float64)
        ham = qb @ cb_bits.T
        ham *= -2.0
        ham += cb_bits.sum(axis=1)[None, :]
        ham += ql1[:, None]
        return ham

    return score, _select_folded, None


def pq_train(
    df: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Product-quantization codebooks → (n_subspaces, n_codes, d_sub)
    float64: the d dims split into ``n_subspaces`` contiguous slices,
    each with its own Lloyd-trained codebook.

    Training reuses the engine's deterministic-sample discipline
    (``ivf_train_centroids``): the ``sample_size`` rows with the
    smallest md5(seed:id) — same rows on any engine — through
    ``lloyd_centroids`` per subspace, so an oracle can replay the
    arithmetic and inline bit-identical codebooks (q92)."""
    x = md5_sample(df, sample_size, seed, id_col, vec_col, "pq_train")
    return pq_codebooks(x, n_subspaces, n_codes, iters)


def pq_codebooks(x: np.ndarray, n_subspaces: int, n_codes: int, iters: int) -> np.ndarray:
    """Pure-NumPy codebook core of ``pq_train`` (same exposure contract
    as ``lloyd_centroids``): given the sample matrix — reproducible in
    SQL via the md5 ordering — this function is the single source of
    truth for the arithmetic, so q92's oracle replays it on
    DuckDB-loaded rows and inlines bit-identical codebooks."""
    from pyspark_mrdf_spark.operators.similarity import lloyd_centroids

    d = x.shape[1]
    if d % n_subspaces:
        raise ValueError(f"d={d} not divisible by n_subspaces={n_subspaces}")
    ds = d // n_subspaces
    return np.stack(
        [
            lloyd_centroids(x[:, m * ds : (m + 1) * ds], n_codes, iters)
            for m in range(n_subspaces)
        ]
    )


def pq_assign(mat: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Codes (n, n_subspaces) uint8 for a float matrix: per subspace,
    argmin squared distance to the codebook, ties to the LOWEST code
    (np.argmin first occurrence — matching the SQL oracle's
    ORDER BY dist, code)."""
    n_sub, _, ds = codebooks.shape
    mat = mat.astype(np.float64)
    out = np.empty((len(mat), n_sub), dtype=np.uint8)
    for m in range(n_sub):
        sub = mat[:, m * ds : (m + 1) * ds]
        d2 = _seq_sq_dists(sub, codebooks[m])
        out[:, m] = np.argmin(d2, axis=1)
    return out


def _seq_sq_dists(sub: np.ndarray, cb_m: np.ndarray) -> np.ndarray:
    """(n, n_codes) squared distances with STRICTLY SEQUENTIAL
    accumulation over the subspace dims. NumPy's ``.sum`` tree-reduces
    even 8-element axes (measured: disagrees with a left fold on ~52%
    of random 8-double inputs in the last ulp), while DuckDB's
    ``list_sum`` is a left fold (measured 200/200) — so the PQ
    determinism contract requires this explicit loop, in both encoding
    and the ADC tables."""
    d2 = np.zeros((sub.shape[0], cb_m.shape[0]), dtype=np.float64)
    for i in range(sub.shape[1]):
        diff = sub[:, None, i] - cb_m[None, :, i]
        d2 = d2 + diff * diff
    return d2


def _select_topk_ties(g: np.ndarray, kk: int) -> np.ndarray:
    """Per-row indices of the kk smallest entries of ``g`` (2-D,
    columns pre-sorted by id) with EXACT ties at the selection boundary
    broken to the lowest column: strictly-below-boundary columns plus
    the first boundary-valued columns. The selection rule of the
    float-keyed kernels (PQ ADC, IVF-PQ ADC) and of SQ8's float32
    tier — a tie-break fix lands once, not per kernel. (SQ8's float64
    tier and BQ use ``_select_folded`` instead.)
    """
    n_c = g.shape[1]
    sel = np.argpartition(g, kk - 1, axis=1)[:, :kk]
    t = np.take_along_axis(g, sel, axis=1).max(axis=1)
    tied = np.flatnonzero((g <= t[:, None]).sum(axis=1) > kk)
    for i in tied:
        gi, ti = g[i], t[i]
        lt = np.flatnonzero(gi < ti)
        eq = np.flatnonzero(gi == ti)[: kk - len(lt)]
        sel[i] = np.concatenate([lt, eq])
    return sel


def _select_folded(g: np.ndarray, kk: int) -> np.ndarray:
    """Per-row indices of the kk smallest entries of an INTEGER-valued
    ``g`` (columns pre-sorted by id), selected on g·n_c + column_index,
    NOT on g: quantized distances tie massively (256 code levels/dim,
    ≤ d+1 Hamming distances) and introselect degrades ~6× on
    duplicate-heavy keys — folding in the id-ordered column index makes
    every key unique (fast) AND breaks ties to the lowest dst
    deterministically, so no repair pass exists. Exact in float64 while
    |g|·n_c + j ≪ 2^53 (see the block-width bound in ``_sq8_kernel``)."""
    n_c = g.shape[1]
    key = g * float(n_c)
    key += np.arange(n_c, dtype=np.float64)[None, :]
    return np.argpartition(key, kk - 1, axis=1)[:, :kk]


def _rerank_exact(
    cand: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    q_arrays: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """Full-precision rerank of a candidate edge table (src, dst, ...):
    shuffle-join corpus vectors on the candidate-sized dst side (the
    candidate rows are bare id pairs, ~16 B each, so the exchange moves
    each corpus vector once and nothing else heavy), broadcast the
    bounded query matrix, compute the exact squared L2 in a vectorized
    Arrow kernel, top-k by (dist_sq, dst).

    Two measured-at-d=512 disciplines:
    * Join order — attaching q_vec BEFORE the dst shuffle drags a
      d-double vector per candidate row through the exchange (~5 GB
      and ~2× the whole batch wall at 2000 queries × 640 candidates).
    * Distance in numpy, not the JVM ``l2_sq`` fold — Catalyst's
      higher-order ``aggregate`` lambda is interpreted per element
      (~655M lambda evals for 1.28M pairs at d=512, measured the
      largest slice of the serving batch); the kernel below runs the
      SAME left-fold add order vectorized across rows, so dist_sq is
      bit-identical to ``l2_sq`` and to the oracles' ordered
      ``list_sum`` (see ``_seq_sq_dists`` on why the order is part of
      the determinism contract — ``np.sum`` tree-reduces and is NOT
      usable here).

    Shape: the candidate PAIR table (two longs per row, bounded by
    n_queries × k_candidates — the external-query contract every
    caller here already assumes) rides a broadcast, and the corpus is
    scanned NARROWLY: no corpus shuffle, no corpus sort, each vector
    decoded from parquet/cache exactly once per batch, and only the
    pairs whose dst lands in a partition are scored there. The
    previous shuffle-join shape sorted + exchanged the whole
    corpus-vector side per query batch — measured ~800 MB (and the
    dominant rerank slice) at n=200k, d=512.
    Shared tail of ``search_encoded``, ``project.pca_search`` and
    ``project.pca_sq8_search``."""
    spark = cand.sparkSession
    if q_arrays is None:
        q_arrays = _collect_queries(queries, id_col, vec_col, "_rerank_exact")
    q_ids_arr, q_raw = q_arrays
    q_mat = q_raw.astype(np.float64)

    # pairs sorted by dst so each corpus partition can range-slice its
    # work with two searchsorted calls instead of a Python-dict probe
    # per row
    ppdf = cand.select("src", "dst").toPandas()
    pair_src = ppdf["src"].to_numpy(dtype=np.int64)
    pair_dst = ppdf["dst"].to_numpy(dtype=np.int64)
    order = np.lexsort((pair_src, pair_dst))
    pair_src = pair_src[order]
    pair_dst = pair_dst[order]
    bq = spark.sparkContext.broadcast((q_ids_arr, q_mat, pair_src, pair_dst))

    cv = corpus.select(F.col(id_col).alias("dst"), F.col(vec_col).alias("c_vec"))

    def _dist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qi, qm, psrc, pdst = bq.value
        pos = {int(x): i for i, x in enumerate(qi)}
        d = qm.shape[1]
        # bound the (pairs × d) gather: at wide candidate budgets one
        # corpus partition can own millions of pairs, and gathering
        # them all at once measured multi-GB task allocations (2.6 GB
        # at 5.1M pairs × d=64). ~128M float64 elements per block
        block = max(20_000, 16_000_000 // max(1, d))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_ids = pdf["dst"].to_numpy(dtype=np.int64)
            lo = np.searchsorted(pdst, c_ids, side="left")
            hi = np.searchsorted(pdst, c_ids, side="right")
            counts = hi - lo
            rows = np.flatnonzero(counts)
            if len(rows) == 0:
                continue
            # pair indices for every local dst, concatenated in pair
            # order; c_row maps each pair back to its (compacted) local
            # vector — only rows that are somebody's candidate get
            # decoded at all
            pidx = np.concatenate([np.arange(lo[r], hi[r]) for r in rows])
            c_row = np.repeat(np.arange(len(rows)), counts[rows])
            cm = np.stack(pdf["c_vec"].to_numpy()[rows]).astype(np.float64)
            srcs = psrc[pidx]
            qidx = np.fromiter(
                (pos[int(s)] for s in srcs), dtype=np.int64, count=len(srcs)
            )
            for s0 in range(0, len(srcs), block):
                s1 = min(s0 + block, len(srcs))
                diff = qm[qidx[s0:s1]] - cm[c_row[s0:s1]]
                acc = np.zeros(s1 - s0, dtype=np.float64)
                for j in range(diff.shape[1]):
                    dj = diff[:, j]
                    acc = acc + dj * dj
                yield pd.DataFrame(
                    {
                        "src": srcs[s0:s1],
                        "dst": pdst[pidx[s0:s1]],
                        "dist_sq": acc,
                    }
                )

    return topk_merge(cv.mapInPandas(_dist, "src long, dst long, dist_sq double"), k)


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code binary): one byte per subspace — with the default
    8 subspaces that is 8 B/row against 256 B of float32 parquet, the
    32× compression tier of the similarity stack."""
    cb = codebooks.copy()
    return _map_encode(df, id_col, vec_col, lambda mat: {"code": pq_assign(mat, cb)})


def _pq_prep(q_mat: np.ndarray, params: dict) -> tuple:
    """Query side of the PQ scan: per query one (n_subspaces × n_codes)
    ADC table of sequential-fold sums (see ``_seq_sq_dists``: numpy
    tree-reduces, the SQL twin left-folds)."""
    codebooks = params["codebooks"]
    q_mat = q_mat.astype(np.float64)
    n_sub, n_codes, ds = codebooks.shape
    tables = np.empty((len(q_mat), n_sub, n_codes), dtype=np.float64)
    for m in range(n_sub):
        tables[:, m, :] = _seq_sq_dists(q_mat[:, m * ds : (m + 1) * ds], codebooks[m])
    return (tables,)


def _pq_kernel(tbl: np.ndarray):
    """ASYMMETRIC PQ distance (ADC): each corpus row costs n_subspaces
    table lookups + adds instead of d multiplies — PQ's flop advantage
    over both the exact scan and SQ8, on top of its 8 B/row stored
    index.

    Determinism: every table entry is a strictly SEQUENTIAL (left-fold)
    float64 sum and the per-row total accumulates subspaces
    left-to-right, so a SQL twin computing the same nesting derives
    bit-identical ADC values (q92 inlines the codebooks and mirrors the
    nesting with ordered list_sums). Float ADC values tie exactly
    whenever two corpus rows share a code tuple — ``_select_topk_ties``
    adjudicates the boundary."""

    def score(c_codes: np.ndarray) -> np.ndarray:
        # left-to-right subspace accumulation — the nesting the SQL
        # twin mirrors with list_sum(list(term ORDER BY m))
        g = tbl[:, 0, :][:, c_codes[:, 0]]
        for m in range(1, tbl.shape[1]):
            g = g + tbl[:, m, :][:, c_codes[:, m]]
        return g

    return score, _select_topk_ties, None


def ivfpq_train(
    df: DataFrame,
    n_centroids: int = 8,
    n_subspaces: int = 8,
    n_codes: int = 16,
    sample_size: int = 2048,
    iters_coarse: int = 10,
    iters_pq: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray]:
    """IVF-PQ index parameters: (coarse centroids (n_centroids, d),
    residual PQ codebooks (n_subspaces, n_codes, d_sub)).

    ONE md5-ordered deterministic sample trains both stages: Lloyd
    coarse cells, then per-subspace codebooks on the RESIDUALS
    (vector − its cell centroid) — residual quantization is what makes
    PQ codes sharp inside a cell (the cell explains the coarse
    position; the codes only need the local offset). Every step is a
    pure function of the sample (``_ivfpq_params_from_sample``), so an
    oracle replays it bit-identically on its own engine's rows."""
    x = md5_sample(df, sample_size, seed, id_col, vec_col, "ivfpq_train")
    return _ivfpq_params_from_sample(
        x, n_centroids, n_subspaces, n_codes, iters_coarse, iters_pq
    )


def _ivfpq_params_from_sample(
    x: np.ndarray,
    n_centroids: int,
    n_subspaces: int,
    n_codes: int,
    iters_coarse: int,
    iters_pq: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Pure-NumPy core of ``ivfpq_train`` (oracle-replayable, the
    ``lloyd_centroids``/``pq_codebooks`` exposure contract)."""
    from pyspark_mrdf_spark.functions.vector import l2_argsort_topm
    from pyspark_mrdf_spark.operators.similarity import lloyd_centroids

    coarse = lloyd_centroids(x, n_centroids, iters_coarse)
    assign = l2_argsort_topm(x, coarse, 1)[:, 0]
    residuals = x - coarse[assign]
    return coarse, pq_codebooks(residuals, n_subspaces, n_codes, iters_pq)


def ivfpq_encode(
    df: DataFrame,
    coarse: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, code binary): each vector stored in its nearest
    coarse cell with the PQ code of its RESIDUAL — n_subspaces bytes +
    a cell id per row, the IVF-PQ stored index. Ties in the coarse
    assignment break to the lower cell id (gemm-speed exact-tie
    nearest-cell pick, `l2_argsort_topm` — the q51 oracle
    discipline)."""
    from pyspark_mrdf_spark.functions.vector import l2_argsort_topm

    cb = codebooks.copy()
    cm = coarse.copy()

    def _kernel(mat: np.ndarray) -> dict:
        mat = mat.astype(np.float64)
        cell = l2_argsort_topm(mat, cm, 1)[:, 0]
        return {"cell": cell.astype(np.int64), "code": pq_assign(mat - cm[cell], cb)}

    return _map_encode(df, id_col, vec_col, _kernel, "vec_id long, cell long, code binary")


def _ivfpq_scan(
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    codes: DataFrame,
    k: int,
    params: dict,
    include_self: bool,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-PQ candidates — the composition that IS the large-corpus
    ANN architecture: the coarse quantizer prunes the scan to
    ~n_probe/n_centroids of the corpus (IVF), and the pruned scan runs
    on the RESIDUAL codes via ADC table lookups (PQ). Cost per query ≈
    (n_probe/n_centroids)·n corpus rows × n_subspaces lookups each.

    Scale shape: probe rows cogroup with code rows PER CELL (task
    memory = one cell's codes + that cell's probing queries); the
    merge window is candidate-sized. Determinism: coarse assignment
    follows the q51 stable-argsort discipline, residual/ADC sums are
    strictly sequential (``_seq_sq_dists``), and exact ADC ties break
    to the lowest dst (``_select_topk_ties``), so the q95 oracle
    derives the identical candidate set."""
    from pyspark_mrdf_spark.functions.vector import l2_argsort_topm

    spark = codes.sparkSession
    coarse, cb = params["coarse"], params["codebooks"]
    q_mat = q_mat.astype(np.float64)
    probe = l2_argsort_topm(q_mat, coarse, n_probe)
    n_sub, n_cd, ds = cb.shape
    # Broadcast the RAW inputs (queries + coarse centroids + codebooks,
    # O(n_q·d + parameters) ≈ MBs) and build each cell's ADC tables
    # INSIDE the per-cell scan. Precomputing all (query, probe) tables
    # driver-side is O(n_q · n_probe · n_subspaces · n_codes) doubles —
    # at a 2000-query × 8-probe × 64-subspace serving batch that is a
    # 2.1 GB broadcast every Python worker must unpickle (measured:
    # it, not the gathers, dominated the 200k×512 serving scan).
    # Each (query, cell) pair lands in exactly ONE cogroup, so the
    # total table arithmetic is unchanged, and _seq_sq_dists on the
    # same float64 inputs is bit-identical wherever it runs.
    # restrict the code scan to the cells this batch actually probes:
    # on a persisted index (codes partitioned BY CELL) this IS the IVF
    # inverted-list lookup — the parquet scan prunes to the probed
    # directories (PartitionFilters: cell IN (...)), so storage I/O is
    # the scan fraction, not the corpus. Un-probed cells contribute
    # nothing to the cogroup anyway; the filter only moves that fact
    # from shuffle time to scan time. O(n_cells) literal list.
    cells_probed = [int(c) for c in np.unique(probe)]
    codes = codes.filter(F.col("cell").isin(cells_probed))

    # SKEW SALTING, by query: a clustered corpus concentrates rows in
    # few cells, and the biggest cell is also the most-probed — at
    # n=200k/d=512 one 30k-row cell probed by all 2000 queries ran
    # 126 s of ADC gathers in ONE task while 31 cores idled (≈ the
    # whole scan wall). Splitting a hot cell's QUERIES across subtasks
    # parallelizes exactly that work with no merge inflation: each
    # query keeps ALL of the cell's rows in its one subtask (so the
    # per-(query, cell) top-k and the final merge see identical
    # inputs — bit-identical results), and only the cell's CODES are
    # replicated per subtask, which at 8 B/row-scale is megabytes.
    # Salt counts come from exact per-cell pair counts: probe counts
    # are driver-local already; code counts are one O(n_cells)
    # aggregate on the (checkpointed) code table.
    cnt_rows = codes.groupBy("cell").agg(F.count(F.lit(1)).alias("cnt")).collect()
    cell_rows = {int(r["cell"]): int(r["cnt"]) for r in cnt_rows}
    pc, pn = np.unique(probe, return_counts=True)
    nq_cell = {int(c): int(n) for c, n in zip(pc, pn)}
    PAIR_BUDGET = 8_000_000  # ~one second of gathers per subtask
    n_salt = {
        c: max(1, -(-(nq_cell[c] * cell_rows.get(c, 0)) // PAIR_BUDGET))
        for c in cells_probed
    }
    b = spark.sparkContext.broadcast((q_ids, probe, q_mat, coarse, cb, n_salt))
    # probe fan-out built EXECUTOR-side off the broadcast — a driver
    # list comprehension here materializes n_queries·n_probe Python
    # rows on the driver (at 100k queries × 8 probes, an 800k-row
    # driver object) where a Range + pandas map stays distributed
    n_probe_b = int(probe.shape[1])

    def _emit_probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qi, pr, ns = b.value[0], b.value[1], b.value[5]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            idx = pdf["id"].to_numpy(dtype=np.int64)
            q_id = qi[idx // n_probe_b]
            cell = pr[idx // n_probe_b, idx % n_probe_b].astype(np.int64)
            salt_mod = np.fromiter(
                (ns[int(c)] for c in cell), dtype=np.int64, count=len(cell)
            )
            # splitmix64-mix the id before the modulo: raw q_id %
            # n_salt degenerates when the batch's ids share a stride
            # or parity (e.g. ids from an upstream mod-2 split would
            # all land in salt 0, restoring the single-task hot-cell
            # stall). Deterministic, so the subtask assignment — and
            # with it every per-(query, cell) input — is stable.
            h = q_id.astype(np.uint64)
            h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            h = h ^ (h >> np.uint64(31))
            salt = (h % salt_mod.astype(np.uint64)).astype(np.int64)
            yield pd.DataFrame({"q_id": q_id, "cell": cell, "salt": salt})

    probes_df = spark.range(len(q_ids) * n_probe_b).mapInPandas(
        _emit_probes, "q_id long, cell long, salt long"
    )
    salts_df = spark.createDataFrame(
        [(c, s) for c in cells_probed for s in range(n_salt[c])],
        "cell long, salt long",
    )
    codes = codes.join(F.broadcast(salts_df), "cell")

    def _scan(key: tuple, ppdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if len(ppdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame(columns=["src", "dst", "dist"])
        qi_all, _probe_all, qm_all, coarse_all, cb_all = b.value[:5]
        cell = int(key[0])
        c_ids = cpdf["vec_id"].to_numpy(dtype=np.int64)
        c_codes = np.stack([np.frombuffer(x, dtype=np.uint8) for x in cpdf["code"]])
        c_order = np.argsort(c_ids, kind="stable")
        c_ids = c_ids[c_order]
        c_codes = np.ascontiguousarray(c_codes[c_order])
        # ONE vectorized pass over all queries probing this subtask:
        # build their residual ADC tables here (see the broadcast note
        # above), then accumulate the per-subspace gathers across the
        # whole (n_q_cell, n_c) matrix — a per-query Python loop here
        # measured ~20s at n=50k (5000 queries × 8 probes = 40k
        # small-iteration bodies). Layout matters at hot-cell size:
        # tables are built (n_sub, n_q, n_codes) so each subspace's
        # gather source tbl[m] is CONTIGUOUS (a strided view measured
        # ~4× slower on a 2000×30k cell), and the gather target is one
        # preallocated buffer accumulated in place (same float64 adds
        # in the same order — bit-identical — without 64 fresh
        # hundreds-of-MB allocations).
        pos = {int(q): i for i, q in enumerate(qi_all)}
        qs = ppdf["q_id"].to_numpy(dtype=np.int64)
        qidx = np.fromiter((pos[int(q)] for q in qs), dtype=np.int64, count=len(qs))
        res = qm_all[qidx] - coarse_all[cell]  # residual q − cent, (n_q_cell, d)
        tbl = np.empty((n_sub, len(qidx), n_cd), dtype=np.float64)
        for m in range(n_sub):
            tbl[m] = _seq_sq_dists(res[:, m * ds : (m + 1) * ds], cb_all[m])
        g = np.take(tbl[0], c_codes[:, 0], axis=1)
        tmp = np.empty_like(g)
        for m in range(1, n_sub):
            np.take(tbl[m], c_codes[:, m], axis=1, out=tmp)
            g += tmp
        return _block_topk(g, qs, c_ids, k, include_self, _select_topk_ties)

    return (
        probes_df.groupby("cell", "salt")
        .cogroup(codes.groupby("cell", "salt"))
        .applyInPandas(_scan, "src long, dst long, dist double")
    )


def _block_topk(
    g: np.ndarray,
    q_ids: np.ndarray,
    c_ids: np.ndarray,
    k: int,
    include_self: bool,
    select: Callable[[np.ndarray, int], np.ndarray],
    row_offset: np.ndarray | None = None,
    dtype: type = np.float64,
) -> pd.DataFrame:
    """The per-block tail every codec's scan shares: (src, dst, dist)
    of each query row's top-k over one block of id-sorted corpus
    columns. Self pairs are masked to +inf unless ``include_self``;
    ``select`` is the kernel's selection rule (columns are id-ordered,
    so both rules break ties to the lowest dst); ``row_offset`` is a
    per-query constant added after selection (SQ8's ||q||²); masked
    rows that still got selected in a short block are dropped."""
    if not include_self:
        g[q_ids[:, None] == c_ids[None, :]] = np.inf
    n_c = g.shape[1]
    kk = min(k, n_c)
    if kk < n_c:
        sel = select(g, kk)
    else:
        sel = np.broadcast_to(np.arange(n_c), g.shape).copy()
    gs = np.take_along_axis(g, sel, axis=1)
    if row_offset is not None:
        gs = gs.astype(np.float64) + row_offset[:, None]
    m = np.isfinite(gs)
    src = np.repeat(q_ids, sel.shape[1]).reshape(sel.shape)[m]
    return pd.DataFrame({"src": src, "dst": c_ids[sel][m], "dist": gs[m].astype(dtype)})


def _flat_scan(
    prep: Callable[..., tuple],
    kernel: Callable[..., tuple],
    dist_type: str,
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    codes: DataFrame,
    k: int,
    params: dict,
    include_self: bool,
    **opts,
) -> DataFrame:
    """The one scan of sq8, bq and pq: ``prep(q_mat, params, **opts)``
    is the codec's query-side payload, broadcast once (bounded query
    sets — the external-search contract, same as ``knn_search``'s
    query side); the code table streams through ``mapInPandas``
    partition by partition, each task building ``kernel(*payload)`` —
    (score, select, row_offset) — once, decoding each Arrow batch's
    codes, scoring them id-sorted and emitting its local top-k per
    query through ``_block_topk`` — ≤ parts·k candidates per query for
    ``_scan_codes`` to merge. ``dist_type`` is the Spark type of
    ``dist`` (long for the integer codecs)."""
    b = codes.sparkSession.sparkContext.broadcast((q_ids, prep(q_mat, params, **opts)))
    dtype = np.int64 if dist_type == "long" else np.float64

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qi, payload = b.value
        score, select, row_offset = kernel(*payload)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c_mat = np.stack([np.frombuffer(x, dtype=np.uint8) for x in pdf["code"]])
            # corpus columns ordered by id so the selection rules'
            # tie handling keeps the LOWEST dst among equal distances
            # (same discipline as functions.vector.l2_block_topk)
            c_order = np.argsort(c_ids, kind="stable")
            g = score(c_mat[c_order])
            yield _block_topk(
                g, qi, c_ids[c_order], k, include_self, select, row_offset, dtype
            )

    return codes.mapInPandas(_scan, f"src long, dst long, dist {dist_type}")


def _slabs(
    codes: DataFrame, n_queries: int, k_candidates: int, merge_capped: bool
) -> DataFrame:
    """Repartition a flat code table into the scan's slabs. The scan
    wants every core busy and targets ~16k rows per slab (a 7-slab SQ8
    run measured 5-30 s where 32 slabs cost ~2 s at n=50k). The merge
    input is slabs × queries × budget rows, so for a ``merge_capped``
    codec (BQ, whose budgets are deliberately wide) two more caps
    bind: (a) a slab smaller than the budget emits its ENTIRE contents
    per query — at n=20k/32 slabs/640 BQ candidates that measured a
    40M-row merge where 3 slabs make it 3.8M; (b) for large query
    batches fewer slabs are strictly better — the XOR/gemm scan is the
    cheap stage and 1/32nd of it buys nothing if the merge pays 32×
    the rows. So its merge is capped at ~8M rows and slabs stay ≥ 8×
    budget, parallelism permitting. SQ8 and PQ keep the uncapped
    rule: the SQ8 scan is memory-bandwidth-bound (``_sq8_kernel``),
    and neither has a measurement showing the caps pay off for it.
    Results do not depend on the slab count."""
    n_codes = codes.count()
    n_parts = max(
        codes.sparkSession.sparkContext.defaultParallelism,
        -(-n_codes // 16_384),
    )
    if merge_capped:
        merge_cap = max(1, 8_000_000 // max(1, n_queries * k_candidates))
        n_parts = max(1, min(n_parts, n_codes // (8 * k_candidates) or 1, merge_cap))
    if n_parts == codes.rdd.getNumPartitions():
        return codes
    return codes.repartition(n_parts)


@dataclass(frozen=True)
class _Codec:
    """One codec, both halves. Persistence: the param names that
    identify it, its ``train(corpus, id_col, vec_col, **kw)`` returning
    those params in order, its ``encode(df, *params, id_col, vec_col)``,
    the code table's partition column, and whether ``rotate='opq'``
    applies. Search: its ``scan(q_ids, q_mat, codes, k, params,
    include_self, **options)`` returning (src, dst, dist) candidates,
    the default candidate budget per k, whether ``_slabs`` caps its
    merge input, and the search options only it accepts."""

    keys: tuple[str, ...]
    train: Callable[..., tuple]
    encode: Callable[..., DataFrame]
    scan: Callable[..., DataFrame]
    partition: str | None = None
    rotatable: bool = False
    budget: int = 4
    merge_capped: bool = False
    options: tuple[str, ...] = ()


_CODECS = {
    "sq8": _Codec(
        ("mn", "mx"),
        lambda c, i, v: sq8_train(c, v),
        sq8_encode,
        partial(_flat_scan, _sq8_prep, _sq8_kernel, "long"),
        options=("weighted",),
    ),
    "bq": _Codec(
        ("thr",),
        lambda c, i, v: (bq_train(c, v),),
        bq_encode,
        partial(_flat_scan, _bq_prep, _bq_kernel, "long"),
        budget=8,
        merge_capped=True,
    ),
    "pq": _Codec(
        ("codebooks",),
        lambda c, i, v, **kw: (pq_train(c, id_col=i, vec_col=v, **kw),),
        pq_encode,
        partial(_flat_scan, _pq_prep, _pq_kernel, "double"),
        rotatable=True,
    ),
    "ivfpq": _Codec(
        ("coarse", "codebooks"),
        lambda c, i, v, **kw: ivfpq_train(c, id_col=i, vec_col=v, **kw),
        ivfpq_encode,
        _ivfpq_scan,
        partition="cell",
        rotatable=True,
        options=("n_probe",),
    ),
}
_ROT_KEYS = ("rot_mean", "rotation")
_ENV_KEYS = ("rot_env_mn", "rot_env_mx")


def _index_kind(params: dict[str, np.ndarray]) -> str:
    """The codec whose identifying params are exactly the stored ones
    (rotation and envelope keys aside)."""
    names = set(params) - set(_ROT_KEYS) - set(_ENV_KEYS)
    for kind, codec in _CODECS.items():
        if names == set(codec.keys):
            return kind
    raise ValueError(f"no index codec stores exactly the params {sorted(names)}")


def _codec(kind: str, op: str) -> _Codec:
    codec = _CODECS.get(kind)
    if codec is None:
        raise ValueError(f"{op}: unknown kind {kind!r}")
    return codec


def _search_options(kind: str, op: str, weighted: bool, n_probe: int | None) -> dict:
    """The codec-specific search options a call gave, refused on a
    codec they do not apply to (as ``build_index`` refuses ``rotate``):
    ``weighted`` is SQ8's, ``n_probe`` IVF-PQ's."""
    opts: dict = {}
    if weighted:
        opts["weighted"] = True
    if n_probe is not None:
        opts["n_probe"] = n_probe
    for name in opts:
        if name not in _CODECS[kind].options:
            raise ValueError(f"{op}: {name}= is not valid for {kind!r}")
    return opts


def _scan_codes(
    params: dict[str, np.ndarray],
    q_batch: tuple[np.ndarray, np.ndarray],
    codes: DataFrame,
    k: int,
    include_self: bool,
    opts: dict,
) -> DataFrame:
    """The candidate stage behind ``candidates`` and ``search_encoded``.
    A rotated index (params holding ``rot_mean``/``rotation``) gets the
    collected query batch rotated into its space first — driver-side
    through the SAME ``project_kernel`` the build and appends run in
    executors, so the rotated floats are bit-identical to rotating the
    batch as a DataFrame. Only the candidate stage runs rotated (probe
    and ADC, where the codes live); the exact rerank stays on the
    original vectors — an isometry preserves exact neighbors, and
    original-space dist_sq is the more useful output contract. The
    codec's scan yields per-block top-k candidates; local top-k is
    associative, so one merge by (dist, dst) is exact for any
    partitioning of the codes."""
    q_ids, q_mat = q_batch
    if "rotation" in params:
        from pyspark_mrdf_spark.operators.project import project_kernel

        q_mat = project_kernel(q_mat.astype(np.float64), params["rot_mean"], params["rotation"])
    scan = _CODECS[_index_kind(params)].scan
    cand = scan(q_ids, q_mat, codes, k, params, include_self, **opts)
    return topk_merge(cand, k, "dist").drop("rnk")


def candidates(
    queries: DataFrame,
    codes: DataFrame,
    k: int,
    params: dict[str, np.ndarray],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
    weighted: bool = False,
    n_probe: int | None = None,
) -> DataFrame:
    """Top-k candidates per query in the code domain: (src, dst, dist),
    by (dist, dst). ``params`` name the codec (``read_index``'s or
    ``build_index``'s dict, or e.g. ``{"mn": mn, "mx": mx}``) and any
    OPQ rotation, which the query batch is rotated through. ``dist`` is
    the codec's own distance: the integer (optionally range-weighted,
    ``weighted=True``) code-space L2 for SQ8, Hamming for BQ — both
    long — and the float ADC distance for PQ and IVF-PQ (``n_probe``
    cells probed, default 2). ``codes`` are scanned as they are
    partitioned; the result does not depend on that partitioning."""
    kind = _index_kind(params)
    opts = _search_options(kind, "candidates", weighted, n_probe)
    q_batch = _collect_queries(queries, id_col, vec_col, "candidates")
    return _scan_codes(params, q_batch, codes, k, include_self, opts)


def search_encoded(
    queries: DataFrame,
    params: dict[str, np.ndarray],
    codes: DataFrame,
    corpus: DataFrame,
    k: int,
    k_candidates: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
    weighted: bool = False,
    n_probe: int | None = None,
) -> DataFrame:
    """Serve a query batch against an ALREADY-ENCODED index — the
    train-once/search-many path: ``read_index`` supplies (params,
    codes) unchanged, ``corpus`` supplies full-precision vectors for
    the rerank only. ``k_candidates`` (default 4k, 8k for BQ) per query
    from ``candidates``, then the exact rerank — (src, dst, dist_sq,
    rnk), rnk 1..k by (exact dist_sq, dst), the ``knn_search`` output
    contract. The query batch is collected once for both stages; a
    flat code table (SQ8, BQ, PQ) is first cut into ``_slabs``."""
    kind = _index_kind(params)
    codec = _CODECS[kind]
    opts = _search_options(kind, "search_encoded", weighted, n_probe)
    if k_candidates is None:
        k_candidates = codec.budget * k
    q_batch = _collect_queries(queries, id_col, vec_col, "search_encoded")
    if codec.partition is None:
        codes = _slabs(codes, len(q_batch[0]), k_candidates, codec.merge_capped)
    cand = _scan_codes(params, q_batch, codes, k_candidates, include_self, opts)
    return _rerank_exact(cand, queries, corpus, k, id_col, vec_col, q_arrays=q_batch)


def search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    kind: str,
    k_candidates: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
    weighted: bool = False,
    n_probe: int | None = None,
    **train_kw,
) -> DataFrame:
    """End-to-end quantized search of ``kind`` (``"sq8"``, ``"bq"``,
    ``"pq"`` or ``"ivfpq"``): train the codec on ``corpus``
    (``train_kw`` are its ``*_train`` parameters), encode the corpus,
    then ``search_encoded`` — bit-identical to ``build_index`` →
    ``read_index`` → ``search_encoded`` with the same parameters."""
    codec = _codec(kind, "search")
    _search_options(kind, "search", weighted, n_probe)
    from pyspark_mrdf_spark.operators.similarity import _scan_shaped

    # a COMPUTED corpus lineage (UDF embeds, joins) would re-evaluate
    # for the training pass, the encode pass AND the rerank —
    # materialize it once (knn_search's guard discipline; scan-shaped
    # inputs re-read for free and skip the checkpoint copy)
    if not _scan_shaped(corpus):
        corpus = checkpoint(corpus)
    params = dict(zip(codec.keys, codec.train(corpus, id_col, vec_col, **train_kw)))
    # the code table IS the stored index — materialize it so the scan
    # does not re-run the encode mapInPandas per action
    codes, _ = _encode_for_index(params, corpus, id_col, vec_col)
    return search_encoded(
        queries, params, checkpoint(codes), corpus, k, k_candidates,
        id_col, vec_col, include_self, weighted, n_probe,
    )


# ---------------------------------------------------------------------------
# Index persistence — train once, search many.
#
# A production corpus trains and encodes ONCE, then serves query batch
# after query batch across jobs; retraining per search call (the
# convenience ``search`` entry point) re-pays the full encode pass every
# time. Every codec persists through the same five functions —
# ``write_index``, ``read_index``, ``build_index``, ``append_index``,
# ``merge_indexes`` — over one directory layout, whose filesystem rules
# (URI-safe paths, committed-stream reads, same-path checks) live in
# ``pyspark_mrdf_spark/io.py``:
#
#   <path>/params.parquet — O(parameters) quantizer state, written
#       driver-side with pyarrow: float64 survives the parquet DOUBLE
#       roundtrip bit-exactly, so a loaded index reproduces the inline
#       path's results BIT-IDENTICALLY (equivalence-tested). No codec
#       field is stored: ``_CODECS`` names the params that identify each
#       kind, and ``_index_kind`` reads the kind back from the names.
#       An OPQ pre-rotation (``_ROT_KEYS``) and its training envelope
#       (``_ENV_KEYS``) ride in the same file.
#   <path>/codes/ — the per-row code table written by Spark: (vec_id,
#       code), plus ``cell`` for IVF-PQ, whose table is partitioned BY
#       CELL so a serving scan of n_probe cells prunes to exactly those
#       directories (the IVF inverted-list lookup at the storage
#       layer). uint8 codes ride in BINARY cells.
#   <path>/stream_codes/batch=<id>/ — micro-batch partitions committed
#       by ``streaming/ingest.index_append_stream``; ``read_index``
#       serves them together with codes/.
#
# Search results are partition-independent (deterministic local-top-k
# merges), so a reloaded code table — whatever its file split — yields
# the same rows as the just-encoded lineage.
# ---------------------------------------------------------------------------


def _write_params(spark, path: str, parts: dict[str, np.ndarray]) -> None:
    """Write named float64 arrays (1-D or 2-D or 3-D) to
    ``<path>/params.parquet`` as (name, idx0, idx1, ndim, vec double[])
    rows — small, driver-side, bit-exact."""
    import pyarrow as pa

    cols: dict[str, list] = {"name": [], "idx0": [], "idx1": [], "ndim": [], "vec": []}
    for name, arr in parts.items():
        a = np.asarray(arr, dtype=np.float64)
        if a.ndim not in (1, 2, 3):
            raise ValueError(f"_write_params: {name} has ndim={a.ndim} > 3")
        a3 = a.reshape((1,) * (3 - a.ndim) + a.shape)
        for x in range(a3.shape[0]):
            for y in range(a3.shape[1]):
                for col, val in zip(cols, (name, x, y, a.ndim, a3[x, y].tolist())):
                    cols[col].append(val)
    write_params_file(
        spark,
        path,
        pa.table(
            {
                "name": pa.array(cols["name"], pa.string()),
                "idx0": pa.array(cols["idx0"], pa.int32()),
                "idx1": pa.array(cols["idx1"], pa.int32()),
                # the ORIGINAL rank, so the reader restores shape from
                # metadata instead of inferring it from max indices (a
                # size-1 leading dim — n_subspaces=1, n_centroids=1 —
                # would otherwise round-trip squeezed to the wrong rank)
                "ndim": pa.array(cols["ndim"], pa.int8()),
                "vec": pa.array(cols["vec"], pa.list_(pa.float64())),
            }
        ),
    )


def _read_params(spark, path: str) -> dict[str, np.ndarray]:
    """Inverse of ``_write_params``: name -> float64 array with the
    original leading dims squeezed back off."""
    tbl = read_params_file(spark, path).to_pydict()
    # pre-ndim-column indexes (written before r8's fix) fall back to
    # max-index inference, which was only wrong for size-1 leading dims
    nd_col = tbl.get("ndim") or [None] * len(tbl["name"])
    by_name: dict[str, dict[tuple[int, int], np.ndarray]] = {}
    nd_of: dict[str, int | None] = {}
    for name, x, y, nd, vec in zip(
        tbl["name"], tbl["idx0"], tbl["idx1"], nd_col, tbl["vec"]
    ):
        by_name.setdefault(name, {})[(x, y)] = np.asarray(vec, dtype=np.float64)
        nd_of[name] = nd
    out: dict[str, np.ndarray] = {}
    for name, cells in by_name.items():
        n0 = max(x for x, _ in cells) + 1
        n1 = max(y for _, y in cells) + 1
        a = np.empty((n0, n1, len(next(iter(cells.values())))), dtype=np.float64)
        for (x, y), v in cells.items():
            a[x, y] = v
        nd = nd_of[name]
        if nd is None:
            nd = 1 if (n0 == 1 and n1 == 1) else (2 if n0 == 1 else 3)
        out[name] = a.reshape(a.shape[3 - nd :])
    return out


def _write_codes(codes: DataFrame, path: str, mode: str, partition: str | None) -> None:
    w = codes.write.mode(mode)
    if partition is not None:
        w = w.partitionBy(partition)
    w.parquet(path)


def _encode_for_index(
    params: dict[str, np.ndarray], vectors: DataFrame, id_col: str, vec_col: str
) -> tuple[DataFrame, str | None]:
    """(codes, partition column) for ``vectors`` under an index's FROZEN
    params — the one encode behind every append path. A rotated index
    routes the vectors through its persisted rotation first:
    ``pca_project_vec`` replays the build's sequential-fold arithmetic,
    so appended codes stay bit-identical to a union-corpus encode."""
    codec = _CODECS[_index_kind(params)]
    if "rotation" in params:
        from pyspark_mrdf_spark.operators.project import pca_project_vec

        vectors = pca_project_vec(
            vectors, params["rot_mean"], params["rotation"], id_col, vec_col
        )
    codes = codec.encode(vectors, *(params[k] for k in codec.keys), id_col, vec_col)
    return codes, codec.partition


def write_index(path: str, params: dict[str, np.ndarray], codes: DataFrame) -> None:
    """Persist an index: ``params`` (a codec's params, e.g. ``{"mn",
    "mx"}`` for SQ8 or ``{"coarse", "codebooks"}`` for IVF-PQ, plus any
    ``rot_mean``/``rotation``/``rot_env_mn``/``rot_env_mx``) and the
    matching ``*_encode`` output as the code table. With a rotation the
    codes must have been encoded from the ROTATED corpus; appends and
    ``search_encoded``/``candidates`` then apply the frozen rotation to
    new vectors and query batches."""
    partition = _CODECS[_index_kind(params)].partition
    _write_params(codes.sparkSession, path, params)
    _write_codes(codes, f"{path.rstrip('/')}/codes", "overwrite", partition)


def read_index(spark, path: str) -> tuple[dict[str, np.ndarray], DataFrame]:
    """(params, codes) of a persisted index — feed both to
    ``search_encoded`` (or ``candidates``) unchanged: the params name
    the codec and carry the rotation of a ``rotate='opq'`` index.

    Codes are the union of the base build (``codes/``, grown in place
    by ``append_index``) and every partition a running
    ``index_append_stream`` has committed (``stream_codes/batch=<id>/``)
    — a streamed-into index serves identically to one grown by batch
    appends (the params are frozen either way; equivalence-tested).
    IVF-PQ's ``cell`` comes back as the partition column, cast to long
    to keep the pre-persistence schema."""
    params = _read_params(spark, path)
    base = path.rstrip("/")
    codes = spark.read.parquet(f"{base}/codes")
    streamed = read_stream_partitions(spark, f"{base}/stream_codes")
    if streamed is not None:
        codes = codes.unionByName(streamed.select(*codes.columns))
    if _CODECS[_index_kind(params)].partition == "cell":
        codes = codes.select("vec_id", F.col("cell").cast("long").alias("cell"), "code")
    return params, codes


def build_index(
    corpus: DataFrame,
    path: str,
    kind: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotate: str | None = None,
    metrics_out: dict | None = None,
    **train_kw,
) -> dict[str, np.ndarray]:
    """Train + encode + persist an index of ``kind`` (``"sq8"``,
    ``"bq"``, ``"pq"`` or ``"ivfpq"``) in one call; returns its params.
    ``train_kw`` are the codec's ``*_train`` parameters (none for SQ8
    and BQ). The one-time cost a deployment amortizes over every
    ``search_encoded`` batch.

    ``rotate='opq'`` (PQ and IVF-PQ) trains the OPQ-lite pre-rotation
    first, trains and encodes in the ROTATED space, and persists (mean,
    rotation) plus the rotated training envelope with the frozen params
    — q159's measured recall win (0.811→0.949 at unchanged bytes),
    servable train-once/search-many; ``metrics_out`` receives its
    ``rotation_train_s``."""
    codec = _codec(kind, "build_index")
    if rotate is not None and (rotate != "opq" or not codec.rotatable):
        raise ValueError(f"build_index: rotate={rotate!r} is not valid for {kind!r}")
    rot: dict[str, np.ndarray] = {}
    if rotate == "opq":
        # the rotation samples with the *_train defaults unless overridden
        rotation, corpus, env = _train_index_rotation(
            corpus, train_kw.get("n_subspaces", 8), train_kw.get("sample_size", 2048),
            train_kw.get("seed", 42), id_col, vec_col, metrics_out=metrics_out,
        )
        rot = dict(zip(_ROT_KEYS + _ENV_KEYS, rotation + env))
    params = dict(zip(codec.keys, codec.train(corpus, id_col, vec_col, **train_kw)), **rot)
    codes = codec.encode(corpus, *(params[k] for k in codec.keys), id_col, vec_col)
    write_index(path, params, codes)
    return params


def append_index(
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Grow a persisted index with new vectors — the daily-ingest path:
    encode with the index's PERSISTED params (no retrain, no re-encode
    of the existing corpus; through the persisted rotation when there
    is one) and parquet-append only the new codes — IVF-PQ rows into
    their cells' directories, so serving scans keep pruning. Because
    the params are frozen, the grown index is bit-identical to one
    encoded from the union corpus with the same params — append order
    cannot change any code byte.

    Caller contract: ``id_col`` values must be new (an id already in
    the index would simply appear twice — exactly like appending a
    duplicate row to any parquet table). Drift caveat: frozen params
    stop spanning drifted ingest — SQ8 clips values outside the trained
    [mn, mx] to the 0/255 codes, and frozen coarse centroids pile
    drifted rows into few cells, eroding the n_probe/n_cells
    scan-fraction bound. Monitor with ``sq8_drift_stats`` (q131),
    ``index_cell_stats`` (q105) or ``rotation_drift_stats`` and retrain
    on schedule — that monitoring query, not a retrain per batch, is
    the 100 TB operating mode."""
    params = _read_params(new_vectors.sparkSession, path)
    codes, partition = _encode_for_index(params, new_vectors, id_col, vec_col)
    _write_codes(codes, f"{path.rstrip('/')}/codes", "append", partition)


def merge_indexes(spark, src_paths: list[str], dst_path: str) -> None:
    """Merge shard-built indexes of one codec into one serving index —
    the scale-out build pattern ``append_index`` cannot express: N
    encode jobs run in PARALLEL (each writing its own shard index from
    the same frozen params — parquet has no concurrent appenders), then
    one merge unions the code tables (IVF-PQ rows stay in the cells
    they occupied per shard). Every shard must carry BIT-IDENTICAL
    frozen params (gated here), so the merged index is row-identical to
    a single build over the union corpus.

    The gate covers the codec's params and the rotation: shards must
    agree on HAVING one (codes in rotated vs raw space cannot merge)
    and on its bytes. The training-sample envelope rides with the
    rotation but is MONITOR state, not code-space-defining: a shard
    encoded through a pre-supplied frozen rotation carries none, so
    envelope bytes are compared only where both shards have them, and
    the merged index keeps the first envelope present — merging never
    silently drops the drift monitor's reference state.

    A single-source merge (``src_paths=[p]``) is COMPACTION: it folds
    the ``stream_codes/`` deltas a streaming appender committed into
    one base ``codes/`` table, so a long-streamed index stops paying
    the many-small-files scan tax.

    Caller contract: shard id spaces are disjoint (same rule as
    append), and ``dst_path`` must be a FRESH directory — writing over
    a source would overwrite ``codes/`` while lazily reading it
    (guarded at call time on qualified paths, instead of an opaque
    AnalysisException at action time; swap dst into place after the
    merge commits). The merge moves only codes, never vectors."""
    if any(same_path(spark, p, dst_path) for p in src_paths):
        raise ValueError(
            f"merge_indexes: dst_path {dst_path!r} is also a source — "
            "merge into a fresh directory, then swap it into place"
        )
    shards = [read_index(spark, p) for p in src_paths]
    params = [p for p, _ in shards]
    p0, path0 = params[0], src_paths[0]
    kind = _index_kind(p0)
    keys = _CODECS[kind].keys
    if any(k in p for p in params for k in _ROT_KEYS):
        keys = keys + _ROT_KEYS
    for p_, path_ in zip(params[1:], src_paths[1:]):
        if _index_kind(p_) != kind:
            raise ValueError(
                f"merge_indexes: {path0} is {kind} but {path_} is {_index_kind(p_)}"
            )
        for k in keys:
            if (k in p0) != (k in p_):
                raise ValueError(
                    f"merge_indexes: '{k}' present in only one of {path0} and "
                    f"{path_} — a rotated index cannot merge with an unrotated "
                    "one (codes live in different spaces)"
                )
        for k in keys + _ENV_KEYS:
            if k in p0 and k in p_ and not np.array_equal(p0[k], p_[k]):
                raise ValueError(
                    f"merge_indexes: '{k}' differs between {path0} and {path_} — "
                    "shards must be encoded with the same frozen params (train "
                    "once, encode per shard)"
                )
    merged = {k: p0[k] for k in keys if k in p0}
    env = next((p for p in params if _ENV_KEYS[0] in p), {})
    merged.update((k, env[k]) for k in _ENV_KEYS if k in env)
    write_index(dst_path, merged, reduce(DataFrame.unionByName, (c for _, c in shards)))


def rotation_drift_stats(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Rotation-aware drift monitor for a rotate='opq' PQ/IVF-PQ index
    (r13 verdict ask #6): rotate the appended batch through the FROZEN
    persisted rotation, then count per-ROTATED-dimension envelope
    violations against the persisted training-sample envelope
    (``rot_env_mn``/``rot_env_mx``) — the ``sq8_drift_stats`` schema
    (dim, n_below, n_above, n_values, viol_e6), one row per rotated
    dimension.

    Why the rotated basis: the rotation is frozen training state — it
    balanced per-subspace variance FOR THE TRAINING DISTRIBUTION. A
    drifted append can hold its original-space ranges (invisible to
    ``sq8_drift_stats``-style monitors and barely moving
    ``index_cell_stats`` skew) while running far outside the envelope
    along a rotated direction the training data kept narrow — exactly
    the regime where ADC ranking quality decays, because the PQ
    codebooks never allocated codes there. Violation rates per rotated
    dim are the retrain trigger the persisted-rotation format promises
    (``read_index``'s rotation keys), now measured.

    Determinism/verifiability: the projection is ``project_kernel``
    (strictly sequential accumulation — bit-equal to a left-assoc SQL
    fold of transported constants), the envelope is elements of the
    training sample (no arithmetic), and the counts are integer exact
    comparisons — the whole monitor is hash-verifiable cross-engine,
    like q131's SQ8 sibling.

    Scale shape: one O(batch) mapInPandas projection + the d-key hash
    aggregate; the frozen params are O(d²) driver-side constants."""
    from pyspark_mrdf_spark.operators.project import pca_project_vec

    p = _read_params(batch.sparkSession, path)
    if "rotation" not in p:
        raise ValueError(
            f"rotation_drift_stats: index at {path!r} is unrotated — use "
            "sq8_drift_stats / index_cell_stats for unrotated tiers"
        )
    if "rot_env_mn" not in p:
        raise ValueError(
            f"rotation_drift_stats: index at {path!r} predates the "
            "persisted rotation envelope — rebuild with rotate='opq' to "
            "freeze rot_env_mn/rot_env_mx alongside the rotation"
        )
    rotated = pca_project_vec(
        batch, p["rot_mean"], p["rotation"], id_col=id_col, vec_col=vec_col
    )
    return sq8_drift_stats(
        rotated, p["rot_env_mn"], p["rot_env_mx"],
        id_col=id_col, vec_col=vec_col,
    )


def _train_index_rotation(
    corpus: DataFrame,
    n_subspaces: int,
    sample_size: int,
    seed: int,
    id_col: str,
    vec_col: str,
    metrics_out: dict | None = None,
) -> tuple[tuple[np.ndarray, np.ndarray], DataFrame, tuple[np.ndarray, np.ndarray]]:
    """(rotation, rotated_corpus, rotated_env) for a rotate='opq' index
    build: train the OPQ-lite rotation (``project.opq_components`` —
    full PCA basis, eigenvalue-allocation-permuted) on the md5-ordered
    corpus sample ``project.opq_train`` draws, then project the corpus
    once (checkpointed: the coarse/PQ training sample, the encode pass,
    and any caller reuse would otherwise each re-run the projection
    mapInPandas)."""
    import time as _time

    from pyspark_mrdf_spark.operators.project import (
        opq_components,
        pca_project_vec,
        project_kernel,
    )

    _t0 = _time.time()
    x = md5_sample(corpus, sample_size, seed, id_col, vec_col, "build_index")
    rotation = opq_components(x, n_subspaces)
    if metrics_out is not None:
        # attribution WITHOUT a second training run (advisor r13: the
        # serving row used to re-run opq_train just to time it,
        # double-counting the cost across two reported metrics)
        metrics_out["rotation_train_s"] = round(_time.time() - _t0, 2)
    # rotated-space TRAINING ENVELOPE (r14): per-dim min/max of the
    # SAME md5-ordered training sample the rotation trained on, pushed
    # through the same bit-exact project_kernel — frozen alongside the
    # rotation so ``rotation_drift_stats`` can measure when appended
    # batches leave the training distribution IN THE ROTATED BASIS
    # (drift along a direction the rotation deemed low-variance is
    # invisible to original-space monitors). Elements of the data, no
    # arithmetic beyond the projection — bit-reproducible on any
    # engine that replays the sample.
    proj = project_kernel(x, rotation[0], rotation[1])
    env = (proj.min(axis=0), proj.max(axis=0))
    rotated = pca_project_vec(
        corpus, rotation[0], rotation[1], id_col, vec_col
    ).transform(checkpoint)
    return rotation, rotated, env


def sq8_drift_stats(
    batch: DataFrame,
    mn: np.ndarray,
    mx: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Range-violation monitor for a FROZEN SQ8 quantizer — the retrain
    trigger ``append_index`` promises for SQ8: ingest values outside the
    trained per-dimension [mn, mx] clip to the 0/255 codes, so a rising
    violation rate means the quantizer no longer spans the data and
    candidate ordering quietly degrades. One row per dimension:
    (dim 1-based, n_below, n_above, n_values, viol_e6 — the violation
    fraction in integer millionths).

    Shape: posexplode → broadcast LEFT-join the O(d) bounds table →
    d-key hash aggregate; the only corpus-sized pass moves d partial
    rows per task (sq8_train's own shape). Counts are integers and the
    bound comparisons are exact (float32 widened to float64 both
    sides), so the monitor is hash-verifiable cross-engine — the SQ8
    sibling of ``index_cell_stats``.

    Schema drift is itself a violation: a batch dimension the quantizer
    was never trained on (batch vectors wider than the index) has no
    [mn, mx] row — those dims come back with n_above = n_values and
    viol_e6 = 1000000 rather than silently vanishing from the report
    (an inner join would hide exactly the drift this monitor exists to
    catch). Dims the batch never carries simply have no values to
    violate — absent rows, same as an all-clean narrow batch."""
    spark = batch.sparkSession
    mn = np.asarray(mn, dtype=np.float64)
    mx = np.asarray(mx, dtype=np.float64)
    bounds = spark.createDataFrame(
        [(i + 1, float(mn[i]), float(mx[i])) for i in range(len(mn))],
        "dim bigint, mn double, mx double",
    )
    ex = batch.select(F.posexplode(vec_col).alias("pos", "v")).select(
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    return (
        ex.join(F.broadcast(bounds), "dim", "left")
        .groupBy("dim")
        .agg(
            F.sum(F.when(F.col("v") < F.col("mn"), 1).otherwise(0))
            .cast("bigint").alias("n_below"),
            # untrained dim (mn/mx null): every value violates; count it
            # on the "above" side (the batch runs past the quantizer)
            F.sum(
                F.when(F.col("mx").isNull() | (F.col("v") > F.col("mx")), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_above"),
            F.count(F.lit(1)).alias("n_values"),
        )
        .select(
            "dim", "n_below", "n_above", "n_values",
            F.expr("((n_below + n_above) * 1000000) DIV n_values").alias("viol_e6"),
        )
    )


def index_cell_stats(spark, path: str) -> DataFrame:
    """Occupancy histogram of a persisted IVF-PQ index: one row per
    coarse cell with its code count plus the corpus-wide skew ratio
    (max cell / mean cell). THE retrain trigger for an incrementally
    grown index: n_probe/n_cells is only a scan-fraction bound while
    cells stay balanced. Pure metadata-sized aggregate — the scan
    reads just the partition column, no code bytes. Counts cover the
    same codes ``read_index`` serves, streamed partitions included."""
    _, codes = read_index(spark, path)
    if "cell" not in codes.columns:
        raise ValueError(f"index_cell_stats: {path!r} is not a cell-partitioned index")
    per_cell = codes.groupBy("cell").agg(F.count("*").alias("n_vectors"))
    # corpus-wide skew as a broadcast 1-row aggregate, not a window:
    # per_cell is O(n_cells) rows, but an unpartitioned Window is the
    # plan shape the audit forbids everywhere — no exceptions to police
    stats = per_cell.agg(
        (
            F.max("n_vectors")
            / (F.sum("n_vectors") / F.count(F.lit(1)))
        ).alias("skew_ratio")
    )
    return per_cell.crossJoin(F.broadcast(stats)).select(
        "cell", "n_vectors", "skew_ratio"
    ).orderBy("cell")
