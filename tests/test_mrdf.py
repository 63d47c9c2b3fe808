"""MRDF / NN-Descent / recall tests, mirroring the reference's own
methodology (SURVEY.md §5.1): exact brute-force oracle + recall
threshold + seeded determinism, plus the README 2-vector golden case
(reference README.md:48-50)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyspark_mrdf_spark.algorithms.mrdf import format_adjacency, knn_graph
from pyspark_mrdf_spark.algorithms.nndescent import nn_descent, _exact_block
from pyspark_mrdf_spark.algorithms.recall import recall, recall_vs_groundtruth
from pyspark_mrdf_spark.io import load_table
from pyspark_mrdf_spark.operators.similarity import knn_exact

K = 5


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def g_exact(emb):
    return knn_exact(emb, K).localCheckpoint()


def test_mrdf_recall_vs_exact(spark, emb, g_exact):
    # alpha small enough to force ≥1 division round on 500 vectors
    g = knn_graph(emb, K, rho=4, alpha=250, tau=0.0, seed=42, max_iter=3)
    r = recall(g_exact, g)
    assert r >= 0.9, f"MRDF recall {r} below threshold"


def test_mrdf_single_leaf_high_recall(spark, emb, g_exact):
    # alpha > n: no division, pure per-group NN-Descent
    g = knn_graph(emb, K, rho=4, alpha=600, tau=0.01, seed=42, max_iter=1, refine_rounds=0)
    r = recall(g_exact, g)
    assert r >= 0.97, f"NN-Descent recall {r} below threshold"


def test_mrdf_seeded_determinism(spark, emb):
    a = knn_graph(emb, K, rho=3, alpha=120, tau=0.05, seed=7, max_iter=2)
    b = knn_graph(emb, K, rho=3, alpha=120, tau=0.05, seed=7, max_iter=2)
    rows_a = sorted(map(tuple, a.select("src", "dst").collect()))
    rows_b = sorted(map(tuple, b.select("src", "dst").collect()))
    assert rows_a == rows_b


def test_mrdf_distributed_centroids_tier(spark, emb, g_exact):
    # centroid_broadcast_max_paths=0 forces the join+min_by tier (no
    # driver-side centroid dict) on every division round; tiny alpha
    # forces many oversized paths. Same recall contract as the dict
    # tier, and seeded determinism holds.
    kw = dict(rho=4, alpha=250, tau=0.0, seed=42, max_iter=3, centroid_broadcast_max_paths=0)
    g = knn_graph(emb, K, **kw)
    r = recall(g_exact, g)
    assert r >= 0.9, f"join-tier MRDF recall {r} below threshold"
    rows_a = sorted(map(tuple, g.select("src", "dst").collect()))
    rows_b = sorted(
        map(tuple, knn_graph(emb, K, **kw).select("src", "dst").collect())
    )
    assert rows_a == rows_b


def test_mrdf_max_k_edges_per_src(spark, emb):
    g = knn_graph(emb, K, rho=3, alpha=200, tau=0.05, seed=1, max_iter=2)
    over = g.groupBy("src").count().filter(F.col("count") > K).count()
    assert over == 0


def test_readme_two_vector_golden(spark):
    # reference README.md:48-50: two vectors, K=1 → (0,[1]), (1,[0])
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0])], ["vec_id", "embedding"]
    )
    g = knn_graph(df, 1, rho=2, alpha=10, tau=0.01, seed=42, max_iter=2)
    adj = {r["id"]: list(r["neighbors"]) for r in format_adjacency(g).collect()}
    assert adj == {0: [1], 1: [0]}


def test_recall_identity(g_exact):
    assert recall(g_exact, g_exact) == 1.0


def test_recall_vs_groundtruth(spark, g_exact):
    gt = (
        g_exact.orderBy("rnk")
        .groupBy(F.col("src").alias("id"))
        .agg(F.collect_list("dst").alias("true_neighbors"))
    )
    assert recall_vs_groundtruth(g_exact, gt, K) == 1.0


def test_nndescent_recall_clusters():
    # three well-separated blobs (FIXTURES.md B3): kNN stays in-blob
    rng = np.random.default_rng(5)
    blobs = [rng.normal(loc=c, scale=0.1, size=(60, 8)) for c in (0.0, 5.0, 10.0)]
    mat = np.concatenate(blobs)
    ids = np.arange(len(mat), dtype=np.int64)
    approx = nn_descent(ids, mat, 5, rng=np.random.default_rng(3))
    exact = _exact_block(ids, mat, 5)
    ex: dict[int, set] = {}
    for s, d, _ in exact:
        ex.setdefault(s, set()).add(d)
    ap: dict[int, set] = {}
    for s, d, _ in approx:
        ap.setdefault(s, set()).add(d)
    hits = sum(len(ex[s] & ap.get(s, set())) for s in ex)
    total = sum(len(v) for v in ex.values())
    assert hits / total >= 0.9
    # all neighbors in-blob
    for s, ds in ap.items():
        blob = s // 60
        assert all(d // 60 == blob for d in ds)


def test_nndescent_iterative_rounds_recall(monkeypatch):
    # n=180 is below the exact cutoffs, so force the ITERATIVE
    # NN-Descent rounds (the only path the cutoffs leave untested —
    # it's what runs for reference-parity huge-alpha leaves)
    import pyspark_mrdf_spark.algorithms.nndescent as nd

    monkeypatch.setattr(nd, "EXACT_BLOCK_MAX", 0)
    monkeypatch.setattr(nd, "TILED_EXACT_MAX", 0)
    rng = np.random.default_rng(5)
    blobs = [rng.normal(loc=c, scale=0.1, size=(60, 8)) for c in (0.0, 5.0, 10.0)]
    mat = np.concatenate(blobs)
    ids = np.arange(len(mat), dtype=np.int64)
    approx = nn_descent(ids, mat, 5, rng=np.random.default_rng(3))
    exact = _exact_block(ids, mat, 5)
    ex: dict[int, set] = {}
    for s, d, _ in exact:
        ex.setdefault(s, set()).add(d)
    ap: dict[int, set] = {}
    for s, d, _ in approx:
        ap.setdefault(s, set()).add(d)
    hits = sum(len(ex[s] & ap.get(s, set())) for s in ex)
    total = sum(len(v) for v in ex.values())
    assert hits / total >= 0.9


def test_mrdf_deep_division_recall(spark, emb, g_exact):
    # α=120 at n=500 forces ≥2 division rounds (500 → ~3×167 → ~9×56):
    # exercises multi-level tree-path extension, per-path centroid
    # sampling on non-root paths, and the metrics hook
    metrics: list = []
    g = knn_graph(
        emb, K, rho=3, alpha=120, tau=0.01, seed=42, max_iter=3,
        refine_rounds=2, metrics_out=metrics,
    ).localCheckpoint()
    assert metrics and any(m["divisions"] >= 2 for m in metrics)
    # every node keeps exactly K edges
    per_src = g.groupBy("src").count().agg(
        F.min("count").alias("lo"), F.max("count").alias("hi")
    ).collect()[0]
    assert (per_src["lo"], per_src["hi"]) == (K, K)
    assert recall(g_exact, g) >= 0.85


def _uniform_emb(spark, n=2000, d=32, seed=13):
    # pure Gaussian noise — the documented worst case for
    # partition-based ANN (SCALABILITY.json's uniform rows)
    rng = np.random.default_rng(seed)
    mat = rng.standard_normal((n, d)).astype(float)
    return spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<double>",
    ).localCheckpoint(eager=True)


def test_uniform_default_tau_driven_call_reaches_recall(spark):
    # the r5 verdict's footgun check, closed from the convergence side:
    # at the DEFAULT dial (max_iter=0 → tau drives), worst-case uniform
    # data must either reach >=0.9 recall or surface an explicit
    # signal. Measured: tau-driven iteration converges (n=10k: 14
    # forests, recall 0.996) — so the default call reaches the bar and
    # emits NO warning.
    import warnings as w

    from pyspark_mrdf_spark.operators.similarity import knn_exact_blocked

    emb = _uniform_emb(spark)
    g_exact = knn_exact_blocked(emb, 10).localCheckpoint(eager=True)
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        g = knn_graph(emb, 10, rho=4, alpha=512, seed=42).localCheckpoint(eager=True)
        assert not any("knn_graph stopped" in str(x.message) for x in caught)
    assert recall(g_exact, g) >= 0.9


def test_capped_unconverged_run_surfaces_signal(spark):
    # ...and from the capped side: an explicit max_iter that cuts the
    # loop while the changed-edge ratio is still high must emit the
    # under-convergence UserWarning and flag metrics_out — the
    # explicit signal a user sizing the dial needs when the hands-free
    # escalation is pinned off
    import pytest as pt

    emb = _uniform_emb(spark)
    metrics: list = []
    # max_iter=3, not 2: the signal uses already-measured ratios only
    # (iteration 1's ratio is definitional and the stop iteration skips
    # the aggregate), so the first config that CAN warn is max_iter=3
    with pt.warns(UserWarning, match="knn_graph stopped at max_iter"):
        knn_graph(
            emb, 10, rho=4, alpha=512, max_iter=3, metrics_out=metrics,
            auto_escalate=False,
        ).localCheckpoint(eager=True)
    assert metrics and metrics[-1].get("unconverged") is True


def test_capped_unconverged_run_auto_escalates_hands_free(spark):
    # default-dial call on worst-case uniform data (no hand tuning):
    # the same free signal that fires the warning must instead raise
    # the dial — up to 2x the forests plus one extra refine round —
    # and the escalated graph must beat the pinned-off one. The
    # escalated schedule is deterministic (forests depend only on
    # (seed, i)), so this is the hand-tuned dial, reached hands-free.
    from pyspark_mrdf_spark.operators.similarity import knn_exact_blocked

    emb = _uniform_emb(spark)
    g_exact = knn_exact_blocked(emb, 10).localCheckpoint(eager=True)
    metrics_off: list = []
    metrics_on: list = []
    import warnings as w

    with w.catch_warnings():
        w.simplefilter("ignore")  # the pinned-off run warns by design
        g_off = knn_graph(
            emb, 10, rho=4, alpha=512, max_iter=3, metrics_out=metrics_off,
            auto_escalate=False,
        ).localCheckpoint(eager=True)
    g_on = knn_graph(
        emb, 10, rho=4, alpha=512, max_iter=3, metrics_out=metrics_on,
    ).localCheckpoint(eager=True)
    assert any(m.get("escalated") for m in metrics_on)
    # budget honored: never more than 2x max_iter forests
    assert len(metrics_on) <= 6
    r_off, r_on = recall(g_exact, g_off), recall(g_exact, g_on)
    assert r_on > r_off, (r_on, r_off)
    assert r_on >= 0.9, r_on


def test_refine_default_sizing_matches_explicit_blocks(spark, emb):
    # _refine's n_blocks=None sizing (one aggregate job, not a
    # first()+count() pair) must produce the same refined graph as an
    # explicit block count — block shape never changes results
    from pyspark.sql import functions as F

    from pyspark_mrdf_spark.algorithms.mrdf import _refine

    base = emb.select(
        F.col("vec_id").cast("long").alias("id"), F.col("embedding").alias("vec")
    ).localCheckpoint(eager=True)
    g0 = knn_exact(emb, 3).select("src", "dst", "dist_sq").localCheckpoint(eager=True)
    auto = sorted(map(tuple, _refine(base, g0, 5).select("src", "dst").collect()))
    explicit = sorted(
        map(tuple, _refine(base, g0, 5, n_blocks=3).select("src", "dst").collect())
    )
    assert auto == explicit and len(auto) > 0


def test_refine_grid_invariance_bit_identical(spark, emb):
    # The r14 grid blocking: cell shape must never change the refined
    # graph — per-pair gather→subtract→einsum is identical under any
    # (Ba, Bb), including the degenerate single cell. dist_sq compared
    # EXACTLY (bit-identical, the r10 chunking discipline).
    from pyspark.sql import functions as F

    from pyspark_mrdf_spark.algorithms.mrdf import _refine

    base = emb.select(
        F.col("vec_id").cast("long").alias("id"), F.col("embedding").alias("vec")
    ).localCheckpoint(eager=True)
    g0 = knn_exact(emb, 3).select("src", "dst", "dist_sq").localCheckpoint(eager=True)

    def run(grid):
        return sorted(
            map(tuple, _refine(base, g0, 5, grid=grid).collect())
        )

    single = run((1, 1))
    assert single == run((3, 2)) == run((4, 4)) and len(single) > 0


def _refine_reference(vec: dict, edges: list, k: int) -> list:
    """NumPy brute force of one refine round: 2-hop pairs a → mid → b
    over both directions of mid's edges, minus a == b and existing
    edges, scored exactly, merged with the edges, top-k per src by
    (dist_sq, dst)."""
    out_nb: dict = {}
    hop_nb: dict = {}
    for s, d, _ in edges:
        out_nb.setdefault(s, []).append(d)
        hop_nb.setdefault(s, []).append(d)
        hop_nb.setdefault(d, []).append(s)
    known = {(s, d) for s, d, _ in edges}
    pairs = sorted(
        {
            (a, b)
            for a, mids in out_nb.items()
            for m in mids
            for b in hop_nb[m]
            if a != b and (a, b) not in known
        }
    )
    rows = list(edges)
    if pairs:
        a = np.stack([vec[p[0]] for p in pairs])
        b = np.stack([vec[p[1]] for p in pairs])
        diff = a - b
        d2 = np.einsum("ij,ij->i", diff, diff)
        rows += [(s, d, float(x)) for (s, d), x in zip(pairs, d2)]
    by_src: dict = {}
    for s, d, x in rows:
        by_src.setdefault(s, []).append((x, d))
    return sorted(
        (s, d, x) for s, cand in by_src.items() for x, d in sorted(cand)[:k]
    )


def test_refine_matches_numpy_bruteforce(spark, emb):
    # the refine round against a NumPy brute force on every grid,
    # dist_sq compared EXACTLY. The sparse graph has 4 srcs only, so on
    # the 5×5 grid some grid rows get B-rows (hops into their column)
    # but no A-rows — those cells must contribute nothing.
    from pyspark_mrdf_spark.algorithms.mrdf import _refine

    base = emb.select(
        F.col("vec_id").cast("long").alias("id"), F.col("embedding").alias("vec")
    ).localCheckpoint(eager=True)
    vec = {
        r["id"]: np.asarray(r["vec"], dtype=np.float64) for r in base.collect()
    }
    g0 = knn_exact(emb, 3).select("src", "dst", "dist_sq").localCheckpoint(eager=True)
    edges = [tuple(r) for r in g0.collect()]
    hub = min(s for s, _, _ in edges)
    srcs = {hub} | {d for s, d, _ in edges if s == hub}
    sparse_edges = [e for e in edges if e[0] in srcs]
    sparse = spark.createDataFrame(sparse_edges, g0.schema).localCheckpoint(eager=True)
    for graph, rows in ((g0, edges), (sparse, sparse_edges)):
        want = _refine_reference(vec, rows, 5)
        # the round must add 2-hop edges, or the law checks nothing
        assert {(s, d) for s, d, _ in want} - {(s, d) for s, d, _ in rows}
        for grid in ((1, 1), (2, 2), (3, 2), (5, 5)):
            got = sorted(map(tuple, _refine(base, graph, 5, grid=grid).collect()))
            assert got == want, grid
