"""knn_search (external query set) and hyperplane LSH buckets."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyspark_mrdf_spark.io import load_table
from pyspark_mrdf_spark.operators.similarity import (
    knn_exact,
    knn_search,
    lsh_hyperplane_buckets,
)


def test_knn_search_subset_matches_self_graph(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    sub = knn_search(queries, emb, 5, include_self=False).collect()
    full = knn_exact(emb, 5).filter(F.col("src") < 50).collect()
    key = lambda r: (r["src"], r["rnk"])
    assert sorted((r["src"], r["rnk"], r["dst"]) for r in sub) == sorted(
        (r["src"], r["rnk"], r["dst"]) for r in full
    )


def test_knn_search_includes_self_by_default(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    one = knn_search(emb.filter(F.col("vec_id") == 3), emb, 1).collect()
    assert len(one) == 1 and one[0]["dst"] == 3 and one[0]["dist_sq"] == 0.0


def test_lsh_buckets_cover_all_vectors(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    bk = lsh_hyperplane_buckets(emb, n_planes=4)
    rows = bk.collect()
    assert len(rows) == emb.count()
    assert all(0 <= r["bucket"] < 16 for r in rows)


def test_knn_search_autoroutes_to_blocked_tier(spark, sf_dir):
    # above broadcast_max_rows the naturally-named entry point must NOT
    # driver-collect the corpus: it falls through to the grid-blocked
    # tier with identical results. Force the route with a tiny
    # threshold and check equality against the explicit broadcast tier.
    from unittest.mock import patch

    from pyspark_mrdf_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 40)
    ref = sorted(
        map(
            tuple,
            knn_search(queries, emb, 5, include_self=False, broadcast_max_rows=None)
            .select("src", "dst", "rnk")
            .collect(),
        )
    )
    with patch.object(similarity, "collect_matrix", side_effect=AssertionError(
        "auto-routed call must not collect the corpus"
    )):
        got = sorted(
            map(
                tuple,
                similarity.knn_search(
                    queries, emb, 5, include_self=False, broadcast_max_rows=10
                )
                .select("src", "dst", "rnk")
                .collect(),
            )
        )
    assert got == ref


def test_knn_blocked_matches_broadcast(spark, sf_dir):
    from pyspark_mrdf_spark.io import load_table
    from pyspark_mrdf_spark.operators.similarity import (
        knn_exact,
        knn_exact_blocked,
        knn_search,
        knn_search_blocked,
    )

    emb = load_table(spark, sf_dir, "embeddings").cache()
    ref = sorted(map(tuple, knn_exact(emb, 5).select("src", "dst", "rnk").collect()))
    for nb, nq in ((1, 1), (3, 2), (8, 4)):
        got = sorted(
            map(
                tuple,
                knn_exact_blocked(emb, 5, n_blocks=nb, n_query_blocks=nq)
                .select("src", "dst", "rnk")
                .collect(),
            )
        )
        assert got == ref, f"n_blocks={nb} n_query_blocks={nq}"
    # external query set, include_self=True, grid-blocked on both sides
    q = emb.filter("vec_id % 7 = 0")
    ref_q = sorted(map(tuple, knn_search(q, emb, 4).select("src", "dst", "rnk").collect()))
    got_q = sorted(
        map(
            tuple,
            knn_search_blocked(q, emb, 4, n_blocks=5, n_query_blocks=3)
            .select("src", "dst", "rnk")
            .collect(),
        )
    )
    assert got_q == ref_q


def test_cosine_topk_blocked_matches_single_task(spark, sf_dir):
    from pyspark_mrdf_spark.io import load_table
    from pyspark_mrdf_spark.operators.similarity import (
        cosine_topk_by_group,
        cosine_topk_by_group_blocked,
    )

    emb = load_table(spark, sf_dir, "embeddings").cache()
    ref = sorted(map(tuple, cosine_topk_by_group(emb, 5).collect()))
    for nb, nq in ((1, 1), (4, 3)):
        got = sorted(
            map(
                tuple,
                cosine_topk_by_group_blocked(
                    emb, 5, n_blocks=nb, n_query_blocks=nq
                ).collect(),
            )
        )
        assert got == ref, f"n_blocks={nb} n_query_blocks={nq}"


def test_cosine_topk_ties_and_small_groups(spark):
    # identical vectors (cosine ties at exactly 1e6) break to the LOWER
    # id, and a group smaller than k+1 yields all its non-self pairs —
    # the edge cases the vectorized selection must preserve
    from pyspark_mrdf_spark.operators.similarity import cosine_topk_by_group

    rows = [
        (0, 10, [1.0, 0.0]),
        (0, 11, [1.0, 0.0]),
        (0, 12, [1.0, 0.0]),
        (1, 20, [0.0, 1.0]),
        (1, 21, [1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "label int, vec_id long, embedding array<double>")
    got = sorted(map(tuple, cosine_topk_by_group(df, 2).collect()))
    assert got == [
        (10, 11, 1),
        (10, 12, 2),
        (11, 10, 1),
        (11, 12, 2),
        (12, 10, 1),
        (12, 11, 2),
        (20, 21, 1),
        (21, 20, 1),
    ]


def test_ivf_trained_centroids_improve_recall(spark, sf_dir):
    import numpy as np
    from pyspark_mrdf_spark.algorithms.recall import recall
    from pyspark_mrdf_spark.io import load_table
    from pyspark_mrdf_spark.operators.similarity import (
        ann_ivf,
        ivf_train_centroids,
        knn_exact,
    )

    emb = load_table(spark, sf_dir, "embeddings").cache()
    exact = knn_exact(emb, 5).localCheckpoint()
    c1 = ivf_train_centroids(emb, n_centroids=8, sample_size=256, iters=8, seed=7)
    c2 = ivf_train_centroids(emb, n_centroids=8, sample_size=256, iters=8, seed=7)
    assert np.array_equal(c1, c2)  # seeded determinism
    r_base = recall(exact, ann_ivf(emb, 5, n_centroids=8, n_probe=2))
    r_trained = recall(exact, ann_ivf(emb, 5, n_centroids=8, n_probe=2, centroids=c1))
    # Lloyd-refined cells must not be worse than arbitrary lowest-id cells
    assert r_trained >= r_base - 0.02, (r_trained, r_base)
    assert r_trained >= 0.5


def test_knn_search_checkpoints_computed_corpus_once(spark, sf_dir):
    """A computed (non-scan-shaped) corpus lineage must be evaluated
    exactly ONCE across the auto-route guard count and the search scan
    (knn_search localCheckpoints it lazily); a plain parquet scan must
    NOT be checkpointed — its re-read is cheaper than a corpus copy."""
    from pyspark_mrdf_spark.operators.similarity import _scan_shaped

    emb = load_table(spark, sf_dir, "embeddings")
    assert _scan_shaped(emb)
    assert _scan_shaped(emb.filter(F.col("vec_id") < 100).select("vec_id", "embedding"))
    assert not _scan_shaped(emb.groupBy("label").count())
    # a CACHED scan substitutes InMemoryRelation, whose toString embeds
    # the cached PHYSICAL plan (ColumnarToRow/FileScan) as child lines —
    # still scan-shaped: re-serving cached blocks is cheaper than a copy
    cached = load_table(spark, sf_dir, "nation").cache()
    try:
        cached.count()
        assert _scan_shaped(load_table(spark, sf_dir, "nation"))
        assert _scan_shaped(cached.select("n_nationkey"))
    finally:
        cached.unpersist()
    # an already-materialized lineage (LogicalRDD from localCheckpoint)
    # re-reads for free — re-checkpointing it would duplicate a full
    # corpus copy, so it must count as scan-shaped; same for a union
    # of scans
    ckpt = emb.groupBy("label").count().localCheckpoint(eager=True)
    assert _scan_shaped(ckpt)
    assert _scan_shaped(ckpt.filter(F.col("count") > 0))
    assert _scan_shaped(emb.unionByName(emb))

    acc = spark.sparkContext.accumulator(0)

    def _tag(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    computed = emb.select("vec_id", "embedding").mapInPandas(
        _tag, "vec_id long, embedding array<float>"
    )
    assert not _scan_shaped(computed)
    n_corpus = emb.count()
    res = knn_search(
        emb.filter(F.col("vec_id") < 30).select("vec_id", "embedding"),
        computed,
        3,
        include_self=False,
        broadcast_max_rows=100,  # force the blocked route + guard counts
    )
    assert res.count() == 30 * 3
    # guard count + grid scan: the checkpointed corpus materializes once
    assert acc.value == n_corpus, f"computed corpus evaluated {acc.value / n_corpus:.1f}x"

    # self-search passes the SAME computed DataFrame twice; the swap
    # must preserve identity so both sides share one checkpoint
    acc2 = spark.sparkContext.accumulator(0)

    def _tag2(batches):
        for pdf in batches:
            acc2.add(len(pdf))
            yield pdf

    computed2 = emb.select("vec_id", "embedding").mapInPandas(
        _tag2, "vec_id long, embedding array<float>"
    )
    assert knn_search(
        computed2, computed2, 3, include_self=False, broadcast_max_rows=100
    ).count() == n_corpus * 3
    assert acc2.value == n_corpus, f"self-search evaluated {acc2.value / n_corpus:.1f}x"


def test_ann_ivf_auto_sizes_cells_from_corpus_count(spark, sf_dir):
    """n_centroids=None derives the quantizer size from one corpus
    count via the O(sqrt(n)) rule — different corpus sizes get
    different, rule-consistent cell counts without the caller
    choosing (the measured sf0.1 sweep calibrates the constant)."""
    from pyspark_mrdf_spark.operators.similarity import ann_ivf, auto_n_centroids

    # the rule itself: monotone, sqrt-shaped, bounded by n//8 below
    # the sqrt regime and by the 8-cell floor at tiny n
    assert auto_n_centroids(40) == 8
    assert auto_n_centroids(500) == 62          # n//8 caps 6*sqrt(500)=134
    assert auto_n_centroids(2_000) == 250       # ~ the measured 256-cell point
    assert auto_n_centroids(50_000) == 1_341    # 6*sqrt(n) regime
    assert auto_n_centroids(50_000) > auto_n_centroids(500) > auto_n_centroids(40)

    # end-to-end default: a corpus self-sizes and still returns a
    # full, valid top-k (62 cells on the 500-row harness corpus)
    emb = load_table(spark, sf_dir, "embeddings")
    got = ann_ivf(emb, 3).groupBy("src").count().collect()
    assert len(got) == emb.count() and all(r["count"] == 3 for r in got)


def test_sq8_codes_formula_and_range():
    import numpy as np
    from pyspark_mrdf_spark.operators.quantize import sq8_codes

    rng = np.random.default_rng(3)
    mat = rng.standard_normal((50, 8)).astype(np.float32)
    mn = mat.min(axis=0).astype(np.float64)
    mx = mat.max(axis=0).astype(np.float64)
    codes = sq8_codes(mat, mn, mx)
    assert codes.dtype == np.uint8
    # extremes map to the range ends; everything in [0, 255]
    assert codes.min() == 0 and codes.max() == 255
    # scalar re-derivation with the exact contract expression
    for r in (0, 7, 49):
        for d in (0, 3, 7):
            v = float(np.float64(mat[r, d]))
            expect = np.floor((v - mn[d]) * 255.0 / (mx[d] - mn[d]) + 0.5)
            assert codes[r, d] == int(expect)
    # constant dimension encodes 0, no div-by-zero
    cmat = np.ones((4, 2), dtype=np.float32)
    c = sq8_codes(cmat, np.array([1.0, 1.0]), np.array([1.0, 1.0]))
    assert (c == 0).all()


def test_sq8_search_near_exact_recall(spark, sf_dir):
    from pyspark_mrdf_spark.algorithms.recall import recall
    from pyspark_mrdf_spark.operators.quantize import search
    from pyspark_mrdf_spark.operators.similarity import knn_exact

    emb = load_table(spark, sf_dir, "embeddings")
    exact = knn_exact(emb, 5).localCheckpoint()
    approx = search(emb, emb, 5, "sq8", k_candidates=40, include_self=False)
    # quantization to 1 byte/dim at 40 candidates: near-exact on the corpus
    r = recall(exact, approx)
    assert r >= 0.97, r
    # output contract: exactly k rows per src, rnk 1..k
    from pyspark.sql import functions as SF

    per = approx.groupBy("src").count().agg(SF.min("count"), SF.max("count")).collect()[0]
    assert per[0] == per[1] == 5


def test_pq_search_recall_and_determinism(spark, sf_dir):
    import numpy as np
    from pyspark_mrdf_spark.algorithms.recall import recall
    from pyspark_mrdf_spark.operators.quantize import pq_assign, pq_train, search
    from pyspark_mrdf_spark.operators.similarity import knn_exact

    emb = load_table(spark, sf_dir, "embeddings")
    cb1 = pq_train(emb, n_subspaces=8, n_codes=16, sample_size=256, iters=5, seed=7)
    cb2 = pq_train(emb, n_subspaces=8, n_codes=16, sample_size=256, iters=5, seed=7)
    assert cb1.shape == (8, 16, 8)
    assert np.array_equal(cb1, cb2)  # seeded determinism
    # encode roundtrip: codes in range, deterministic
    x = np.stack(
        emb.limit(50).toPandas()["embedding"].to_numpy()
    ).astype(np.float64)
    codes = pq_assign(x, cb1)
    assert codes.shape == (50, 8) and codes.max() < 16

    exact = knn_exact(emb, 5).localCheckpoint()
    approx = search(emb, emb, 5, "pq", k_candidates=80, include_self=False)
    # 8x16 PQ is COARSE (8 B/row): measured candidate sweep on this
    # corpus is 0.68@40 / 0.85@80 / 0.95@160 — recall is bought with
    # the (cheap, table-lookup) candidate budget, as PQ intends
    r = recall(exact, approx)
    assert r >= 0.8, r
    from pyspark.sql import functions as SF

    per = approx.groupBy("src").count().agg(SF.min("count"), SF.max("count")).collect()[0]
    assert per[0] == per[1] == 5


def test_ivfpq_search_recall_and_contract(spark, sf_dir):
    import numpy as np
    from pyspark_mrdf_spark.algorithms.recall import recall
    from pyspark_mrdf_spark.operators.quantize import ivfpq_train, search
    from pyspark_mrdf_spark.operators.similarity import knn_exact

    emb = load_table(spark, sf_dir, "embeddings")
    c1, b1 = ivfpq_train(emb, n_centroids=8, sample_size=256, iters_coarse=5, iters_pq=5, seed=3)
    c2, b2 = ivfpq_train(emb, n_centroids=8, sample_size=256, iters_coarse=5, iters_pq=5, seed=3)
    assert np.array_equal(c1, c2) and np.array_equal(b1, b2)  # seeded determinism
    assert c1.shape == (8, 64) and b1.shape == (8, 16, 8)

    exact = knn_exact(emb, 5).localCheckpoint()
    approx = search(
        emb, emb, 5, "ivfpq", k_candidates=120, n_probe=4, include_self=False
    )
    # recall is bounded by the IVF probe-miss rate AND the PQ code
    # coarseness; the measured (probe, candidates) dial on this corpus:
    # 0.66@(3, 80) / 0.78@(4, 120) / 0.86@(5, 160)
    r = recall(exact, approx)
    assert r >= 0.75, r
    from pyspark.sql import functions as SF

    per = approx.groupBy("src").count().agg(SF.min("count"), SF.max("count")).collect()[0]
    assert per[0] == per[1] == 5


def test_ivfpq_index_roundtrip_bit_identical(spark, sf_dir, tmp_path):
    """Train-once/search-many: a persisted IVF-PQ index reloaded from
    parquet serves results BIT-IDENTICAL to the inline train-per-call
    path (float64 params survive the parquet DOUBLE roundtrip exactly;
    codes are partition-independent)."""
    import numpy as np
    from pyspark_mrdf_spark.operators.quantize import (
        build_index,
        ivfpq_train,
        read_index,
        search,
        search_encoded,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 40)
    cfg = dict(n_centroids=8, n_subspaces=8, n_codes=16,
               sample_size=256, iters_coarse=5, iters_pq=5, seed=3)

    path = str(tmp_path / "ivfpq_idx")
    p_w = build_index(emb, path, "ivfpq", **cfg)
    coarse_w, cb_w = p_w["coarse"], p_w["codebooks"]
    p_r, codes_r = read_index(spark, path)
    coarse_r, cb_r = p_r["coarse"], p_r["codebooks"]
    assert np.array_equal(coarse_w, coarse_r)   # bit-exact roundtrip
    assert np.array_equal(cb_w, cb_r)
    # the persisted code table is complete and cell-partitioned
    assert codes_r.count() == emb.count()
    assert set(codes_r.columns) == {"vec_id", "cell", "code"}

    inline = search(
        queries, emb, 5, "ivfpq", k_candidates=60, n_probe=3, include_self=False, **cfg
    ).collect()
    served = search_encoded(
        queries, p_r, codes_r, emb, 5,
        k_candidates=60, n_probe=3, include_self=False,
    ).collect()
    key = lambda r: (r["src"], r["rnk"])
    assert sorted(map(tuple, served), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, inline), key=lambda t: (t[0], t[3])
    )  # full rows incl. float dist_sq — bit-identical


def test_sq8_index_roundtrip_bit_identical(spark, sf_dir, tmp_path):
    import numpy as np
    from pyspark_mrdf_spark.operators.quantize import (
        build_index,
        read_index,
        search,
        search_encoded,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 40)
    path = str(tmp_path / "sq8_idx")
    p_w = build_index(emb, path, "sq8")
    mn_w, mx_w = p_w["mn"], p_w["mx"]
    p_r, codes_r = read_index(spark, path)
    mn_r, mx_r = p_r["mn"], p_r["mx"]
    assert np.array_equal(mn_w, mn_r) and np.array_equal(mx_w, mx_r)
    assert codes_r.count() == emb.count()

    inline = search(queries, emb, 5, "sq8", k_candidates=40, include_self=False).collect()
    served = search_encoded(
        queries, p_r, codes_r, emb, 5, k_candidates=40, include_self=False
    ).collect()
    assert sorted(map(tuple, served), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, inline), key=lambda t: (t[0], t[3])
    )


def test_pq_index_roundtrip_bit_identical(spark, sf_dir, tmp_path):
    import numpy as np
    from pyspark_mrdf_spark.operators.quantize import (
        pq_encode,
        pq_train,
        read_index,
        search,
        search_encoded,
        write_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 40)
    cfg = dict(n_subspaces=8, n_codes=16, sample_size=256, iters=5, seed=7)
    cb_w = pq_train(emb, **cfg)
    path = str(tmp_path / "pq_idx")
    write_index(path, {"codebooks": cb_w}, pq_encode(emb, cb_w))
    p_r, codes_r = read_index(spark, path)
    cb_r = p_r["codebooks"]
    assert np.array_equal(cb_w, cb_r)

    inline = search(queries, emb, 5, "pq", k_candidates=80, include_self=False, **cfg).collect()
    served = search_encoded(
        queries, p_r, codes_r, emb, 5, k_candidates=80, include_self=False
    ).collect()
    assert sorted(map(tuple, served), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, inline), key=lambda t: (t[0], t[3])
    )


def test_ivfpq_index_append_bit_identical(spark, sf_dir, tmp_path):
    """Incremental ingest: build on the first half of the corpus,
    append the second half with the persisted (frozen) params — the
    grown index must serve BIT-IDENTICAL results to a code table
    encoded from the full corpus with the same params, because
    append changes no trained parameter and no existing code byte."""
    from pyspark_mrdf_spark.operators.quantize import (
        append_index,
        build_index,
        index_cell_stats,
        ivfpq_encode,
        read_index,
        search_encoded,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") < 250)
    new = emb.filter(F.col("vec_id") >= 250)
    queries = emb.filter(F.col("vec_id") < 40)
    cfg = dict(n_centroids=8, n_subspaces=8, n_codes=16,
               sample_size=256, iters_coarse=5, iters_pq=5, seed=3)

    path = str(tmp_path / "ivfpq_idx")
    build_index(old, path, "ivfpq", **cfg)
    append_index(path, new)
    p, codes = read_index(spark, path)
    coarse, cb = p["coarse"], p["codebooks"]
    assert codes.count() == emb.count()

    grown = search_encoded(
        queries, p, codes, emb, 5,
        k_candidates=60, n_probe=3, include_self=False,
    ).collect()
    full = search_encoded(
        queries, p, ivfpq_encode(emb, coarse, cb), emb, 5,
        k_candidates=60, n_probe=3, include_self=False,
    ).collect()
    assert sorted(map(tuple, grown), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, full), key=lambda t: (t[0], t[3])
    )

    stats = index_cell_stats(spark, path).collect()
    assert sum(r["n_vectors"] for r in stats) == emb.count()
    assert all(r["skew_ratio"] >= 1.0 for r in stats)
    # skew_ratio is corpus-wide: identical on every row
    assert len({r["skew_ratio"] for r in stats}) == 1


def test_sq8_index_append_bit_identical(spark, sf_dir, tmp_path):
    from pyspark_mrdf_spark.operators.quantize import (
        append_index,
        build_index,
        read_index,
        search_encoded,
        sq8_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") < 250)
    new = emb.filter(F.col("vec_id") >= 250)
    queries = emb.filter(F.col("vec_id") < 40)

    path = str(tmp_path / "sq8_idx")
    build_index(old, path, "sq8")
    append_index(path, new)
    p, codes = read_index(spark, path)
    mn, mx = p["mn"], p["mx"]
    assert codes.count() == emb.count()

    grown = search_encoded(
        queries, p, codes, emb, 5, k_candidates=40, include_self=False
    ).collect()
    full = search_encoded(
        queries, p, sq8_encode(emb, mn, mx), emb, 5,
        k_candidates=40, include_self=False,
    ).collect()
    assert sorted(map(tuple, grown), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, full), key=lambda t: (t[0], t[3])
    )


def test_pq_index_append_bit_identical(spark, sf_dir, tmp_path):
    from pyspark_mrdf_spark.operators.quantize import (
        append_index,
        pq_encode,
        pq_train,
        read_index,
        search_encoded,
        write_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") < 250)
    new = emb.filter(F.col("vec_id") >= 250)
    queries = emb.filter(F.col("vec_id") < 40)
    cb = pq_train(old, n_subspaces=8, n_codes=16, sample_size=256, iters=5, seed=7)

    path = str(tmp_path / "pq_idx")
    write_index(path, {"codebooks": cb}, pq_encode(old, cb))
    append_index(path, new)
    p, codes = read_index(spark, path)
    cb_r = p["codebooks"]
    assert codes.count() == emb.count()

    grown = search_encoded(
        queries, p, codes, emb, 5, k_candidates=80, include_self=False
    ).collect()
    full = search_encoded(
        queries, p, pq_encode(emb, cb_r), emb, 5,
        k_candidates=80, include_self=False,
    ).collect()
    assert sorted(map(tuple, grown), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, full), key=lambda t: (t[0], t[3])
    )


def test_params_roundtrip_preserves_size1_leading_dims(spark, tmp_path):
    # rank survives the parquet roundtrip even when a leading dim is 1
    # (n_subspaces=1 codebooks, n_centroids=1 coarse tables): shape
    # comes from the stored ndim column, not max-index inference
    import numpy as np

    from pyspark_mrdf_spark.operators.quantize import _read_params, _write_params

    parts = {
        "v1": np.arange(4.0),                      # (4,)
        "m_one_row": np.arange(6.0).reshape(1, 6), # (1, 6)
        "t_one_sub": np.arange(12.0).reshape(1, 4, 3),  # (1, 4, 3)
        "t_full": np.arange(24.0).reshape(2, 4, 3),
    }
    _write_params(spark, str(tmp_path / "p"), parts)
    got = _read_params(spark, str(tmp_path / "p"))
    for name, arr in parts.items():
        assert got[name].shape == arr.shape, name
        assert np.array_equal(got[name], arr), name


def test_bq_bits_median_and_hamming_kernel():
    """Thresholds are nearest-rank medians (elements of the data), the
    strict-> rule sends the median itself to 0, and the packed XOR+LUT
    Hamming matches a per-bit brute force."""
    import numpy as np
    from pyspark_mrdf_spark.operators.quantize import _POPCOUNT, bq_bits

    rng = np.random.default_rng(7)
    mat = rng.normal(size=(51, 9))  # ODD n: numpy median IS an element
    thr = np.median(mat, axis=0)
    bits = bq_bits(mat, thr)
    assert bits.shape == (51, 9) and set(np.unique(bits)) <= {0, 1}
    assert np.array_equal(bits, (mat > thr).astype(np.uint8))
    # median row encodes 0 in its own dimension
    med_rows = mat.argsort(axis=0)[mat.shape[0] // 2, :]
    for j, r in enumerate(med_rows):
        assert bits[r, j] == 0
    # packed Hamming == per-bit mismatch count
    a, b = np.packbits(bits[0]), np.packbits(bits[1])
    ham = int(_POPCOUNT[np.bitwise_xor(a, b)].sum())
    assert ham == int((bits[0] != bits[1]).sum())


def test_bq_search_recall_and_contract(spark, sf_dir):
    from pyspark_mrdf_spark.algorithms.recall import recall
    from pyspark_mrdf_spark.operators.quantize import search
    from pyspark_mrdf_spark.operators.similarity import knn_exact

    emb = load_table(spark, sf_dir, "embeddings")
    exact = knn_exact(emb, 5).localCheckpoint()
    approx = search(emb, emb, 5, "bq", k_candidates=160, include_self=False)
    # 1 bit/dim keeps far less metric information than SQ8, so recall
    # is bought with candidate budget: measured on this corpus
    # 0.64@40 / 0.81@80 / 0.93@160 / 0.995@320 candidates
    r = recall(exact, approx)
    assert r >= 0.88, r
    from pyspark.sql import functions as SF

    per = approx.groupBy("src").count().agg(SF.min("count"), SF.max("count")).collect()[0]
    assert per[0] == per[1] == 5
    # determinism: a second run is row-identical
    again = search(emb, emb, 5, "bq", k_candidates=160, include_self=False)
    assert sorted(map(tuple, approx.collect())) == sorted(map(tuple, again.collect()))


def test_bq_index_roundtrip_bit_identical(spark, sf_dir, tmp_path):
    import numpy as np
    from pyspark_mrdf_spark.operators.quantize import (
        bq_encode,
        bq_train,
        read_index,
        search,
        search_encoded,
        write_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 40)
    path = str(tmp_path / "bq_idx")
    thr_w = bq_train(emb)
    write_index(path, {"thr": thr_w}, bq_encode(emb, thr_w))
    p_r, codes_r = read_index(spark, path)
    thr_r = p_r["thr"]
    assert np.array_equal(thr_w, thr_r)
    assert codes_r.count() == emb.count()
    # 1 bit/dim: stored code cell is ceil(d/8) bytes
    d = len(emb.select("embedding").first()[0])
    assert len(codes_r.select("code").first()[0]) == -(-d // 8)

    inline = search(queries, emb, 5, "bq", k_candidates=40, include_self=False).collect()
    served = search_encoded(
        queries, p_r, codes_r, emb, 5, k_candidates=40, include_self=False
    ).collect()
    assert sorted(map(tuple, served), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, inline), key=lambda t: (t[0], t[3])
    )


def test_prefix_dim_search_budget_dial_and_contract(spark, sf_dir):
    """Dimension-truncation tier law: recall grows with candidate
    budget (measured 0.42@40 → 0.97@320 at d_prefix=16), widening the
    prefix helps at fixed budget, and the output keeps the knn_search
    contract (k rows per src, rnk 1..k, deterministic)."""
    from pyspark.sql import functions as SF

    from pyspark_mrdf_spark.algorithms.recall import recall
    from pyspark_mrdf_spark.operators.similarity import knn_exact, prefix_dim_search

    emb = load_table(spark, sf_dir, "embeddings")
    exact = knn_exact(emb, 5).localCheckpoint()
    narrow = prefix_dim_search(emb, emb, 5, d_prefix=16, k_candidates=40, include_self=False)
    wide = prefix_dim_search(emb, emb, 5, d_prefix=16, k_candidates=320, include_self=False)
    r_narrow, r_wide = recall(exact, narrow), recall(exact, wide)
    assert r_wide >= 0.9, r_wide
    assert r_wide > r_narrow, (r_narrow, r_wide)
    wider_prefix = prefix_dim_search(emb, emb, 5, d_prefix=32, k_candidates=40, include_self=False)
    assert recall(exact, wider_prefix) > r_narrow
    per = wide.groupBy("src").count().agg(SF.min("count"), SF.max("count")).collect()[0]
    assert per[0] == per[1] == 5


def test_sq8_index_merge_equals_union_build_and_compacts_stream(spark, sf_dir, tmp_path):
    # Shard-parallel build: train on shard A, encode shard B with the
    # SAME frozen quantizer into its own index dir, merge — must serve
    # bit-identically to one union-corpus build with those params.
    # A single-source merge must fold streamed deltas (compaction).
    from pyspark_mrdf_spark.operators.quantize import (
        build_index,
        merge_indexes,
        read_index,
        search_encoded,
        sq8_encode,
        write_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") < 250)
    b = emb.filter(F.col("vec_id") >= 250)
    queries = emb.filter(F.col("vec_id") < 40)

    pa_ = str(tmp_path / "shard_a")
    pb = str(tmp_path / "shard_b")
    merged = str(tmp_path / "merged")
    p = build_index(a, pa_, "sq8")
    mn, mx = p["mn"], p["mx"]
    write_index(pb, p, sq8_encode(b, mn, mx))
    merge_indexes(spark, [pa_, pb], merged)

    p_m, codes_m = read_index(spark, merged)
    mn_m, mx_m = p_m["mn"], p_m["mx"]
    assert (mn_m == mn).all() and (mx_m == mx).all()
    assert codes_m.count() == emb.count()
    got = search_encoded(
        queries, p_m, codes_m, emb, 5, k_candidates=40, include_self=False
    ).collect()
    want = search_encoded(
        queries, p, sq8_encode(emb, mn, mx), emb, 5,
        k_candidates=40, include_self=False,
    ).collect()
    key = lambda t: (t[0], t[3])
    assert sorted(map(tuple, got), key=key) == sorted(map(tuple, want), key=key)

    # compaction: plant a stream_codes delta, single-source merge folds it
    import os

    delta = sq8_encode(b, mn, mx)
    delta.write.parquet(os.path.join(pa_, "stream_codes", "batch=0"))
    compacted = str(tmp_path / "compacted")
    merge_indexes(spark, [pa_], compacted)
    _, codes_c = read_index(spark, compacted)
    assert codes_c.count() == emb.count()
    assert not os.path.exists(os.path.join(compacted, "stream_codes"))
    got_c = search_encoded(
        queries, p, codes_c, emb, 5, k_candidates=40, include_self=False
    ).collect()
    assert sorted(map(tuple, got_c), key=key) == sorted(map(tuple, want), key=key)


def test_ivfpq_index_merge_equals_union_build(spark, sf_dir, tmp_path):
    import numpy as np

    from pyspark_mrdf_spark.operators.quantize import (
        build_index,
        ivfpq_encode,
        merge_indexes,
        read_index,
        search_encoded,
        write_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") < 250)
    b = emb.filter(F.col("vec_id") >= 250)
    queries = emb.filter(F.col("vec_id") < 40)

    pa_ = str(tmp_path / "shard_a")
    pb = str(tmp_path / "shard_b")
    merged = str(tmp_path / "merged")
    p = build_index(a, pa_, "ivfpq", n_centroids=4, n_subspaces=4, n_codes=8)
    coarse, cb = p["coarse"], p["codebooks"]
    write_index(pb, p, ivfpq_encode(b, coarse, cb))
    merge_indexes(spark, [pa_, pb], merged)

    p_m, codes_m = read_index(spark, merged)
    c_m, cb_m = p_m["coarse"], p_m["codebooks"]
    assert np.array_equal(c_m, coarse) and np.array_equal(cb_m, cb)
    assert codes_m.count() == emb.count()
    got = search_encoded(
        queries, p_m, codes_m, emb, 5,
        n_probe=2, k_candidates=40, include_self=False,
    ).collect()
    want = search_encoded(
        queries, p, ivfpq_encode(emb, coarse, cb), emb, 5,
        n_probe=2, k_candidates=40, include_self=False,
    ).collect()
    key = lambda t: (t[0], t[3])
    assert sorted(map(tuple, got), key=key) == sorted(map(tuple, want), key=key)

    # param-mismatch gate: a shard trained separately must be rejected
    import pytest as _pytest

    alien = str(tmp_path / "alien")
    build_index(b, alien, "ivfpq", n_centroids=4, n_subspaces=4, n_codes=8, seed=7)
    with _pytest.raises(ValueError, match="frozen params"):
        merge_indexes(spark, [pa_, alien], str(tmp_path / "bad"))


def test_pca_search_beats_raw_prefix_on_anisotropic_data(spark):
    # The reason pca_search exists: when the metric's energy lives in
    # LATE dimensions, a raw d_prefix slice (q119) is near-blind while
    # the rotated prefix keeps it. Variance ramps UP with dim index, so
    # dims 1..16 carry ~nothing; both searches get the same candidate
    # budget and the same exact rerank.
    import numpy as np

    from pyspark_mrdf_spark.operators.project import pca_search
    from pyspark_mrdf_spark.operators.similarity import (
        knn_search_blocked,
        prefix_dim_search,
    )

    rng = np.random.default_rng(5)
    n, d = 600, 64
    scales = np.linspace(0.05, 4.0, d)  # energy concentrated in LATE dims
    x = (rng.standard_normal((n, d)) * scales[None, :]).astype(np.float32)
    rows = [(int(i), x[i].tolist()) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb = emb.localCheckpoint(eager=True)
    queries = emb.filter("vec_id % 19 = 0")

    exact = knn_search_blocked(queries, emb, 5, include_self=False)
    truth = {(r["src"], r["dst"]) for r in exact.collect()}

    def rec(df):
        got = {(r["src"], r["dst"]) for r in df.collect()}
        return len(got & truth) / len(truth)

    r_pca = rec(pca_search(queries, emb, 5, d_out=16, k_candidates=40,
                           include_self=False))
    r_raw = rec(prefix_dim_search(queries, emb, 5, d_prefix=16,
                                  k_candidates=40, include_self=False))
    # rotated prefix keeps nearly everything; raw prefix is near-blind
    assert r_pca >= 0.9, r_pca
    assert r_raw <= 0.5, r_raw
    assert r_pca > r_raw + 0.3, (r_pca, r_raw)


def test_opq_rotation_lifts_pq_recall_on_anisotropic_data(spark):
    # The reason opq_train exists (OPQ-lite, eigenvalue allocation): on
    # a decaying spectrum, PQ's contiguous subspace split concentrates
    # variance in subspace 0 and wastes the other codebooks on noise.
    # The balanced rotation is an ISOMETRY (exact neighbors unchanged),
    # so at the same code budget and candidate budget recall can only
    # come from better code geometry. Prototype-measured on this corpus:
    # raw 0.188, PCA-contiguous 0.188 (rotation alone buys nothing),
    # OPQ-balanced 0.356 — the allocation is the whole effect.
    import numpy as np

    from pyspark_mrdf_spark.operators.project import opq_train, pca_project_vec
    from pyspark_mrdf_spark.operators.quantize import search
    from pyspark_mrdf_spark.operators.similarity import knn_search_blocked

    rng = np.random.default_rng(5)
    n, d = 600, 32
    scales = np.linspace(4.0, 0.1, d)
    x = (rng.standard_normal((n, d)) * scales[None, :]).astype(np.float32)
    rows = [(int(i), x[i].tolist()) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb = emb.localCheckpoint(eager=True)
    queries = emb.filter("vec_id % 19 = 0")

    exact = knn_search_blocked(queries, emb, 5, include_self=False)
    truth = {(r["src"], r["dst"]) for r in exact.collect()}

    def rec(df):
        got = {(r["src"], r["dst"]) for r in df.collect()}
        return len(got & truth) / len(truth)

    dials = dict(k_candidates=20, n_subspaces=4, n_codes=4, include_self=False)
    r_plain = rec(search(queries, emb, 5, "pq", **dials))

    mean, rot = opq_train(emb, n_subspaces=4)
    emb_r = pca_project_vec(emb, mean, rot).localCheckpoint(eager=True)
    q_r = pca_project_vec(queries, mean, rot)
    # recall scored against ORIGINAL-space exact ids — valid because
    # the rotation preserves L2 distances (also checks id stability)
    r_opq = rec(search(q_r, emb_r, 5, "pq", **dials))

    assert r_opq >= 0.28, (r_opq, r_plain)
    assert r_opq > r_plain + 0.08, (r_opq, r_plain)


def test_merge_rejects_in_place_dst(spark, sf_dir, tmp_path):
    # merging into one of the sources would overwrite codes/ while
    # lazily reading it — must fail loudly at CALL time, not as an
    # opaque AnalysisException at action time
    import pytest as _pytest

    from pyspark_mrdf_spark.operators.quantize import build_index, merge_indexes

    emb = load_table(spark, sf_dir, "embeddings")
    p = str(tmp_path / "idx")
    build_index(emb, p, "sq8")
    with _pytest.raises(ValueError, match="also a source"):
        merge_indexes(spark, [p], p)
    with _pytest.raises(ValueError, match="also a source"):
        merge_indexes(spark, [p + "/"], p)  # canonicalized compare
    with _pytest.raises(ValueError, match="also a source"):
        merge_indexes(spark, [p], "file://" + p)  # URI form of a source


def test_sq8_drift_stats_flags_unknown_dims_and_clean_batch(spark, sf_dir):
    # schema drift IS drift: batch dims beyond the trained quantizer
    # must surface as 100% violations, not silently vanish; and the
    # training corpus itself violates nowhere
    import numpy as np

    from pyspark_mrdf_spark.operators.quantize import sq8_drift_stats, sq8_train

    emb = load_table(spark, sf_dir, "embeddings")
    mn, mx = sq8_train(emb)
    clean = sq8_drift_stats(emb, mn, mx).collect()
    assert len(clean) == len(mn)
    assert all(r["n_below"] == 0 and r["n_above"] == 0 and r["viol_e6"] == 0 for r in clean)

    # widen the batch by two extra dims the quantizer never saw
    wide = emb.select(
        "vec_id",
        F.concat("embedding", F.array(F.lit(0.0), F.lit(9.9))).alias("embedding"),
    )
    rows = {r["dim"]: r for r in sq8_drift_stats(wide, mn, mx).collect()}
    assert len(rows) == len(mn) + 2
    for extra in (len(mn) + 1, len(mn) + 2):
        r = rows[extra]
        assert r["n_above"] == r["n_values"] and r["viol_e6"] == 1_000_000
    assert rows[1]["viol_e6"] == 0


def test_sq8_range_weights_fix_anisotropic_recall(spark):
    # the measured failure (SCALABILITY pca-serving-aniso): unweighted
    # code distance treats every dim as 0-255 regardless of true range,
    # so on a decaying spectrum the candidate ordering diverges from
    # the true metric; range² weights restore it at the SAME budget
    import numpy as np

    from pyspark_mrdf_spark.operators.quantize import (
        candidates,
        search_encoded,
        sq8_codes,
        sq8_encode,
        sq8_range_weights,
        sq8_train,
    )
    from pyspark_mrdf_spark.operators.similarity import knn_search_blocked

    rng = np.random.default_rng(3)
    n, d = 3000, 32
    scales = np.linspace(4.0, 0.05, d)
    centers = rng.standard_normal((40, d)) * 2.5
    x = ((centers[rng.integers(0, 40, n)] + rng.standard_normal((n, d)))
         * scales[None, :]).astype(np.float32)
    emb = spark.createDataFrame(
        [(int(i), x[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).localCheckpoint(eager=True)
    queries = emb.filter("vec_id % 37 = 0")

    truth = {
        (r["src"], r["dst"])
        for r in knn_search_blocked(queries, emb, 5, include_self=False).collect()
    }
    mn, mx = sq8_train(emb)
    enc = sq8_encode(emb, mn, mx).localCheckpoint(eager=True)

    def rec(weighted):
        got = {
            (r["src"], r["dst"])
            for r in search_encoded(
                queries, {"mn": mn, "mx": mx}, enc, emb, 5,
                k_candidates=5, include_self=False, weighted=weighted,
            ).collect()
        }
        return len(got & truth) / len(truth)

    # minimal budget (k_candidates = k) exposes candidate-ORDERING
    # quality: numpy probe at these params measured ~0.41 unweighted
    # vs ~0.98 weighted
    r_w, r_u = rec(True), rec(False)
    assert r_w >= 0.9, (r_w, r_u)
    assert r_w > r_u + 0.2, (r_w, r_u)

    # exactness: weighted dist equals the brute-force int formula
    w = sq8_range_weights(mn, mx)
    qc = sq8_codes(x[:3].astype(np.float64), mn, mx).astype(np.int64)
    cc = sq8_codes(x.astype(np.float64), mn, mx).astype(np.int64)
    cand = candidates(
        emb.filter("vec_id < 3"), enc, 7, {"mn": mn, "mx": mx},
        include_self=True, weighted=True,
    ).collect()
    for r in cand:
        want = int((w * (qc[r["src"]] - cc[r["dst"]]) ** 2).sum())
        assert r["dist"] == want


def test_q120_vector_leg_tier_swap(spark, sf_dir):
    """q120's 100 TB note, pinned: the hybrid query's exact vector leg
    (knn_search_blocked) can be swapped for the quantized SQ8 tier
    through the SAME output contract — identical schema, identical
    (src, dst) key meaning, rnk 1..k by (dist_sq, dst) — with recall
    loss bounded by quantization only (>= 0.9 here)."""
    from pyspark.sql import functions as F

    from pyspark_mrdf_spark.io import load_table
    from pyspark_mrdf_spark.operators.quantize import search
    from pyspark_mrdf_spark.operators.similarity import knn_search_blocked
    from pyspark_mrdf_spark.queries.text import _RRF_LEG_K, _RRF_QIDS

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id").isin(list(_RRF_QIDS)))
    exact = knn_search_blocked(q, e, _RRF_LEG_K, include_self=False)
    sq8 = search(q, e, _RRF_LEG_K, "sq8", include_self=False)

    # drop-in: same columns, same per-query cardinality, same rank range
    assert exact.columns == sq8.columns
    ex_rows, sq_rows = exact.collect(), sq8.collect()
    per_q = lambda rows: {s: {r["dst"] for r in rows if r["src"] == s} for s in _RRF_QIDS}  # noqa: E731
    ex_m, sq_m = per_q(ex_rows), per_q(sq_rows)
    assert all(len(v) == _RRF_LEG_K for v in ex_m.values())
    assert all(len(v) == _RRF_LEG_K for v in sq_m.values())
    assert max(r["rnk"] for r in sq_rows) == _RRF_LEG_K

    hits = sum(len(ex_m[s] & sq_m[s]) for s in _RRF_QIDS)
    recall = hits / (len(_RRF_QIDS) * _RRF_LEG_K)
    assert recall >= 0.9, recall


def test_rotated_ivfpq_index_roundtrip_append_and_serving(spark, sf_dir, tmp_path):
    """The persisted-OPQ lifecycle (r12 verdict task #2): a
    rotate='opq' build stores (mean, rotation) with the frozen params;
    appends encode through the FROZEN rotation (append ≡ union-rebuild,
    bit-identical); serving the index's own params rotates the query
    batch driver-side and returns ids identical to the fully-inline rotated
    composition, with dist_sq in the ORIGINAL space (isometry: equal to
    the rotated-space values up to fp)."""
    import numpy as np

    from pyspark_mrdf_spark.operators.project import pca_project_vec
    from pyspark_mrdf_spark.operators.quantize import (
        append_index,
        build_index,
        ivfpq_encode,
        read_index,
        search_encoded,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") < 250)
    new = emb.filter(F.col("vec_id") >= 250)
    queries = emb.filter(F.col("vec_id") < 40)
    cfg = dict(n_centroids=8, n_subspaces=8, n_codes=16,
               sample_size=256, iters_coarse=5, iters_pq=5, seed=3)

    path = str(tmp_path / "ivfpq_rot")
    build_index(old, path, "ivfpq", rotate="opq", **cfg)
    p, _ = read_index(spark, path)
    rot = (p["rot_mean"], p["rotation"]) if "rotation" in p else None
    assert rot is not None
    mean, r = rot
    d = len(mean)
    assert r.shape == (d, d)
    assert np.allclose(r.T @ r, np.eye(d), atol=1e-10)

    # append-equals-rebuild THROUGH the frozen rotation
    append_index(path, new)
    p, codes = read_index(spark, path)
    coarse, cb = p["coarse"], p["codebooks"]
    assert codes.count() == emb.count()
    union_rot = pca_project_vec(emb, mean, r)
    rebuilt = ivfpq_encode(union_rot, coarse, cb)
    got = {(x["vec_id"], x["cell"], bytes(x["code"])) for x in codes.collect()}
    want = {(x["vec_id"], x["cell"], bytes(x["code"])) for x in rebuilt.collect()}
    assert got == want

    # serving the rotated index's params (queries rotated driver-side,
    # rerank in the ORIGINAL space) returns the same ids as the
    # fully-inline rotated composition, with isometry-equal distances
    served = search_encoded(
        queries, p, codes, emb, 5,
        k_candidates=60, n_probe=3, include_self=False,
    ).collect()
    q_rot = pca_project_vec(queries, mean, r)
    inline = search_encoded(
        q_rot, {"coarse": coarse, "codebooks": cb}, codes, union_rot, 5,
        k_candidates=60, n_probe=3, include_self=False,
    ).collect()
    s = {(x["src"], x["rnk"]): (x["dst"], x["dist_sq"]) for x in served}
    i = {(x["src"], x["rnk"]): (x["dst"], x["dist_sq"]) for x in inline}
    assert set(s) == set(i)
    for key, (dst, d2) in i.items():
        assert s[key][0] == dst, key
        assert abs(s[key][1] - d2) <= 1e-9 * max(1.0, abs(d2)), key


def test_rotated_pq_index_roundtrip_and_append(spark, sf_dir, tmp_path):
    import numpy as np

    from pyspark_mrdf_spark.operators.project import pca_project_vec
    from pyspark_mrdf_spark.operators.quantize import (
        append_index,
        build_index,
        pq_encode,
        read_index,
        search_encoded,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") < 250)
    new = emb.filter(F.col("vec_id") >= 250)
    queries = emb.filter(F.col("vec_id") < 40)

    path = str(tmp_path / "pq_rot")
    cb = build_index(
        old, path, "pq", n_subspaces=8, n_codes=16, sample_size=256, iters=5,
        seed=7, rotate="opq",
    )["codebooks"]
    p, _ = read_index(spark, path)
    rot = (p["rot_mean"], p["rotation"]) if "rotation" in p else None
    assert rot is not None
    append_index(path, new)
    p, codes = read_index(spark, path)
    cb_r = p["codebooks"]
    assert np.array_equal(cb, cb_r)
    assert codes.count() == emb.count()
    # append ≡ union-encode through the frozen rotation, bit-identical
    rebuilt = pq_encode(pca_project_vec(emb, rot[0], rot[1]), cb_r)
    got = {(x["vec_id"], bytes(x["code"])) for x in codes.collect()}
    want = {(x["vec_id"], bytes(x["code"])) for x in rebuilt.collect()}
    assert got == want
    # serving smoke with the persisted rotation: contract shape + self
    # exclusion hold, rerank distances are original-space exact
    res = search_encoded(
        queries, p, codes, emb, 5, k_candidates=80, include_self=False
    )
    rows = res.collect()
    assert {x["rnk"] for x in rows} <= {1, 2, 3, 4, 5}
    assert all(x["src"] != x["dst"] for x in rows)


def test_unrotated_index_has_no_rotation_and_merge_gates_rotation(
    spark, sf_dir, tmp_path
):
    """A plain build stores no rotation; merging a rotated
    index with an unrotated one — or two indexes with DIFFERENT
    rotations — refuses loudly (frozen-params discipline extends to the
    rotation); shards sharing one frozen rotation merge and the merged
    index keeps it."""
    import pytest as _pytest

    from pyspark_mrdf_spark.operators.quantize import (
        build_index,
        ivfpq_encode,
        merge_indexes,
        read_index,
        write_index,
    )
    from pyspark_mrdf_spark.operators.project import pca_project_vec

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") < 200)
    b = emb.filter(F.col("vec_id") >= 200)
    cfg = dict(n_centroids=4, n_subspaces=8, n_codes=8,
               sample_size=128, iters_coarse=3, iters_pq=3, seed=3)

    plain = str(tmp_path / "plain")
    build_index(a, plain, "ivfpq", **cfg)
    assert read_index(spark, plain)[0].get("rotation") is None

    rot_a = str(tmp_path / "rot_a")
    build_index(a, rot_a, "ivfpq", rotate="opq", **cfg)
    with _pytest.raises(ValueError, match="rotated"):
        merge_indexes(spark, [rot_a, plain], str(tmp_path / "m1"))

    # different training corpus -> different rotation bytes -> refuse
    rot_b = str(tmp_path / "rot_b")
    build_index(b, rot_b, "ivfpq", rotate="opq", **cfg)
    with _pytest.raises(ValueError, match="differs"):
        merge_indexes(spark, [rot_a, rot_b], str(tmp_path / "m2"))

    # shard encoded with THE SAME frozen params merges; rotation rides
    p, _ = read_index(spark, rot_a)
    rot = (p["rot_mean"], p["rotation"])
    shard_b = str(tmp_path / "shard_b")
    write_index(
        shard_b,
        {k: p[k] for k in ("coarse", "codebooks", "rot_mean", "rotation")},
        ivfpq_encode(pca_project_vec(b, rot[0], rot[1]), p["coarse"], p["codebooks"]),
    )
    merged = str(tmp_path / "merged")
    merge_indexes(spark, [rot_a, shard_b], merged)
    assert read_index(spark, merged)[0].get("rotation") is not None
    _, codes = read_index(spark, merged)
    assert codes.count() == emb.count()


def _serve_index(queries, codes, p, emb):
    from pyspark_mrdf_spark.operators.quantize import search_encoded

    return search_encoded(queries, p, codes, emb, 5, k_candidates=40, include_self=False)


_INDEX_CFG = {
    "sq8": {},
    "bq": {},
    "pq": dict(n_subspaces=8, n_codes=16, sample_size=256, iters=5, seed=7),
    "ivfpq": dict(n_centroids=4, n_subspaces=4, n_codes=8, sample_size=256,
                  iters_coarse=3, iters_pq=3, seed=3),
}


@pytest.mark.parametrize("kind", ["sq8", "bq", "pq", "ivfpq"])
def test_index_at_file_uri_serves_like_plain_path(spark, sf_dir, tmp_path, kind):
    # URI-form storage paths: build, append to and read an index at a
    # file:// path. It must serve exactly what the same index at the
    # plain path serves, and must not leave a stray relative "file:"
    # tree in the working directory (a driver-local os.makedirs on the
    # URI once created ./file:/... while pyarrow wrote elsewhere)
    import os

    from pyspark_mrdf_spark.operators.quantize import append_index, build_index, read_index

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") < 250)
    new = emb.filter(F.col("vec_id") >= 250)
    queries = emb.filter(F.col("vec_id") < 40)

    plain = str(tmp_path / "plain")
    uri = "file://" + str(tmp_path / "uri")
    for path in (plain, uri):
        build_index(old, path, kind, **_INDEX_CFG[kind])
        append_index(path, new)
    p_plain, codes_plain = read_index(spark, plain)
    p_uri, codes_uri = read_index(spark, uri)
    assert p_uri.keys() == p_plain.keys()
    assert all(np.array_equal(p_uri[k], p_plain[k]) for k in p_plain)
    assert codes_uri.count() == emb.count()

    key = lambda t: (t[0], t[3])  # noqa: E731
    got = _serve_index(queries, codes_uri, p_uri, emb).collect()
    want = _serve_index(queries, codes_plain, p_plain, emb).collect()
    assert sorted(map(tuple, got), key=key) == sorted(map(tuple, want), key=key)
    assert not os.path.exists(os.path.join(os.getcwd(), "file:"))


_ENTRY_CASES = {
    "sq8": ("sq8", None),
    "bq": ("bq", None),
    "pq": ("pq", None),
    "ivfpq": ("ivfpq", None),
    "pq_opq": ("pq", "opq"),
    "ivfpq_opq": ("ivfpq", "opq"),
}


@pytest.mark.parametrize("case", list(_ENTRY_CASES))
def test_every_codec_through_every_entry_point(spark, sf_dir, tmp_path, case):
    # one search path for every codec: search == build_index ->
    # read_index -> search_encoded row for row; a rotated index serves
    # the ids of the fully rotated composition (pre-rotated queries and
    # corpus, params without the rotation keys) with isometry-equal
    # distances; candidates on the same params IS the candidate stage
    # search_encoded ran (a rerank to k = budget keeps every candidate)
    from pyspark_mrdf_spark.operators.project import pca_project_vec
    from pyspark_mrdf_spark.operators.quantize import (
        build_index,
        candidates,
        read_index,
        search,
        search_encoded,
    )

    kind, rotate = _ENTRY_CASES[case]
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 30)
    path = str(tmp_path / "idx")
    build_index(emb, path, kind, rotate=rotate, **_INDEX_CFG[kind])
    params, codes = read_index(spark, path)
    assert ("rotation" in params) == (rotate is not None)
    served = search_encoded(queries, params, codes, emb, 5, k_candidates=20).collect()

    if rotate is None:
        inline = search(queries, emb, 5, kind, k_candidates=20, **_INDEX_CFG[kind]).collect()
        key = lambda t: (t[0], t[3])  # noqa: E731
        assert sorted(map(tuple, served), key=key) == sorted(map(tuple, inline), key=key)
    else:
        mean, rot = params["rot_mean"], params["rotation"]
        plain = {k: v for k, v in params.items() if not k.startswith("rot")}
        composed = search_encoded(
            pca_project_vec(queries, mean, rot), plain, codes,
            pca_project_vec(emb, mean, rot), 5, k_candidates=20,
        ).collect()
        s = {(x["src"], x["rnk"]): (x["dst"], x["dist_sq"]) for x in served}
        c = {(x["src"], x["rnk"]): (x["dst"], x["dist_sq"]) for x in composed}
        assert set(s) == set(c)
        for key, (dst, d2) in c.items():
            assert s[key][0] == dst, key
            assert abs(s[key][1] - d2) <= 1e-9 * max(1.0, abs(d2)), key

    cand = candidates(queries, codes, 20, params).collect()
    assert len(cand) == 30 * 20
    reranked = search_encoded(queries, params, codes, emb, 20, k_candidates=20).collect()
    assert {(r["src"], r["dst"]) for r in cand} == {(r["src"], r["dst"]) for r in reranked}


def test_search_entry_points_refuse_foreign_options(spark, sf_dir):
    # codec-specific options are refused on every other codec, before
    # any training or scan runs: weighted is SQ8's, n_probe IVF-PQ's
    from pyspark_mrdf_spark.operators.quantize import candidates, search, search_encoded

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    with pytest.raises(ValueError, match="unknown kind"):
        search(queries, emb, 5, "opq")
    with pytest.raises(ValueError, match="no index codec"):
        search_encoded(queries, {"rotation": np.eye(2)}, emb, emb, 5)
    z = np.zeros(1)
    params = {
        "sq8": {"mn": z, "mx": z},
        "bq": {"thr": z},
        "pq": {"codebooks": z},
        "ivfpq": {"coarse": z, "codebooks": z},
    }
    for kind, p in params.items():
        refused = {"weighted": True, "n_probe": 2}
        refused.pop({"sq8": "weighted", "ivfpq": "n_probe"}.get(kind, ""), None)
        for name, value in refused.items():
            with pytest.raises(ValueError, match=f"{name}= is not valid for '{kind}'"):
                search(queries, emb, 5, kind, **{name: value})
            with pytest.raises(ValueError, match=f"{name}= is not valid for '{kind}'"):
                search_encoded(queries, p, emb, emb, 5, **{name: value})
            with pytest.raises(ValueError, match=f"{name}= is not valid for '{kind}'"):
                candidates(queries, emb, 5, p, **{name: value})


def _md5_sample_trainers():
    from pyspark_mrdf_spark.operators.project import opq_train, pca_train
    from pyspark_mrdf_spark.operators.quantize import (
        _train_index_rotation,
        ivfpq_train,
        pq_train,
    )
    from pyspark_mrdf_spark.operators.similarity import ivf_train_centroids

    return {
        "pq_train": pq_train,
        "ivfpq_train": ivfpq_train,
        "_train_index_rotation": lambda df: _train_index_rotation(
            df, 8, 2048, 42, "vec_id", "embedding"
        ),
        "pca_train": lambda df: pca_train(df, 2),
        "opq_train": lambda df: opq_train(df, 2),
        "ivf_train_centroids": ivf_train_centroids,
    }


@pytest.mark.parametrize(
    "trainer",
    ["pq_train", "ivfpq_train", "_train_index_rotation", "pca_train", "opq_train",
     "ivf_train_centroids"],
)
def test_md5_sample_trainers_refuse_empty_corpus(spark, trainer):
    # every trainer on the md5-ordered sample names the empty corpus
    # instead of surfacing numpy's "need at least one array to stack"
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty corpus"):
        _md5_sample_trainers()[trainer](empty)


def test_index_stream_dir_with_only_uncommitted_batch_reads_base(spark, sf_dir, tmp_path):
    # crash before the first commit: stream_codes/ holds one batch dir
    # with only an uncommitted _temporary write. Uncommitted partitions
    # are invisible by the exactly-once model, so the index reads back
    # its base codes (not an UNABLE_TO_INFER_SCHEMA failure)
    import os

    from pyspark_mrdf_spark.operators.quantize import build_index, read_index

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_index(emb, path, "sq8")
    os.makedirs(os.path.join(path, "stream_codes", "batch=0", "_temporary", "0"))
    _, codes = read_index(spark, path)
    assert codes.count() == emb.count()


def test_index_append_stream_ivfpq_equals_batch_append(spark, sf_dir, tmp_path):
    # the stream path is codec-general: an IVF-PQ index grown by
    # index_append_stream (cell-partitioned stream_codes) holds exactly
    # the rows a batch append_index of the same vectors holds, and its
    # cell stats count the streamed rows too
    from pyspark_mrdf_spark.operators.quantize import (
        append_index,
        build_index,
        index_cell_stats,
        read_index,
    )
    from pyspark_mrdf_spark.streaming.ingest import index_append_stream

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    new = emb.filter(F.col("vec_id") >= 300)
    idx_stream, idx_batch = str(tmp_path / "s"), str(tmp_path / "b")
    for path in (idx_stream, idx_batch):
        build_index(base, path, "ivfpq", **_INDEX_CFG["ivfpq"])
    append_index(idx_batch, new)

    src = tmp_path / "vecs"
    new.write.json(str(src))
    stream = spark.readStream.schema("vec_id long, embedding array<float>").json(str(src))
    q = index_append_stream(stream, idx_stream, str(tmp_path / "ckpt"), query_name="ivfpq_append")
    assert q.awaitTermination(120), "index append stream did not drain"

    def rows(path):
        return {(r["vec_id"], r["cell"], bytes(r["code"])) for r in read_index(spark, path)[1].collect()}

    got, want = rows(idx_stream), rows(idx_batch)
    assert got == want and len(got) == emb.count()
    assert sum(r["n_vectors"] for r in index_cell_stats(spark, idx_stream).collect()) == emb.count()
