"""r15 optimization-round laws.

The round changed operator INTERNALS only — hashed posting keys with
kernel-computed set sizes behind ``jaccard_pairs``/``jaccard_pairs_prefix``,
the reliable-checkpoint flag, the guarded int32 narrowing in
``triangle_counts``, and the auto-linkage-cap memoization — so each
change's equivalence is pinned here explicitly (the DuckDB oracle gate
pins them end-to-end through every consumer query).
"""

from __future__ import annotations

import hashlib
import uuid

import pytest
from pyspark.sql import functions as F

from pyspark_mrdf_spark.functions.text import shingles
from pyspark_mrdf_spark.operators.dedup import (
    _posting_key_table,
    _py_shingles,
    jaccard_pairs,
    jaccard_pairs_prefix,
)
from pyspark_mrdf_spark.operators.util import RELIABLE_CHECKPOINT_CONF, checkpoint

from test_dedup_kernels import EDGE_TEXTS, _edge_df


# --- hashed posting table (dedup.py _posting_key_table) ----------------------


def test_posting_key_is_md5_digest_of_jvm_shingle(spark):
    """kernel key == unhex(md5(shingle)) of the exact JVM shingle set —
    the digest substitution is valid iff the kernel hashes the same
    strings the Catalyst expression produced."""
    df = _edge_df(spark)
    jvm = {
        (r["doc_id"], bytes(r["key"]))
        for r in df.select(
            "doc_id", F.explode(shingles("text", 3)).alias("shingle")
        )
        .select("doc_id", F.unhex(F.md5("shingle")).alias("key"))
        .collect()
    }
    got = {
        (r["doc_id"], bytes(r["key"]))
        for r in _posting_key_table(df, 3, "doc_id", "text").collect()
    }
    assert got == jvm


def test_posting_sz_is_distinct_shingle_count(spark):
    """kernel sz == the groupBy-count the callers used to recompute
    with a shuffle (the posting table is one row per DISTINCT shingle,
    so len(_py_shingles) IS that count), on every edge text."""
    df = _edge_df(spark)
    rows = _posting_key_table(df, 3, "doc_id", "text").collect()
    for r in rows:
        assert r["sz"] == len(_py_shingles(EDGE_TEXTS[r["doc_id"]], 3))
    # and empty-shingle docs are absent entirely (not zero-sized)
    present = {r["doc_id"] for r in rows}
    for i, t in enumerate(EDGE_TEXTS):
        assert (i in present) == bool(_py_shingles(t, 3))


def _ref_jaccard_pairs(df, max_df=None):
    """The pre-r15 string-keyed construction, kept as the law's
    reference implementation."""
    post = df.select("doc_id", F.explode(shingles("text", 3)).alias("shingle"))
    sizes = post.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    if max_df is not None:
        hot = (
            post.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        post = post.join(F.broadcast(hot), "shingle", "left_anti")
    a = post.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = post.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "size_a",
            "size_b",
            (
                F.col("inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def _dup_corpus(spark):
    """Edge texts + near-duplicates of each other — enough overlap for
    non-trivial pair tables at several thresholds."""
    texts = list(EDGE_TEXTS)
    texts += [t + " extra token tail" for t in EDGE_TEXTS]
    texts += [("prefix words " + t).strip() for t in EDGE_TEXTS]
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_jaccard_pairs_matches_string_key_reference(spark):
    df = _dup_corpus(spark)
    for max_df in (None, 3):
        want = {tuple(r) for r in _ref_jaccard_pairs(df, max_df).collect()}
        got = {tuple(r) for r in jaccard_pairs(df, 3, max_df=max_df).collect()}
        assert got == want, f"max_df={max_df}"
        assert want, "reference produced no pairs — corpus too disjoint"


def test_jaccard_pairs_prefix_matches_thresholded_reference(spark):
    """The (df, digest) total order changes the CANDIDATE set, not the
    verified output — the prefix lemma holds for any fixed total order."""
    df = _dup_corpus(spark)
    for t in (30, 60, 90):
        want = {
            tuple(r)
            for r in _ref_jaccard_pairs(df)
            .filter(F.col("jaccard") * 100 >= t)
            .collect()
        }
        got = {tuple(r) for r in jaccard_pairs_prefix(df, 3, threshold_e2=t).collect()}
        assert got == want, f"threshold_e2={t}"


def test_posting_key_schema_and_hash_width(spark):
    tbl = _posting_key_table(_edge_df(spark), 3, "doc_id", "text")
    assert [f.simpleString() for f in tbl.schema.fields] == [
        "doc_id:bigint",
        "key:binary",
        "sz:bigint",
    ]
    assert all(len(bytes(r["key"])) == hashlib.md5().digest_size for r in tbl.collect())


# --- reliable-checkpoint flag (operators/util.checkpoint) --------------------
#
# One case per module family that cuts lineage. Each builds a small input,
# reaches at least one ``checkpoint`` inside that module, and returns the
# result. The flag must change where the blocks live, never the rows.

_CKPT_N, _CKPT_D = 120, 8


def _ckpt_vectors(spark, lo=0, hi=_CKPT_N):
    """Deterministic ``(vec_id, embedding)`` rows, COMPUTED (a join), so
    the similarity and quantize guards checkpoint them."""
    from pyspark_mrdf_spark.operators.similarity import _scan_shaped

    vec = F.array(*[F.sin(F.col("id") * (j + 1)) for j in range(_CKPT_D)])
    ids2 = spark.range(lo, hi).withColumnRenamed("id", "id2")
    out = spark.range(lo, hi).join(ids2, F.col("id") == F.col("id2")).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )
    assert not _scan_shaped(out)
    return out


def _exact_graph(corpus, k):
    from pyspark_mrdf_spark.operators.similarity import knn_exact

    return knn_exact(corpus, k).select("src", "dst", "dist_sq")


def _case_util(spark, sf_dir):
    return checkpoint(spark.range(100).withColumn("v", F.col("id") * 2))


def _case_graph(spark, sf_dir):
    from pyspark_mrdf_spark.operators.graph import kcore_peel

    # a 60-node ring plus one chord per node
    node = F.col("id")
    edges = spark.range(60).select(
        node.alias("src"), F.explode(F.array((node + 1) % 60, (node * 7 + 3) % 60)).alias("dst")
    )
    return kcore_peel(edges, 2)


def _case_graph_append(spark, sf_dir):
    from pyspark_mrdf_spark.algorithms.graph_append import knn_graph_append

    old = _ckpt_vectors(spark, 0, 100)
    new = _ckpt_vectors(spark, 100, _CKPT_N)
    return knn_graph_append(_exact_graph(old, 5), old, new, 5, materialize=True)


def _case_mrdf(spark, sf_dir):
    from pyspark_mrdf_spark.algorithms.mrdf import knn_graph

    return knn_graph(
        _ckpt_vectors(spark), 5, rho=3, alpha=40, seed=42, max_iter=2, auto_escalate=False
    )


def _case_graph_search(spark, sf_dir):
    from pyspark_mrdf_spark.operators.graph_search import graph_knn_search

    corpus = _ckpt_vectors(spark)
    queries = corpus.filter(F.col("vec_id") % 10 == 0)
    return graph_knn_search(queries, _exact_graph(corpus, 5), corpus, 5, beam=8)


def _case_similarity(spark, sf_dir):
    from pyspark_mrdf_spark.operators.similarity import knn_search

    corpus = _ckpt_vectors(spark)
    return knn_search(corpus.filter(F.col("vec_id") % 10 == 0), corpus, 5)


def _case_quantize(spark, sf_dir):
    from pyspark_mrdf_spark.operators.quantize import search

    corpus = _ckpt_vectors(spark)
    return search(corpus.filter(F.col("vec_id") % 10 == 0), corpus, 5, "sq8", k_candidates=20)


def _case_project(spark, sf_dir):
    from pyspark_mrdf_spark.operators.project import pca_sq8_search

    corpus = _ckpt_vectors(spark)
    return pca_sq8_search(
        corpus.filter(F.col("vec_id") % 10 == 0), corpus, 5, d_out=4, k_candidates=20
    )


def _case_sketch(spark, sf_dir):
    from pyspark_mrdf_spark.operators.sketch import heavy_hitters

    # key 0 holds half the rows: the one heavy hitter at k = 5
    items = spark.range(500).select(
        F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id") % 37).alias("key")
    )
    return heavy_hitters(items, "key", 5)


def _case_cache(spark, sf_dir):
    from pyspark_mrdf_spark.cache import memoized_df

    # a fresh key per call: a memo hit would skip the checkpoint
    key = ("test_checkpoint_flag_round_trips", uuid.uuid4().hex)
    return memoized_df(spark, key, lambda: spark.range(50).withColumn("sq", F.col("id") ** 2))


def _case_queries(spark, sf_dir):
    from pyspark_mrdf_spark.queries.multimodal import q86_payload_embed_knn

    return q86_payload_embed_knn(spark, sf_dir)


def _case_streaming(spark, sf_dir):
    import tempfile

    from pyspark_mrdf_spark.streaming.ingest import near_ingest_dedup_stream
    from test_streaming import _near_stream_inputs, _near_stream_tables

    # fresh stream state per call (a reused stream checkpoint would
    # replay nothing), kept outside the Spark checkpoint dir the
    # flag-off assertion watches
    with tempfile.TemporaryDirectory() as work:
        idx_path, corpus, ckpt, stream = _near_stream_inputs(spark, work)
        q = near_ingest_dedup_stream(stream(), idx_path, corpus, ckpt)
        assert q.awaitTermination(120), "near-ingest stream did not drain"
        assert q.exception() is None
        tables = _near_stream_tables(spark, idx_path, corpus)
    rows = [(name, "|".join(map(str, r))) for name, rs in tables.items() for r in rs]
    return spark.createDataFrame(rows, "tbl string, committed string")


_CKPT_CASES = {
    "util": _case_util,
    "graph": _case_graph,
    "graph_append": _case_graph_append,
    "mrdf": _case_mrdf,
    "graph_search": _case_graph_search,
    "similarity": _case_similarity,
    "quantize": _case_quantize,
    "project": _case_project,
    "sketch": _case_sketch,
    "cache": _case_cache,
    "queries": _case_queries,
    "streaming": _case_streaming,
}


@pytest.fixture
def reliable_flag(spark):
    """Sets the flag through the yielded function and always puts it
    back to ``false``, so a failing case cannot leave later tests in
    reliable mode."""
    yield lambda on: spark.conf.set(RELIABLE_CHECKPOINT_CONF, "true" if on else "false")
    spark.conf.set(RELIABLE_CHECKPOINT_CONF, "false")


@pytest.mark.parametrize("family", list(_CKPT_CASES))
def test_checkpoint_flag_round_trips(spark, sf_dir, tmp_path, reliable_flag, family):
    case = _CKPT_CASES[family]
    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    assert spark.conf.get(RELIABLE_CHECKPOINT_CONF, "false") == "false"
    off = sorted(map(tuple, case(spark, sf_dir).collect()))
    assert off
    assert not list(ckpt.rglob("*/*")), f"{family}: the flag-off call wrote checkpoint files"

    # flag on: same rows, and the reliable cut wrote to the checkpoint
    # dir during this call (the flag is read per call, not cached)
    before = len(list(ckpt.rglob("*")))
    reliable_flag(True)
    on = sorted(map(tuple, case(spark, sf_dir).collect()))
    written = len(list(ckpt.rglob("*"))) - before
    reliable_flag(False)
    assert on == off
    assert written >= 1, f"{family}: the flag-on call wrote nothing to the checkpoint dir"


def test_reliable_checkpoint_evaluates_lineage_once(spark, tmp_path, reliable_flag):
    # a reliable cut is eager: its file-writing job is the one
    # evaluation of df, and the first action reads the files back (a
    # lazy one would evaluate df in that action and again in the write)
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    evals = spark.sparkContext.accumulator(0)

    def touch(x):
        evals.add(1)
        return x

    df = spark.range(100).select(F.udf(touch, "long")("id").alias("id"))
    reliable_flag(True)
    rows = checkpoint(df).collect()
    reliable_flag(False)
    assert sorted(r["id"] for r in rows) == list(range(100))
    assert evals.value == 100


def test_reliable_checkpoint_files_removed_once_unreachable(spark, tmp_path, reliable_flag):
    # get_spark sets spark.cleaner.referenceTracking.cleanCheckpoints,
    # so the rdd-* dirs of a dropped result go once the JVM collects it
    import gc
    import time

    from pyspark_mrdf_spark.algorithms.mrdf import knn_graph

    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    reliable_flag(True)
    n = knn_graph(
        _ckpt_vectors(spark), 5, rho=3, alpha=40, seed=42, max_iter=2, auto_escalate=False
    ).count()
    reliable_flag(False)
    assert n > 0 and list(ckpt.rglob("rdd-*")), "the flag-on call wrote no checkpoint"
    deadline = time.monotonic() + 60
    while list(ckpt.rglob("rdd-*")) and time.monotonic() < deadline:
        gc.collect()
        spark.sparkContext._jvm.java.lang.System.gc()
        time.sleep(1)
    assert not list(ckpt.rglob("rdd-*"))


# --- guarded int32 narrowing (graph.py triangle_counts) -----------------------


def test_triangle_counts_narrowing_preserves_values_and_schema(spark):
    from pyspark_mrdf_spark.operators.graph import triangle_counts

    # K4 plus a pendant edge: per-node counts 3,3,3,3 and none for 4/5
    edges = [(a, b) for a in range(4) for b in range(4) if a < b] + [(3, 4)]
    small = spark.createDataFrame(edges, "src long, dst long")
    out = triangle_counts(small)
    assert out.schema["node"].dataType.simpleString() == "bigint"
    assert {(r["node"], r["n_triangles"]) for r in out.collect()} == {
        (0, 3), (1, 3), (2, 3), (3, 3)
    }
    # ids outside int32 must NOT narrow (and must still be exact)
    big = spark.createDataFrame(
        [(a + 5_000_000_000, b + 5_000_000_000) for a, b in edges],
        "src long, dst long",
    )
    got = {(r["node"], r["n_triangles"]) for r in triangle_counts(big).collect()}
    assert got == {(n + 5_000_000_000, 3) for n in range(4)}


# --- auto linkage-cap memoization (linkage.py) --------------------------------


def test_auto_block_resolution_memoized_per_plan(spark):
    from pyspark_mrdf_spark.operators import linkage as L

    names = [(f"name{i % 7} tail{i}",) for i in range(50)]
    clean = spark.createDataFrame(names, "p_name string")
    ck = (
        clean.select(F.col("p_name").alias("_cn"))
        .distinct()
        .select("_cn", F.substring("_cn", 1, 3).alias("_k"))
    )
    L._AUTO_CACHE.clear()
    first = L._resolve_auto_block(ck)
    assert len(L._AUTO_CACHE) == 1
    # identical plan → cache hit (same resolved cap, no new entry)
    again = L._resolve_auto_block(ck)
    assert again == first and len(L._AUTO_CACHE) == 1
    # a DIFFERENT clean side must not collide
    other = spark.createDataFrame(
        [(f"zz{i}",) for i in range(10)], "p_name string"
    )
    ok = (
        other.select(F.col("p_name").alias("_cn"))
        .distinct()
        .select("_cn", F.substring("_cn", 1, 3).alias("_k"))
    )
    L._resolve_auto_block(ok)
    assert len(L._AUTO_CACHE) == 2


def test_auto_block_cache_is_lru_bounded(spark, monkeypatch):
    # a long-lived session must not grow the memo without bound: with
    # the cap at 2, three distinct plans in ONE application leave two
    # entries, and the most recently HIT key is the one that survives
    from pyspark_mrdf_spark.operators import linkage as L

    monkeypatch.setattr(L, "_AUTO_CACHE_MAX", 2)
    L._AUTO_CACHE.clear()

    def keyed(prefix):
        clean = spark.createDataFrame(
            [(f"{prefix}{i}",) for i in range(10)], "p_name string"
        )
        return (
            clean.select(F.col("p_name").alias("_cn"))
            .distinct()
            .select("_cn", F.substring("_cn", 1, 3).alias("_k"))
        )

    a, b, c = keyed("aa"), keyed("bb"), keyed("cc")
    L._resolve_auto_block(a)
    L._resolve_auto_block(b)
    L._resolve_auto_block(a)  # hit: a becomes the most recent key
    L._resolve_auto_block(c)  # evicts b, the least recently used
    assert len(L._AUTO_CACHE) == 2
    hashes = {k[1] for k in L._AUTO_CACHE}
    assert hashes == {a.semanticHash(), c.semanticHash()}
    L._AUTO_CACHE.clear()
