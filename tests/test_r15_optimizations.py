"""r15 optimization-round laws.

The round changed operator INTERNALS only — hashed posting keys with
kernel-computed set sizes behind ``jaccard_pairs``/``jaccard_pairs_prefix``,
the reliable-checkpoint escape hatch, the guarded int32 narrowing in
``triangle_counts``, and the auto-linkage-cap memoization — so each
change's equivalence is pinned here explicitly (the DuckDB oracle gate
pins them end-to-end through every consumer query).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from pyspark_mrdf_spark.functions.text import shingles
from pyspark_mrdf_spark.operators.dedup import (
    _posting_key_table,
    _py_shingles,
    jaccard_pairs,
    jaccard_pairs_prefix,
)
from pyspark_mrdf_spark.operators.util import RELIABLE_CHECKPOINT_CONF, lazy_checkpoint

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


# --- reliable-checkpoint escape hatch (operators/util.py) --------------------


def test_lazy_checkpoint_flag_round_trips(spark, tmp_path):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    want = {(r["id"], r["v"]) for r in df.collect()}

    # default: localCheckpoint path, no checkpoint dir needed
    assert spark.conf.get(RELIABLE_CHECKPOINT_CONF, "false") == "false"
    local = lazy_checkpoint(df)
    assert {(r["id"], r["v"]) for r in local.collect()} == want

    # flag on: reliable checkpoint files land in the checkpoint dir
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(RELIABLE_CHECKPOINT_CONF, "true")
    try:
        reliable = lazy_checkpoint(df)
        assert {(r["id"], r["v"]) for r in reliable.collect()} == want
        ckpt_files = list((tmp_path / "ckpt").rglob("*"))
        assert ckpt_files, "reliable path wrote nothing to the checkpoint dir"
    finally:
        spark.conf.set(RELIABLE_CHECKPOINT_CONF, "false")
    # and the flag is read per call: back off means localCheckpoint again
    assert {(r["id"], r["v"]) for r in lazy_checkpoint(df).collect()} == want


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
