"""Persisted dedup index: write -> read -> serve equivalence with the
inline incremental-dedup operators, the daily-ingest append loop, and
the frozen-params discipline."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pyspark_mrdf_spark.io import load_table
from pyspark_mrdf_spark.operators.dedup import dedup_against, near_dedup_against
from pyspark_mrdf_spark.operators.dedup_index import (
    append_dedup_index,
    dedup_against_index,
    near_dedup_against_index,
    read_dedup_index,
    write_dedup_index,
)


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 200)
        .cache()
    )


@pytest.fixture(scope="module")
def batch(spark, sf_dir):
    """10 exact copies, 5 near-copies (one word changed), 10 novels."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 400000).alias("doc_id"), "text"
    )
    near = d.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 25)).select(
        (F.col("doc_id") + 450000).alias("doc_id"),
        F.concat(F.lit("zq "), F.col("text")).alias("text"),
    )
    novel = d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 110)).select(
        (F.col("doc_id") + 500000).alias("doc_id"), F.reverse("text").alias("text")
    )
    return copies.unionByName(near).unionByName(novel).cache()


@pytest.fixture(scope="module")
def idx_path(spark, corpus):
    path = tempfile.mkdtemp(prefix="mrdf_dedup_idx_")
    write_dedup_index(corpus, path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_exact_serving_equals_inline(spark, corpus, batch, idx_path):
    idx = read_dedup_index(spark, idx_path)
    served = _ids(dedup_against_index(batch, idx))
    inline = _ids(dedup_against(batch, corpus))
    assert served == inline
    # exact copies dropped, near-copies and novels survive
    assert all(i >= 450000 for i in served) and len(served) == 15


def test_near_serving_equals_inline(spark, corpus, batch, idx_path):
    idx = read_dedup_index(spark, idx_path)
    served = _ids(near_dedup_against_index(batch, idx, threshold=0.5))
    inline = _ids(near_dedup_against(batch, corpus, threshold=0.5))
    assert served == inline
    # near tier also drops the one-word-changed docs; novels survive
    assert all(i >= 500000 for i in served) and len(served) == 10


def test_append_then_replay_drops_everything(spark, corpus, batch, idx_path):
    """The ingest loop: survivors admitted to the index make a replay
    of the same batch fully duplicate — exact tier via identical
    fingerprints, near tier via Jaccard-1.0 self-matches."""
    path = tempfile.mkdtemp(prefix="mrdf_dedup_idx_grow_")
    try:
        write_dedup_index(corpus, path)
        idx = read_dedup_index(spark, path)
        survivors = near_dedup_against_index(batch, idx, threshold=0.5).cache()
        assert survivors.count() == 10
        append_dedup_index(spark, path, survivors)
        grown = read_dedup_index(spark, path)
        assert _ids(dedup_against_index(batch.filter(F.col("doc_id") >= 500000), grown)) == []
        assert _ids(near_dedup_against_index(batch, grown, threshold=0.5)) == []
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_append_equals_rebuild(spark, corpus, batch, idx_path):
    """A grown index serves identically to one rebuilt from the doc
    union — the append encode is the build encode."""
    grow_path = tempfile.mkdtemp(prefix="mrdf_dedup_idx_g2_")
    rebuild_path = tempfile.mkdtemp(prefix="mrdf_dedup_idx_rb_")
    try:
        write_dedup_index(corpus, grow_path)
        append_dedup_index(spark, grow_path, batch)
        write_dedup_index(corpus.unionByName(batch), rebuild_path)
        probe = batch.select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        ).unionByName(
            corpus.filter(F.col("doc_id") < 5).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.reverse("text").alias("text"),
            )
        )
        a = read_dedup_index(spark, grow_path)
        b = read_dedup_index(spark, rebuild_path)
        assert _ids(near_dedup_against_index(probe, a)) == _ids(
            near_dedup_against_index(probe, b)
        )
        assert _ids(dedup_against_index(probe, a)) == _ids(dedup_against_index(probe, b))
    finally:
        shutil.rmtree(grow_path, ignore_errors=True)
        shutil.rmtree(rebuild_path, ignore_errors=True)


def test_params_frozen_across_append(spark, corpus, batch):
    """An index built with non-default banding keeps it through
    appends and serving — batch-side encoding always derives from the
    stored params, never from call-site defaults."""
    path = tempfile.mkdtemp(prefix="mrdf_dedup_idx_p_")
    try:
        write_dedup_index(corpus, path, num_hashes=6, bands=3, rows_per_band=2, n=2)
        append_dedup_index(spark, path, batch)
        idx = read_dedup_index(spark, path)
        assert idx.params == {"num_hashes": 6, "bands": 3, "rows_per_band": 2, "n": 2}
        probe = batch.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        served = _ids(near_dedup_against_index(probe, idx, threshold=0.5))
        inline = _ids(
            near_dedup_against(
                probe,
                corpus.unionByName(batch),
                threshold=0.5,
                num_hashes=6,
                bands=3,
                rows_per_band=2,
                n=2,
            )
        )
        assert served == inline == []  # every probe doc is an exact copy
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_near_dedup_against_requires_state_when_corpusless():
    with pytest.raises(ValueError, match="index-served path"):
        near_dedup_against(None, corpus=None)


def test_index_at_file_uri_serves_like_plain_path(spark, corpus, batch, idx_path, tmp_path):
    # a dedup index built, grown and served at a file:// path behaves
    # exactly like the one at the plain path, and leaves no stray
    # relative "file:" tree in the working directory
    import os

    uri = "file://" + str(tmp_path / "dedup_uri")
    write_dedup_index(corpus, uri)
    served = _ids(near_dedup_against_index(batch, read_dedup_index(spark, uri), threshold=0.5))
    want = _ids(near_dedup_against_index(batch, read_dedup_index(spark, idx_path), threshold=0.5))
    assert served == want
    append_dedup_index(spark, uri, batch)
    assert _ids(dedup_against_index(batch, read_dedup_index(spark, uri))) == []
    assert not os.path.exists(os.path.join(os.getcwd(), "file:"))
