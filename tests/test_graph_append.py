"""Incremental kNN-graph maintenance (knn_graph_append): the exact
tier's equality-with-rebuild law, the graph tier's recall bar vs a
full rebuild, determinism, and dial validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_mrdf_spark.algorithms.graph_append import knn_graph_append
from pyspark_mrdf_spark.io import load_table
from pyspark_mrdf_spark.operators.similarity import knn_exact_blocked


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def split(spark, emb):
    old = emb.filter(F.col("vec_id") % 20 != 0).localCheckpoint(eager=True)
    new = emb.filter(F.col("vec_id") % 20 == 0).localCheckpoint(eager=True)
    return old, new


def _rows(df):
    return sorted(
        (r["src"], r["rnk"], r["dst"], r["dist_sq"]) for r in df.collect()
    )


def test_exact_tier_equals_rebuild_bit_identically(spark, emb, split):
    """The exact tier's contract: folding the batch into the exact old
    graph yields EXACTLY the exact graph of the union — ids, ranks,
    and float64 distances (this is what makes q158's oracle a plain
    rebuilt-graph CTE rather than a replay of the merge mechanics)."""
    old, new = split
    k = 5
    old_graph = knn_exact_blocked(old, k).localCheckpoint(eager=True)
    inc = knn_graph_append(old_graph, old, new, k, mode="exact")
    rebuilt = knn_exact_blocked(emb, k)
    assert _rows(inc) == _rows(rebuilt)


def test_exact_tier_rederives_missing_distances(spark, emb, split):
    # an adjacency re-read from disk has no dist_sq column; the merge
    # re-derives distances via the JVM l2_sq expression, whose fold
    # can differ from the blocked kernel's in the LAST ULP (docstring
    # caveat) — so ids/ranks must match exactly and distances to 1e-9
    old, new = split
    k = 4
    old_graph = knn_exact_blocked(old, k).select("src", "dst")
    inc = knn_graph_append(old_graph, old, new, k, mode="exact")
    got = {(r["src"], r["rnk"]): (r["dst"], r["dist_sq"]) for r in inc.collect()}
    want = {
        (r["src"], r["rnk"]): (r["dst"], r["dist_sq"])
        for r in knn_exact_blocked(emb, k).collect()
    }
    assert set(got) == set(want)
    for key, (dst, d2) in want.items():
        gdst, gd2 = got[key]
        assert gdst == dst, key
        assert abs(gd2 - d2) <= 1e-9 * max(1.0, abs(d2)), key


def test_exact_tier_chains_across_cycles(spark, emb):
    """Append cycles CHAIN on the operator's own rank-carrying output
    (the zero-shuffle pass-through path): two successive exact appends
    equal one rebuild of the final union, bit-identically."""
    old = emb.filter(F.col("vec_id") % 10 >= 2).localCheckpoint(eager=True)
    b1 = emb.filter(F.col("vec_id") % 10 == 0).localCheckpoint(eager=True)
    b2 = emb.filter(F.col("vec_id") % 10 == 1).localCheckpoint(eager=True)
    k = 5
    g0 = knn_exact_blocked(old, k)
    g1 = knn_graph_append(g0, old, b1, k, mode="exact").localCheckpoint(eager=True)
    g2 = knn_graph_append(g1, old.unionByName(b1), b2, k, mode="exact")
    assert _rows(g2) == _rows(knn_exact_blocked(emb, k))


def test_graph_tier_recall_vs_rebuild(spark, emb, split):
    """The scale path: beam-search candidates + reverse edges + one
    restricted refine round must land within 5% of the full rebuild's
    recall (here the rebuild is exact, recall 1.0, so the bar is an
    absolute 0.95)."""
    from pyspark_mrdf_spark.algorithms.recall import recall

    old, new = split
    k = 5
    old_graph = knn_exact_blocked(old, k).localCheckpoint(eager=True)
    inc = knn_graph_append(old_graph, old, new, k, mode="graph")
    exact = knn_exact_blocked(emb, k)
    r = recall(exact, inc)
    assert r >= 0.95, f"graph-tier append recall {r} below 0.95 of rebuild"
    # shape contract: <= k edges per src, every union id present
    per_src = inc.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    assert per_src <= k
    assert inc.select("src").distinct().count() == emb.count()


def test_graph_tier_deterministic_across_partitioning(spark, emb, split):
    old, new = split
    k = 3
    old_graph = knn_exact_blocked(old, k).localCheckpoint(eager=True)
    a = knn_graph_append(old_graph, old, new, k, mode="graph", refine_rounds=1)
    b = knn_graph_append(
        old_graph.repartition(7), old.repartition(5), new.repartition(3),
        k, mode="graph", refine_rounds=1,
    )
    assert _rows(a) == _rows(b)


def test_auto_routes_exact_small(spark, emb, split):
    old, new = split
    # at sf-test scale m*n is far below the auto threshold -> exact
    inc = knn_graph_append(knn_exact_blocked(old, 3), old, new, 3, mode="auto")
    assert _rows(inc) == _rows(knn_exact_blocked(emb, 3))


def test_validation(spark, emb, split):
    old, new = split
    g = knn_exact_blocked(old, 3)
    with pytest.raises(ValueError, match="mode"):
        knn_graph_append(g, old, new, 3, mode="nope")
    with pytest.raises(ValueError, match="k >= 1"):
        knn_graph_append(g, old, new, 0)
    with pytest.raises(ValueError, match="k_candidates"):
        knn_graph_append(g, old, new, 3, mode="graph", beam=8, k_candidates=16)


def test_materialize_chains_bit_identically_with_bounded_stats(spark, emb):
    """materialize=True (the chained-deployment dial) must change
    NOTHING about values — the chaining law holds bit-identically —
    while keeping each cycle's planner estimate at the bounded leaf
    default (the round-12 wedge was Catalyst multiplying compounded
    snapshot stats into Toom-Cook-3-sized BigIntegers by cycle 3)."""
    old = emb.filter(F.col("vec_id") % 10 >= 3).localCheckpoint(eager=True)
    k = 4
    g = knn_exact_blocked(old, k).localCheckpoint(eager=True)
    corpus = old
    for m in range(3):
        batch = emb.filter(F.col("vec_id") % 10 == m).localCheckpoint(eager=True)
        g = knn_graph_append(g, corpus, batch, k, mode="exact", materialize=True)
        corpus = corpus.unionByName(batch)
        digits = len(
            str(g._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        assert digits <= 19, f"cycle {m}: stats estimate {digits} digits"
    assert _rows(g) == _rows(
        knn_exact_blocked(emb.filter(F.col("vec_id") % 10 <= 9), k)
    )


def test_materialize_graph_tier_values_identical(spark, emb, split):
    old, new = split
    k = 3
    old_graph = knn_exact_blocked(old, k).localCheckpoint(eager=True)
    lazy = knn_graph_append(old_graph, old, new, k, mode="graph")
    mat = knn_graph_append(old_graph, old, new, k, mode="graph", materialize=True)
    assert _rows(lazy) == _rows(mat)


def test_return_delta_overlay_reproduces_full_output(spark, emb, split):
    """The replacement-delta law (the streaming-maintenance contract):
    overlaying the delta on the old ranked graph — delta srcs replaced
    wholesale, every other src untouched — reproduces the full append
    output bit-identically, on both tiers."""
    old, new = split
    k = 4
    old_graph = knn_exact_blocked(old, k).localCheckpoint(eager=True)
    for mode in ("exact", "graph"):
        full = knn_graph_append(old_graph, old, new, k, mode=mode)
        delta = knn_graph_append(
            old_graph, old, new, k, mode=mode, return_delta=True
        ).localCheckpoint(eager=True)
        overlay = old_graph.join(
            delta.select("src").distinct(), "src", "left_anti"
        ).unionByName(delta)
        assert _rows(overlay) == _rows(full), mode


def _write_vec_json(path, df, ts):
    import json
    import os

    with open(path, "w") as f:
        for r in df.collect():
            f.write(
                json.dumps(
                    {
                        "vec_id": r["vec_id"],
                        "embedding": [float(x) for x in r["embedding"]],
                    }
                )
                + "\n"
            )
    os.utime(path, (ts, ts))


def test_graph_append_stream_equals_batch_chain_exact(spark, emb, tmp_path):
    """Streaming graph maintenance == chained batch appends == one
    rebuild (exact tier, so the equality is bit-identical): two vector
    micro-batches fold into the persisted state as O(batch) delta
    partitions; read_graph_state resolves base+deltas latest-wins; a
    checkpoint restart with no new input changes nothing."""
    from pyspark.sql import functions as F

    from pyspark_mrdf_spark.streaming.ingest import (
        graph_append_stream,
        read_graph_state,
        write_graph_state,
    )

    base = emb.filter(F.col("vec_id") % 10 >= 2).localCheckpoint(eager=True)
    b1 = emb.filter(F.col("vec_id") % 10 == 0)
    b2 = emb.filter(F.col("vec_id") % 10 == 1)
    k = 4
    state = str(tmp_path / "gstate")
    write_graph_state(base, knn_exact_blocked(base, k), state)

    src = tmp_path / "vecs"
    src.mkdir()
    _write_vec_json(src / "b1.json", b1, 1_000_000_000)
    _write_vec_json(src / "b2.json", b2, 1_000_000_100)
    ckpt = str(tmp_path / "ckpt")

    def _stream(name):
        s = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        return graph_append_stream(s, state, ckpt, k, mode="exact", query_name=name)

    assert _stream("gapp_test").awaitTermination(180), "stream did not drain"
    corpus, graph = read_graph_state(spark, state)
    assert corpus.count() == emb.count()
    assert _rows(graph) == _rows(knn_exact_blocked(emb, k))
    # two delta partitions, each O(batch): srcs = affected + new only
    import glob as _glob

    parts = sorted(_glob.glob(f"{state}/graph/stream/batch=*"))
    assert len(parts) == 2
    n_delta = spark.read.parquet(f"{state}/graph/stream").count()
    assert n_delta < graph.count()  # strictly less than a full rewrite

    # restart, no new files: state unchanged (exactly-once)
    assert _stream("gapp_test2").awaitTermination(180)
    _, graph2 = read_graph_state(spark, state)
    assert _rows(graph2) == _rows(graph)


def test_graph_append_stream_graph_tier_matches_batch(spark, emb, tmp_path):
    """The scale tier streams too: deterministic beam-walk folds give
    the stream bit-identical state to the equivalent batch chain."""
    from pyspark.sql import functions as F

    from pyspark_mrdf_spark.streaming.ingest import (
        graph_append_stream,
        read_graph_state,
        write_graph_state,
    )

    base = emb.filter(F.col("vec_id") % 10 >= 2).localCheckpoint(eager=True)
    b1 = emb.filter(F.col("vec_id") % 10 == 0).localCheckpoint(eager=True)
    b2 = emb.filter(F.col("vec_id") % 10 == 1).localCheckpoint(eager=True)
    k = 3
    g0 = knn_exact_blocked(base, k).localCheckpoint(eager=True)
    state = str(tmp_path / "gstate")
    write_graph_state(base, g0, state)
    src = tmp_path / "vecs"
    src.mkdir()
    _write_vec_json(src / "b1.json", b1, 1_000_000_000)
    _write_vec_json(src / "b2.json", b2, 1_000_000_100)
    s = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = graph_append_stream(
        s, state, str(tmp_path / "ckpt"), k, mode="graph",
        query_name="gapp_graph_tier",
    )
    assert q.awaitTermination(180)
    _, streamed = read_graph_state(spark, state)

    g1 = knn_graph_append(g0, base, b1, k, mode="graph", materialize=True)
    g2 = knn_graph_append(
        g1, base.unionByName(b1), b2, k, mode="graph"
    )
    assert _rows(streamed) == _rows(g2)


def test_graph_state_with_only_uncommitted_stream_batch_reads_base(spark, emb, tmp_path):
    """Crash before the first commit: graph/stream/ holds one batch dir
    with only an uncommitted _temporary write. Uncommitted partitions
    are invisible by the exactly-once model, so the state reads back
    its base graph and corpus."""
    import os

    from pyspark_mrdf_spark.streaming.ingest import read_graph_state, write_graph_state

    state = str(tmp_path / "gstate")
    graph = knn_exact_blocked(emb, 3)
    write_graph_state(emb, graph, state)
    os.makedirs(os.path.join(state, "graph", "stream", "batch=0", "_temporary", "0"))
    corpus, served = read_graph_state(spark, state)
    assert _rows(served) == _rows(graph)
    assert corpus.count() == emb.count()


def test_compact_graph_state_serves_identically(spark, emb, tmp_path):
    """Compaction law: a compacted state serves ROW-IDENTICALLY to the
    uncompacted base+delta overlay, with zero delta partitions left to
    pay for — the read_graph_state overlay cost goes back to one base
    scan."""
    import glob as _glob

    from pyspark_mrdf_spark.streaming.ingest import (
        compact_graph_state,
        graph_append_stream,
        read_graph_state,
        write_graph_state,
    )

    base = emb.filter(F.col("vec_id") % 10 >= 2).localCheckpoint(eager=True)
    b1 = emb.filter(F.col("vec_id") % 10 == 0)
    b2 = emb.filter(F.col("vec_id") % 10 == 1)
    k = 4
    state = str(tmp_path / "gstate")
    write_graph_state(base, knn_exact_blocked(base, k), state)
    src = tmp_path / "vecs"
    src.mkdir()
    _write_vec_json(src / "b1.json", b1, 1_000_000_000)
    _write_vec_json(src / "b2.json", b2, 1_000_000_100)
    s = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = graph_append_stream(
        s, state, str(tmp_path / "ckpt"), k, mode="exact",
        query_name="gapp_compact_eq",
    )
    assert q.awaitTermination(180)
    corpus0, graph0 = read_graph_state(spark, state)

    dst = str(tmp_path / "gstate_compacted")
    compact_graph_state(spark, state, dst)
    corpus1, graph1 = read_graph_state(spark, dst)
    assert _rows(graph1) == _rows(graph0)
    assert sorted(r["vec_id"] for r in corpus1.select("vec_id").collect()) == sorted(
        r["vec_id"] for r in corpus0.select("vec_id").collect()
    )
    # the compacted state has NO delta partitions — the overlay is gone
    assert _glob.glob(f"{dst}/graph/stream/batch=*") == []
    assert _glob.glob(f"{dst}/corpus/stream/batch=*") == []

    # in-place compaction is refused (the merge_indexes contract), also
    # when the destination is the source's file:// form
    with pytest.raises(ValueError, match="fresh directory"):
        compact_graph_state(spark, state, state)
    with pytest.raises(ValueError, match="fresh directory"):
        compact_graph_state(spark, state, "file://" + state)


def test_checkpoint_restart_across_compaction(spark, emb, tmp_path):
    """The lifecycle the contract promises: stream two batches → clean
    stop → compact → RESTART against the compacted state with the SAME
    checkpoint → stream a third batch. Final graph must equal the
    never-compacted run over the same three batches (exact tier:
    bit-identical)."""
    from pyspark_mrdf_spark.streaming.ingest import (
        compact_graph_state,
        graph_append_stream,
        read_graph_state,
        write_graph_state,
    )

    base = emb.filter(F.col("vec_id") % 10 >= 3).localCheckpoint(eager=True)
    b1 = emb.filter(F.col("vec_id") % 10 == 0)
    b2 = emb.filter(F.col("vec_id") % 10 == 1)
    b3 = emb.filter(F.col("vec_id") % 10 == 2)
    k = 4
    g0 = knn_exact_blocked(base, k).localCheckpoint(eager=True)

    src = tmp_path / "vecs"
    src.mkdir()
    _write_vec_json(src / "b1.json", b1, 1_000_000_000)
    _write_vec_json(src / "b2.json", b2, 1_000_000_100)

    def _stream(state, ckpt, name):
        s = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        return graph_append_stream(s, state, ckpt, k, mode="exact", query_name=name)

    # compacted lifecycle
    state_a = str(tmp_path / "state_a")
    ckpt_a = str(tmp_path / "ckpt_a")
    write_graph_state(base, g0, state_a)
    assert _stream(state_a, ckpt_a, "gapp_pre_compact").awaitTermination(180)
    state_a2 = str(tmp_path / "state_a_compacted")
    compact_graph_state(spark, state_a, state_a2)
    _write_vec_json(src / "b3.json", b3, 1_000_000_200)
    assert _stream(state_a2, ckpt_a, "gapp_post_compact").awaitTermination(180)
    _, graph_a = read_graph_state(spark, state_a2)
    # only the post-compaction batch left a delta on the new state
    import glob as _glob

    assert len(_glob.glob(f"{state_a2}/graph/stream/batch=*")) == 1

    # never-compacted comparand (same three batches, fresh checkpoint)
    state_b = str(tmp_path / "state_b")
    write_graph_state(base, g0, state_b)
    assert _stream(state_b, str(tmp_path / "ckpt_b"), "gapp_no_compact").awaitTermination(180)
    _, graph_b = read_graph_state(spark, state_b)
    assert _rows(graph_a) == _rows(graph_b)
    # and both equal the from-scratch exact graph (the tier's law)
    assert _rows(graph_a) == _rows(knn_exact_blocked(emb, k))


def test_append_entries_keeps_maintained_graph_fully_servable(spark, emb):
    """The maintained-graph entry contract (r13 verdict ask #5): the
    beam walk is DIRECTED, so an appended node that displaced into no
    old top-k has in-degree 0 and is unreachable from build-time
    entries — and recomputing component_entries on the maintained
    graph does NOT fix it (the CC pass is undirected: the node's own
    out-edges merge it into the old component). append_entries' exact
    O(batch) top-up (batch ids absent from the delta's old→new dst
    set) restores 100% self-servability."""
    from pyspark_mrdf_spark.operators.graph_search import (
        append_entries,
        component_entries,
        graph_knn_search,
    )

    k = 4
    base = emb.select("vec_id", "embedding")
    old = base.filter(F.col("vec_id") % 10 != 0).localCheckpoint(eager=True)
    near = base.filter(F.col("vec_id") % 10 == 0)
    # one far outlier: lands in NOBODY's top-k, so no old→new edge
    outlier = base.limit(1).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> cast(x + 1000.0 as float))"
        ).alias("embedding"),
    )
    new = near.unionByName(outlier).localCheckpoint(eager=True)
    g0 = knn_exact_blocked(old, k).localCheckpoint(eager=True)
    # the documented build-time amortization recipe: component entries
    # UNION the sqrt(n) global md5 seeds (graph_knn_search docstring)
    import math

    n_old = old.count()
    global_seeds = (
        old.orderBy(F.md5(F.concat(F.lit("13:"), F.col("vec_id").cast("string"))))
        .limit(max(4, math.isqrt(max(n_old - 1, 0)) + 1))
        .select(F.col("vec_id").alias("vid"))
    )
    entries0 = (
        component_entries(g0, old)
        .unionByName(global_seeds)
        .distinct()
        .localCheckpoint(eager=True)
    )

    delta = knn_graph_append(
        g0, old, new, k, mode="exact", return_delta=True
    ).localCheckpoint(eager=True)
    maintained = knn_graph_append(g0, old, new, k, mode="exact").localCheckpoint(
        eager=True
    )
    out_id = outlier.collect()[0]["vec_id"]
    # precondition: the outlier really has in-degree 0
    assert maintained.filter(F.col("dst") == out_id).count() == 0
    # the undirected-CC blind spot: recomputed component entries give
    # the outlier NO entry of its own
    recomputed = component_entries(maintained, old.unionByName(new))
    assert recomputed.filter(F.col("vid") == out_id).count() == 0

    corpus = old.unionByName(new)
    ent = append_entries(entries0, delta, new).localCheckpoint(eager=True)
    assert ent.filter(F.col("vid") == out_id).count() == 1

    # the top-up is EXACTLY the batch ids no OLD node adopted
    # (conservative rule: new→new in-edges don't count — a
    # batch-internal chain must bottom out in a topped-up or
    # old-adopted node, so coverage is guaranteed without a closure)
    new_ids = {r["vec_id"] for r in new.select("vec_id").collect()}
    adopted = {
        r["dst"]
        for r in maintained.filter(
            F.col("dst").isin([int(i) for i in new_ids])
        ).select("src", "dst").collect()
        if r["src"] not in new_ids
    }
    topup = {r["vid"] for r in ent.collect()} - {
        r["vid"] for r in entries0.collect()
    }
    assert topup == new_ids - adopted and out_id in topup

    def self_hits(entry_frame=None, strategy="component"):
        served = graph_knn_search(
            new, maintained.select("src", "dst"), corpus, k, beam=64,
            entries=entry_frame, entry_strategy=strategy,
        )
        return {
            r["src"]
            for r in served.filter(
                (F.col("src") == F.col("dst")) & (F.col("rnk") == 1)
            ).collect()
        }

    hits_topup = self_hits(ent)
    hits_default = self_hits(None)  # per-call component CC + sqrt(n) seeds
    hits_stale = self_hits(entries0)  # build-time entries, no top-up
    # greedy beam search on a k=4 digraph is approximate, so exact
    # per-node set comparisons between two approximate walks are not
    # the bar — the ENTRY contract is: (a) the outlier flips from
    # missed (stale build-time entries AND the per-call undirected CC,
    # which cannot save it) to found (top-up), (b) the topped-up
    # amortized entries serve no fewer appended nodes than the stale
    # ones, (c) near-complete self-servability overall
    assert out_id in hits_topup
    assert out_id not in hits_stale
    assert out_id not in hits_default  # undirected CC cannot save it
    assert len(hits_topup) >= len(hits_stale)
    assert len(hits_topup) >= 0.95 * len(new_ids)
