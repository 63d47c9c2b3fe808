"""Graph-based ANN serving: batched beam search over a prebuilt kNN
graph — the serving half of the graph-index architecture whose build
half is the engine's flagship (``algorithms/mrdf.knn_graph``; the
reference builds the graph — main.py / mrdf.py — but nothing in it
serves queries from the graph afterwards).

DiskANN/HNSW-family deployments answer queries by walking a proximity
graph: start at entry points, repeatedly expand the best unexpanded
candidates' adjacency lists, keep the best ``beam`` per query, stop
when the beam is fully expanded. Re-expressed Spark-first for a QUERY
BATCH rather than one query at a time:

 - every query advances one hop per ROUND, so the number of corpus
   passes is the graph's effective diameter (~5-10 rounds), not
   O(n_queries) — the round's adjacency resolution and vector
   resolution are each ONE equi-join whose small side (the combined
   frontier of all queries, ≤ n_queries·beam rows) broadcasts, so the
   graph and corpus never shuffle;
 - per-query state is (candidate id, d², expanded) — the beam window
   is partitioned by query id, never global;
 - the driver sees one scalar per round (the frontier count, which
   also materializes that round's lazy ``checkpoint``) — the
   MRDF/pagerank iteration discipline.

At 100 TB the batch shape is the point: a single query wants point
reads (what a serving node does); a Spark batch of 10k queries
amortizes each round's index scan across all of them, and with the
graph and corpus stored bucketed by id the broadcast-hash joins prune
to the touched buckets. Determinism: all windows tie-break by id and
the arithmetic is fixed-order JVM float64, so results are invariant
to partitioning (tested); entry points are md5-seeded (engine-portable
like every other sampling step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_mrdf_spark.functions.vector import l2_sq
from pyspark_mrdf_spark.operators.util import checkpoint, topk_merge


LOCAL_ROUTE_MAX_CORPUS = 100_000


def component_entries(
    graph: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    seed: int = 13,
) -> DataFrame:
    """One md5-argmin entry id per connected component of ``graph``
    (undirected, restricted to ``corpus`` ids; corpus ids absent from
    the graph are singleton components — they are unreachable by any
    walk, so seeding them is the only way they can ever be returned).
    Returns a one-column frame ``vid``.

    This is the safety half of ``graph_knn_search``'s default entry
    seeding (``entry_strategy='component'``): O(√n) global seeding
    alone covers every Θ(√n)-sized component w.h.p. but coupon-collects
    on corpora with ~√n-many SMALL components (the common clustered
    production shape — measured 0.504 recall on a 250-cluster d=512
    mixture before this existed). One entry per component makes
    coverage exact, not probabilistic. Cost: one star-contraction CC
    pass over the edge table (O(log) rounds of groupBy·min — the same
    machinery as ``operators/dedup.connected_components``) plus one
    per-component argmin window. At serving scale, compute this ONCE at
    index-build time and pass the result to ``graph_knn_search`` via
    ``entries=`` instead of paying the CC pass per query batch."""
    from pyspark_mrdf_spark.operators.dedup import connected_components

    cid = corpus.select(F.col(id_col).alias("vid"))
    e = (
        graph.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(cid.select(F.col("vid").alias("u")), "u", "left_semi")
        .join(cid.select(F.col("vid").alias("v")), "v", "left_semi")
    )
    cc = connected_components(e, "u", "v")  # (doc_id, cluster_id)
    comp = cid.join(cc, cid["vid"] == cc["doc_id"], "left").select(
        "vid", F.coalesce("cluster_id", F.col("vid")).alias("_cid")
    )
    w = Window.partitionBy("_cid").orderBy(
        F.md5(F.concat(F.lit(f"{seed}:"), F.col("vid").cast("string"))), "vid"
    )
    return (
        comp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vid")
    )


def append_entries(
    entries: DataFrame,
    delta: DataFrame,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Entry-set top-up for a MAINTAINED graph (r14) — the build-time
    amortization contract, kept honest across appends.

    ``component_entries`` computed at build time stays complete for
    the OLD region, but the beam walk follows DIRECTED src→dst edges:
    an appended node is reachable only through an old→new edge, which
    exists iff the new vector displaced into some old node's top-k.
    A batch member that entered NOBODY's top-k (an outlier, or any
    vector in a dense region whose old neighbors are all mutually
    closer) has in-degree 0 in the maintained graph — provably
    unreachable from ANY entry set that doesn't contain it. Note this
    is NOT fixed by recomputing ``component_entries`` on the
    maintained graph either: the CC pass is undirected, so the new
    node's own out-edges merge it into the old component and it gets
    no entry of its own (law-pinned in tests/test_graph_append.py).

    The O(batch) rule: the replacement delta carries EVERY edge of
    every affected src, so old→new edges are precisely the delta rows
    with dst in the batch and src outside it — batch ids absent from
    that dst set join the entry set. Deliberately CONSERVATIVE:
    new→new in-edges don't count (a batch-internal chain must bottom
    out in a topped-up or old-adopted node, so coverage holds without
    computing a reachability closure; the extra entries stay O(batch)).
    No CC pass, no corpus scan; apply once per append (or per
    compaction) and keep serving with ``entries=``.
    """
    new_ids = new_vectors.select(F.col(id_col).alias("vid"))
    old_to_new = (
        delta.select(F.col("src"), F.col("dst").alias("vid"))
        .join(new_ids, "vid", "left_semi")
        .join(
            new_ids.select(F.col("vid").alias("src")), "src", "left_anti"
        )
        .select("vid")
        .distinct()
    )
    return (
        entries.select(F.col(entries.columns[0]).alias("vid"))
        .unionByName(new_ids.join(old_to_new, "vid", "left_anti"))
        .distinct()
    )


def graph_knn_search(
    queries: DataFrame,
    graph: DataFrame,
    corpus: DataFrame,
    k: int,
    beam: int = 32,
    n_entry: int | None = None,
    max_rounds: int = 12,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = True,
    route: str = "auto",
    entry_strategy: str = "component",
    entries: DataFrame | None = None,
) -> DataFrame:
    """Top-k of ``queries`` against ``corpus`` by beam search over
    ``graph`` ((src, dst) adjacency, e.g. a ``knn_graph`` output):
    (src, dst, dist_sq, rnk), rnk 1..k ascending by (dist_sq, dst) —
    the same contract as ``knn_search``, served from the graph index
    instead of a corpus scan. Recall is bought with ``beam`` (and the
    graph's quality); candidates are only ever graph neighbors of
    visited nodes, so a too-small ``beam`` caps recall — measured
    dials in tests/test_graph_search.py.

    CONNECTIVITY is the flat-graph failure mode: a kNN graph of a
    clustered corpus is a pile of per-cluster components (measured:
    the 250-cluster d=512 mixture gives recall 0.0 from 4 entry
    points — no walk crosses clusters). Graph-index deployments fix
    this with long-range edges (DiskANN RobustPrune), a hierarchy
    (HNSW), or ENTRY SEEDING; this operator takes the seeding route,
    and the DEFAULT (``entry_strategy='component'``) makes coverage
    EXACT, not probabilistic: entries = the max(4, ⌈√n_corpus⌉)
    md5-seeded global entries (the same O(√n) rule as
    ``auto_n_centroids``) ∪ one md5-argmin entry per connected
    component of the graph (``component_entries`` — one star-
    contraction CC pass per call; on a connected graph the extra
    entry is the global md5-min, already in the √n set, so the entry
    set — and every result — is unchanged). Rationale: √n seeding
    alone coupon-collects on corpora with ~√n-many SMALL components
    (the common clustered production shape — measured recall 0.504 on
    the 250-cluster d=512 mixture), and that failure was SILENT.
    ``entry_strategy='global'`` opts out (√n seeding only — the
    pre-r12 dial, kept measurable; the planted-cluster law in
    tests/test_graph_search.py pins the failure at that dial and the
    fix at the default). At serving scale amortize the CC pass:
    compute ``component_entries`` (∪ your global entries) once at
    index-build time and pass the frame via ``entries=`` — then no
    seeding (and no corpus count) runs per batch."""
    if k < 1 or beam < k:
        raise ValueError(f"graph_knn_search: need beam >= k >= 1, got k={k}, beam={beam}")
    if route not in ("auto", "local", "distributed"):
        raise ValueError(f"graph_knn_search: unknown route {route!r}")
    if entry_strategy not in ("component", "global"):
        raise ValueError(
            f"graph_knn_search: unknown entry_strategy {entry_strategy!r}"
        )
    # The corpus count drives ONLY auto-routing and entry auto-sizing;
    # a caller that pins route='distributed' and supplies n_entry (or a
    # precomputed entry frame) has already decided both, so don't
    # charge them a Spark action for it (advisor round 9).
    if route == "distributed" and (n_entry is not None or entries is not None):
        n_corpus = None
    else:
        n_corpus = corpus.count()
    if n_entry is None and entries is None:
        import math

        n_entry = max(4, math.isqrt(max(n_corpus - 1, 0)) + 1)
    # tier routing, knn_search's discipline: the distributed walk pays
    # ~2 broadcast joins + one count action PER ROUND — right when the
    # graph/corpus cannot sit in one task, pure scheduling overhead
    # when they can (measured: 5.2 s warm for a 5k-node walk that the
    # local tier serves in well under a second). The local tier
    # collects O(n·(d + degree)) to the driver — bounded by the route
    # threshold, NOT the external-query contract, so it never
    # activates above LOCAL_ROUTE_MAX_CORPUS rows; results are
    # bit-identical (the local kernel replays l2_sq's sequential
    # per-dimension fold, same entries, same rounds, same tie-breaks —
    # equivalence-tested in tests/test_graph_search.py).
    if route == "local" or (route == "auto" and n_corpus <= LOCAL_ROUTE_MAX_CORPUS):
        return _graph_search_local(
            queries, graph, corpus, k, beam, n_entry, max_rounds, seed,
            id_col, vec_col, include_self, entry_strategy, entries,
        )
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("_qvec")
    ).transform(checkpoint)
    c_vec = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("_cvec"))
    adj = graph.select(F.col("src").alias("vid"), F.col("dst").alias("_nbr"))

    def _score(cand: DataFrame) -> DataFrame:
        """(qid, vid) -> (qid, vid, d2): one equi-join per side, the
        candidate side broadcast so graph/corpus never shuffle."""
        scored = (
            c_vec.join(F.broadcast(cand), "vid")
            .join(F.broadcast(q), "qid")
            .select("qid", "vid", l2_sq("_cvec", "_qvec").alias("d2"))
        )
        if not include_self:
            scored = scored.filter(F.col("vid") != F.col("qid"))
        return scored

    if entries is not None:
        # precomputed entry frame (index-build-time seeding): used
        # verbatim; ids absent from the corpus are shed by _score's
        # corpus join, exactly like dangling graph edges
        entry = entries.select(F.col(entries.columns[0]).alias("vid"))
    else:
        entry = (
            corpus.select(F.col(id_col).alias("vid"))
            .orderBy(F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))))
            .limit(n_entry)
        )
        if entry_strategy == "component":
            entry = entry.unionByName(
                component_entries(graph, corpus, id_col, seed)
            ).distinct()
    state = (
        _score(q.select("qid").crossJoin(F.broadcast(entry)))
        .withColumn("expanded", F.lit(False))
        .transform(checkpoint)
    )

    w_beam = Window.partitionBy("qid").orderBy("d2", "vid")
    for _ in range(max_rounds):
        ranked = state.withColumn("_rnk", F.row_number().over(w_beam))
        frontier = (
            ranked.filter((F.col("_rnk") <= beam) & ~F.col("expanded"))
            .select("qid", "vid")
            .transform(checkpoint)
        )
        # the round's ONE action: materializes the frontier checkpoint
        # and decides convergence (beam fully expanded -> done)
        if frontier.count() == 0:
            break
        nbrs = (
            adj.join(F.broadcast(frontier), "vid")
            .select("qid", F.col("_nbr").alias("vid"))
            .distinct()
        )
        fresh = nbrs.join(state.select("qid", "vid"), ["qid", "vid"], "left_anti")
        state = (
            state.join(
                F.broadcast(frontier.withColumn("_f", F.lit(True))),
                ["qid", "vid"],
                "left",
            )
            .select(
                "qid",
                "vid",
                "d2",
                (F.col("expanded") | F.coalesce(F.col("_f"), F.lit(False))).alias(
                    "expanded"
                ),
            )
            .unionByName(_score(fresh).withColumn("expanded", F.lit(False)))
            .transform(checkpoint)
        )

    return topk_merge(
        state.select(
            F.col("qid").alias("src"),
            F.col("vid").alias("dst"),
            F.col("d2").alias("dist_sq"),
        ),
        k,
    )


def _graph_search_local(
    queries: DataFrame,
    graph: DataFrame,
    corpus: DataFrame,
    k: int,
    beam: int,
    n_entry: int,
    max_rounds: int,
    seed: int,
    id_col: str,
    vec_col: str,
    include_self: bool,
    entry_strategy: str = "component",
    entries: DataFrame | None = None,
) -> DataFrame:
    """Driver-local beam search, bit-identical to the distributed walk
    (same md5 entries — including the per-component argmin set, here
    via union-find over the already-collected adjacency instead of a
    distributed CC pass — same round structure, same (d2, vid)
    tie-break, and the SAME float64 arithmetic: distances accumulate
    dimension by dimension — l2_sq's sequential left fold — so not
    even a last-ulp difference separates the tiers)."""
    import hashlib

    import numpy as np
    import pandas as pd

    spark = queries.sparkSession
    c_rows = corpus.select(F.col(id_col), F.col(vec_col)).collect()
    ids = np.array([r[0] for r in c_rows], dtype=np.int64)
    mat = np.array([r[1] for r in c_rows], dtype=np.float32)
    pos = {int(v): i for i, v in enumerate(ids)}
    adj: dict[int, list[int]] = {}
    # Drop adjacency entries whose dst is absent from the corpus: the
    # distributed tier silently sheds such dangling edges via the
    # corpus join, and the tiers must stay input-equivalent — before
    # this filter a stale edge crashed the local tier (KeyError in
    # score_block) on graphs the distributed walk handled (advisor r9).
    for r in graph.select("src", "dst").collect():
        dst = int(r[1])
        if dst in pos:
            adj.setdefault(int(r[0]), []).append(dst)
    q_rows = queries.select(F.col(id_col), F.col(vec_col)).collect()

    def _md5(v: int) -> str:
        return hashlib.md5(f"{seed}:{v}".encode()).hexdigest()

    if entries is not None:
        # precomputed frame: shed ids absent from the corpus (the
        # distributed tier's _score join drops them identically)
        entry_ids = sorted({int(r[0]) for r in entries.collect()} & pos.keys())
    else:
        entry_ids = [
            int(v)
            for v in sorted(
                (int(v) for v in ids), key=lambda v: (_md5(v), int(v))
            )[:n_entry]
        ]
        if entry_strategy == "component":
            # union-find over the corpus-restricted undirected edges,
            # then one md5-argmin entry per component — the exact set
            # component_entries() computes distributedly
            parent = {int(v): int(v) for v in ids}

            def find(x: int) -> int:
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for s, ds in adj.items():
                if s in parent:
                    for t in ds:
                        rs, rt = find(s), find(t)
                        if rs != rt:
                            parent[max(rs, rt)] = min(rs, rt)
            best: dict[int, int] = {}
            for v in parent:
                r = find(v)
                if r not in best or (_md5(v), v) < (_md5(best[r]), best[r]):
                    best[r] = v
            entry_ids = sorted(set(entry_ids) | set(best.values()))

    def score_block(qvec64: np.ndarray, vids: list[int]) -> np.ndarray:
        block = mat[[pos[v] for v in vids]].astype(np.float64)
        acc = np.zeros(len(vids), dtype=np.float64)
        for j in range(block.shape[1]):  # sequential per-dim fold = l2_sq
            d = block[:, j] - qvec64[j]
            acc = acc + d * d
        return acc

    out_rows = []
    for qr in q_rows:
        qid = int(qr[0])
        qvec64 = np.asarray(qr[1], dtype=np.float32).astype(np.float64)
        cand0 = [v for v in entry_ids if include_self or v != qid]
        d0 = score_block(qvec64, cand0)
        state: dict[int, list] = {v: [float(d), False] for v, d in zip(cand0, d0)}
        for _ in range(max_rounds):
            ranked = sorted(state.items(), key=lambda kv: (kv[1][0], kv[0]))[:beam]
            frontier = [v for v, st in ranked if not st[1]]
            if not frontier:
                break
            fresh = []
            seen = set()
            for v in frontier:
                state[v][1] = True
                for n in adj.get(v, ()):  # noqa: B007
                    if n not in state and n not in seen:
                        if include_self or n != qid:
                            seen.add(n)
                            fresh.append(n)
            if fresh:
                dn = score_block(qvec64, fresh)
                for v, d in zip(fresh, dn):
                    state[v] = [float(d), False]
        top = sorted(state.items(), key=lambda kv: (kv[1][0], kv[0]))[:k]
        for rnk, (v, st) in enumerate(top, start=1):
            out_rows.append((qid, v, st[0], rnk))
    return spark.createDataFrame(
        pd.DataFrame(out_rows, columns=["src", "dst", "dist_sq", "rnk"]),
        "src long, dst long, dist_sq double, rnk int",
    )
