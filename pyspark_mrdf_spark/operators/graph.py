"""Link-graph centrality operators (north-star training-pipeline
extension).

Web-scale corpus curation weights documents by the link structure of
their hosts: Common Crawl publishes host-level centrality rankings,
and CCNet/RefinedWeb-style pipelines consume them as a quality prior.
The operator here is the classic of that family — PageRank (Page,
Brin, Motwani, Winograd 1999) — expressed as the engine expresses all
iteration (SURVEY §2A O4/W1): a driver loop over DataFrame
transformations with a lazy ``checkpoint`` (``operators.util``) per
round, shuffles keyed on node id only.

Arithmetic discipline: INTEGER fixed-point throughout (``scale``
units of rank mass, default 1e12). Every per-edge contribution is one
integer division ``p div outdeg`` and every update is
``base + (damping · Σcontrib) div 100`` — integer sums are
associative, so the result is bit-identical on any engine, any
partitioning, any schedule; the q113 oracle replays all rounds in
SQL and the driver hash-checks the ranks exactly. (Float PageRank
sums in nondeterministic order and could never be hash-checked.)

Mass accounting: a dangling node (no out-edges) simply does not emit
its mass — the deterministic choice; redistributing dangling mass
uniformly would add a global aggregate per round for no extra
verification value. Total mass therefore shrinks slightly when
danglers exist; rankings are unaffected for the quality-weighting use
case, and the q113 edge synthesis gives every node out-degree
1 + id%3 ≥ 1 so the checked configuration conserves mass up to
``div`` truncation.

Scale: per round, one equi-join of the edge table against the O(n)
rank table (shuffle on node id) + one groupBy-sum on dst. At 100 TB
the edge table dwarfs ranks — pre-partition both on the join key
(AQE handles skewed hubs); round count is the small fixed dial.
Measured (SCALABILITY.json ``synthetic-2000000-pagerank``): 2M nodes /
4M edges run 5 rounds in 42.7 s on local[32] (~8.5 s/round) with rank
mass conserved to 6e-6 — the truncation bound, not float drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_mrdf_spark.operators.util import checkpoint


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    n_iter: int = 5,
    damping_e2: int = 85,
    scale: int = 10**12,
    src_col: str = "src",
    dst_col: str = "dst",
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration integer PageRank → (node, p) with ``p`` the
    rank in ``scale`` fixed-point units.

    ``nodes`` (single-column) pins the node universe — pass it when
    isolated nodes must receive the teleport base; defaults to the
    distinct edge endpoints. ``damping_e2`` is the damping factor in
    hundredths (85 = the canonical 0.85). Fixed ``n_iter`` rounds
    (no convergence test) keep the computation closed-form so an SQL
    oracle can replay it; rank movement after 5 rounds is far below
    quality-weighting resolution on bounded-diameter web graphs.

    Parallel edges are honored (each contributes separately) and
    self-loops feed a node's own next-round rank — both deterministic
    and mirrored by the oracle.

    ``seeds`` (single-column) switches to PERSONALIZED PageRank
    (Haveliwala 2002): teleport mass and the initial distribution go
    only to the seed set, so rank measures proximity to the seeds —
    the seed-expansion primitive behind "more like these trusted
    hosts" corpus weighting and topic-conditioned crawl scoring. Same
    integer arithmetic, same per-round plan; non-seed base is exactly
    0, so mass decays off the seed neighborhood deterministically."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if nodes is None:
        node_df = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )
    else:
        node_df = nodes.select(F.col(nodes.columns[0]).alias("node"))
    node_df = checkpoint(node_df)
    if not 0 <= damping_e2 <= 100:
        raise ValueError(f"pagerank: damping_e2={damping_e2} outside [0, 100]")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e_deg = checkpoint(e.join(deg, "src"))
    if seeds is None:
        n = node_df.count()
        if n == 0:
            raise ValueError("pagerank: empty node set")
        base_col = F.lit((scale * (100 - damping_e2)) // (100 * n)).cast("long")
        init_col = F.lit(scale // n).cast("long")
        node_df = node_df.withColumn("_base", base_col)
        p = node_df.select("node", init_col.alias("p"))
    else:
        seed_df = (
            seeds.select(F.col(seeds.columns[0]).alias("node"))
            .distinct()
            .withColumn("_seed", F.lit(True))
            .transform(checkpoint)
        )
        # Join BEFORE counting: a seed absent from the node universe
        # must not inflate the teleport denominator (it would silently
        # leak 1/n_seeds of the mass every round). And keep the _seed
        # boolean for the init selection — testing `_base > 0` broke at
        # damping_e2=100 (base is legitimately 0 for every node there,
        # zeroing the initial distribution; advisor round 9).
        node_df = (
            node_df.join(seed_df, "node", "left")
            .select("node", F.coalesce("_seed", F.lit(False)).alias("_seed"))
            .transform(checkpoint)
        )
        # r15 (verdict item 4): one aggregate returns n AND n_seeds —
        # the former sequential count() pair cost an extra driver
        # round-trip per personalized-pagerank call (q145).
        stats = node_df.agg(
            F.count(F.lit(1)).alias("_n"),
            F.count_if(F.col("_seed")).alias("_ns"),
        ).collect()[0]
        n, n_seeds = int(stats["_n"]), int(stats["_ns"])
        if n == 0:
            raise ValueError("pagerank: empty node set")
        if n_seeds == 0:
            raise ValueError("pagerank: no seed is present in the node set")
        node_df = node_df.select(
            "node",
            "_seed",
            F.when(
                F.col("_seed"),
                F.lit((scale * (100 - damping_e2)) // (100 * n_seeds)),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("_base"),
        ).transform(checkpoint)
        p = node_df.select(
            "node",
            F.when(F.col("_seed"), F.lit(scale // n_seeds))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("p"),
        )
    for _ in range(n_iter):
        contrib = (
            e_deg.join(p.select(F.col("node").alias("src"), "p"), "src")
            .select("dst", F.expr("p div outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("m"))
        )
        p = (
            node_df.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.col("_base")
                    + F.expr(
                        f"({damping_e2} * coalesce(m, cast(0 as bigint))) div 100"
                    )
                ).cast("long").alias("p"),
            )
            .transform(checkpoint)
        )
    return p


def triangle_counts(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle participation counts → (node, n_triangles),
    nodes with ≥1 triangle only. Exact integers, any partitioning.

    Triangles are the density signal of co-occurrence graphs (parts
    co-ordered, docs sharing shingles, hosts co-linked): clustering
    coefficient numerators, community seeds, link-spam detection.

    Degree-ordered orientation (the Schank/Wagner — Cohen MapReduce —
    trick): orient every undirected edge from its lower-(degree, id)
    endpoint to the higher one; orientation bounds every node's
    OUT-degree by O(√m) even on power-law hubs — the skew guard that
    makes triangle counting survive a 100 TB graph. Each triangle then
    appears exactly once: as edge (u,v) plus a common successor
    w ∈ succ(u) ∩ succ(v).

    The counting plan is edge-iterator-with-adjacency-arrays, NOT a
    wedge self-join: per-node sorted successor arrays (collect_list,
    O(√m) entries each by the orientation bound) join onto each
    oriented edge, and `array_intersect` + `explode` emit ONE row per
    TRIANGLE. The previous wedge-join materialized one row per WEDGE —
    Σ C(outdeg, 2) — which on dense co-occurrence graphs is far larger
    (sf0.1 co-order graph: ~35 M wedges vs ~4 M triangles; measured
    10× wall win at identical output). Shuffles: degree groupBy,
    orientation joins, one adjacency groupBy, two array-equi-joins,
    final per-endpoint groupBy — every one an equi-key hash exchange.

    Inputs may list each undirected edge in either or both directions;
    self-loops are dropped, duplicates collapsed.

    Measured (SCALABILITY.json row synthetic-400000-graph-analytics):
    3.9M edges / 22.8M triangles counted in 13.6 s on local[32] with
    every node's count asserted against the clique closed form (k-core
    and LPA on the same graph, same exactness gate). On the DENSE co-order graph
    (q138 at sf0.1: 20k nodes, 1.2M edges, avg degree 120) the
    intersect plan beats the former wedge self-join ~10× — wedge count
    Σ C(outdeg, 2) ≈ 35M vs ~4M triangle rows."""
    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    und = (
        e.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .transform(checkpoint)
    )
    # r15 (guide §2.3 narrower types): the successor arrays attached to
    # every oriented edge are this operator's dominant shuffle — Σ_u
    # outdeg(u)·|succ(u)| id cells ≈ the wedge count (sf0.1 profile:
    # 167 MB into the intersect stage). When the ids PROVABLY fit
    # int32, carry them as ints (half the bytes) and cast the final
    # node column back. The bounds probe is one tiny aggregate whose
    # action doubles as the checkpoint materialization `deg` needed
    # anyway; "provably" is data-dependent, so this is a guarded
    # runtime check, never an assumption.
    id_type = und.schema["a"].dataType.simpleString()
    if id_type == "bigint":
        bounds = und.agg(
            F.min(F.least("a", "b")).alias("lo"),
            F.max(F.greatest("a", "b")).alias("hi"),
        ).collect()[0]
        if (
            bounds["lo"] is not None
            and bounds["lo"] >= -2147483648
            and bounds["hi"] <= 2147483647
        ):
            und = und.select(
                F.col("a").cast("int").alias("a"),
                F.col("b").cast("int").alias("b"),
            )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient by (deg, node): strict total order, so exactly one direction
    d_a = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    d_b = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    oriented = (
        und.join(d_a, "a")
        .join(d_b, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
        .transform(checkpoint)
    )
    # every triangle has exactly one apex (the (deg, id)-minimum): for
    # its oriented edge (u, v), the third vertex is in succ(u) ∩ succ(v)
    adj = oriented.groupBy("u").agg(F.sort_array(F.collect_list("v")).alias("succ"))
    a_u = adj.select("u", F.col("succ").alias("succ_u"))
    a_v = adj.select(F.col("u").alias("v"), F.col("succ").alias("succ_v"))
    tri = (
        oriented.join(a_u, "u")
        .join(a_v, "v")
        .select("u", "v", F.explode(F.array_intersect("succ_u", "succ_v")).alias("w"))
    )
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        # undo the guarded int32 narrowing (int→bigint is injective, so
        # the groups — and counts — are unchanged)
        .select(F.col("node").cast(id_type).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def _undirected(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Canonical undirected edge set (a < b, deduped, no self-loops)."""
    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    return (
        e.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """``rounds`` synchronous peels toward the k-core → (node, deg):
    each round drops every node with degree < k and all its edges, deg
    is the degree in the final surviving edge set.

    The FIXED round count is the same closed-form discipline as the
    integer PageRank above: peeling to an unbounded fixpoint would be
    correct but unreplayable by a SQL oracle; t rounds are exactly t
    CTE stages, and graphs whose peel converges within t rounds (most
    real co-occurrence graphs — peeling depth is small at any density)
    get the true k-core. Callers needing the fixpoint raise ``rounds``
    (the round is idempotent once converged, so overshooting is free
    correctness-wise and costs one degree agg + one semi-join each).

    Scale shape per round: one groupBy-count over edge endpoints + two
    broadcast-or-shuffle semi-joins of the edge table against the
    (shrinking) survivor set — all equi-keyed on node id."""
    und = checkpoint(_undirected(edges, src_col, dst_col))
    e = und
    for _ in range(rounds):
        deg = (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .transform(checkpoint)
        )
    return (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """``rounds`` synchronous label-propagation steps → (node, label):
    community detection's cheapest member (Raghavan et al. 2007).
    Labels start as node ids; each round every node adopts the most
    frequent label among its neighbors, ties to the SMALLEST label —
    the deterministic tie-break that makes the fixed-round run (and
    its SQL replay) bit-identical on any engine. Synchronous updates
    can oscillate on bipartite-ish structures; fixed rounds make that
    a defined, replayable outcome rather than nontermination.

    Scale shape per round: edges ⋈ labels on node id, one (node,
    label) count agg, one per-node argmax window — node-partitioned,
    no hot keys beyond true graph hubs (the same profile as the
    PageRank contribution agg above)."""
    und = _undirected(edges, src_col, dst_col)
    adj = (
        und.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionByName(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .transform(checkpoint)
    )
    labels = adj.select("node").distinct().withColumn("label", F.col("node"))
    from pyspark.sql import Window

    for _ in range(rounds):
        nbr_labels = adj.join(
            labels.select(F.col("node").alias("nbr"), "label"), "nbr"
        )
        counted = nbr_labels.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("c")
        )
        w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("label"))
        labels = (
            counted.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select("node", "label")
            .transform(checkpoint)
        )
    return labels
