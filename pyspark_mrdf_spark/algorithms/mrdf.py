"""MRDF — Multiway Random Division Forest (Kim & Park, KDD 2023) —
approximate k-NN graph construction, Spark-DataFrame-native.

Re-expresses reference mrdf.py:13-72 with the architecture fixes from
SURVEY.md §3.1/§4.1. The reference's outer loop builds one random
forest per iteration, merges it into the running graph and checks
convergence. A forest depends only on (seed, iteration), never on the
running graph, so the engine builds forests in **waves** — the forests
the schedule can use before its next stop decision (see
``knn_graph``) — and runs each wave as one dataflow keyed by
(forest, path):

 1. **Random division** (reference centroid_sampling_2 /
    tree_path_extension, mrdf.py:75-146): every vector of every forest
    carries a ``path`` string; while any (forest, path) group holds ≥ α
    vectors, sample ρ centroids per oversized group (seeded window-rank
    sample — the partial+final aggregation the reference hand-rolled),
    broadcast the tiny centroid table, and extend each vector's path
    with the index of its nearest centroid (vectorized argmin in
    mapInPandas). One gate aggregate, one centroid collect and one
    extend pass per division round serve every forest of the wave.
 2. **Local graph construction** (reference local_graph_construction,
    mrdf.py:148-153 — which collected EVERY subset to the driver and
    looped; the documented "hangs on a cluster" cause, README.md:77):
    here ``groupBy(forest, path).applyInPandas`` runs the NN-Descent
    kernel once per ≤α subset, executor-local, in parallel.
 3. **Graph merge** (reference graph_update, mrdf.py:155-179) and
 4. **convergence** (changed-edge ratio ≤ τ, reference mrdf.py:161-179
    — a join + per-row set diff there) come from ONE prefix top-k pass
    per wave (``_prefix_topk``): with the running graph as forest 0,
    g_t is the top-k_work edges per src of forests 0..t, and an edge
    is new in g_t exactly when t is the first forest that found it, so
    one window over the deduplicated edge table yields every g_t and
    every ratio. ``operators.util.checkpoint`` truncates lineage where
    the reference did ``sc.parallelize(rdd.collect())`` (mrdf.py:159).

Driver boundary crossings per wave: one gate row per forest and one
small centroid collect per division round, plus one row of changed/
total counts for the whole wave — vs the reference's ≥6 full dataset
round-trips per iteration. The wave's Spark job count does not grow
with the number of forests in it.

Determinism: all randomness is derived from (seed, iteration,
division round, path, id) — same seed ⇒ identical graph, which the
reference could not guarantee (unseeded executor randomness,
utilities.py:27). Centroid sampling draws its uniform from
md5(id, round seed) — the repo-wide portable-uniform discipline — so
the graph is identical on ANY partition layout / cluster size
(``F.rand`` seeds per partition index: its draws silently change when
the input is split differently, which is exactly the kind of layout
dependence a 1000-executor deployment cannot carry). Building forests
in waves changes no draw: a forest's graph is the same whichever wave
builds it.
"""

from __future__ import annotations

import time
import warnings
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from pyspark_mrdf_spark.algorithms.nndescent import nn_descent
from pyspark_mrdf_spark.functions.vector import pairwise_l2_sq
from pyspark_mrdf_spark.operators.util import checkpoint, topk_merge

EDGE_SCHEMA = StructType(
    [
        StructField("src", LongType(), False),
        StructField("dst", LongType(), False),
        StructField("dist_sq", DoubleType(), False),
    ]
)
# a wave's leaf output: every forest's local k-NN edges, tagged
WAVE_EDGE_SCHEMA = StructType(
    [StructField("forest", IntegerType(), False), *EDGE_SCHEMA.fields]
)

# Above this many oversized (forest, path) groups per division round,
# the centroid tables stay distributed (join + min_by assignment)
# instead of being collected into a driver dict: the dict is
# O(ρ·paths·d) — with n = 10¹² vectors and α = 600 that is ~50 GB on
# the driver. Below it, the dict broadcast wins (one Python lookup per
# batch group, no fan-out join). 4096 paths ≈ ρ·4096 centroid vectors
# ≈ a few MB: safely small.
CENTROID_BROADCAST_MAX_PATHS = 4096


def knn_graph(
    df: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rho: int = 15,
    alpha: int = 150_000,
    tau: float = 0.01,
    seed: int = 42,
    max_iter: int = 0,
    refine_rounds: int = 1,
    metrics_out: list | None = None,
    centroid_broadcast_max_paths: int = CENTROID_BROADCAST_MAX_PATHS,
    unconverged_warn_ratio: float | None = None,
    auto_escalate: bool = True,
) -> DataFrame:
    """Approximate k-NN graph: edge DataFrame (src, dst, dist_sq),
    ≤ k edges per src. Signature mirrors reference mrdf.py:13
    (k, rho, alpha, tau, seed, max_iter) on DataFrame footing.

    Choosing α at scale: leaves up to ``nndescent.EXACT_BLOCK_MAX``
    (4096) solve EXACTLY with one BLAS gemm (``l2_block_topk``,
    milliseconds); up to ``TILED_EXACT_MAX`` (32768) its tiled form
    (``l2_self_topk_tiled``) keeps the same result with one 4096² tile
    pair in memory at a time (n=8000:
    ~4s exact vs ~52s NN-Descent, and recall 1.0 by construction).
    α ≤ 32768 is therefore the recommended operating point on a
    cluster — division rounds are cheap DataFrame ops that scale out;
    only reference-parity huge-α runs (α=150000 default) fall back to
    the iterative NN-Descent kernel.

    Design-size evidence (SCALABILITY.json, d=64, α=16384, both scale
    tiers asserted via ``metrics_out``): recall 0.9999 in ~51s at
    n=50k and 0.999 in ~142s at n=100k on clustered (mixture) data —
    the shape real embedding corpora have. The quadratic/linear
    crossover is MEASURED, not extrapolated: exact costs 0.37× MRDF at
    50k, 0.72× at 100k, and at n=200k the sign flips — MRDF 585.7s vs
    exact 680.7s (recall 0.9942, same dial, idle 32-core machine) —
    the regime this algorithm exists for, and the gap widens with n
    (MRDF's per-leaf cost is α-bounded; exact is n²/cluster-width).
    Uniform noise, the known worst case for partition-based ANN
    (neighborhoods barely beat random splits), measured ~0.78 at the
    pinned default dial; with auto-escalation (below, default ON) the
    same hands-free call reaches recall 0.9628 in a cleanly-measured
    380 s on an idle 32-core machine (6 forests — the escalated
    budget — + the extra refine round; 12.7× the 29.9 s exact scan at
    this n, a ratio that inverts as n² outgrows the dial's
    near-linear cost — SCALABILITY.json's uniform row, r11).

    **Under-convergence signal** (costs zero extra jobs): when the
    loop stops because ``max_iter`` ran out while the changed-edge
    ratio trajectory is still above ``unconverged_warn_ratio``
    (default max(5τ, 0.05)), the graph was still absorbing many new
    edges per forest — the regime where recall degrades on hard
    (uniform-noise-like) distributions. The call then emits a
    ``UserWarning`` naming the dial (raise ``max_iter`` /
    ``refine_rounds``, or let τ drive with ``max_iter=0``) and flags
    the last ``metrics_out`` entry with ``"unconverged": True``. A
    τ-driven stop by definition converged; no warning path exists for
    it.

    **Auto-escalation (hands-free hard-distribution dial, default
    ON):** instead of only *telling* the user to raise the dial, the
    same free signal raises it. When a ``max_iter`` stop would fire
    while the last measured ratio exceeds
    ``max(4·unconverged_warn_ratio, 0.2)`` (deliberately ABOVE the
    warn threshold: severely-unconverged runs measure
    0.38–0.45 on uniform noise, while healthy clustered corpora can
    idle at 0.05–0.2 of benign tail churn with recall already ≥0.99,
    and escalating those pays ~2 forests for ~+0.005 recall — the
    measured n=200k mixture tax), the loop continues — now measuring
    the ratio every iteration and stopping as soon as it drops to
    ``unconverged_warn_ratio`` — up to a hard cap of ``2·max_iter``
    total forests, and one extra refine round runs afterwards. The escalated schedule is bit-identical to
    having passed the larger dial by hand (forests depend only on
    ``(seed, i)``); worst-case cost is bounded at ~2× forests + 1
    refine. Measured on worst-case uniform noise (SCALABILITY.json's
    uniform row): the default dial alone reaches ~0.78 recall, the
    escalated schedule 0.9628 with no hand tuning — and 1.5× cheaper
    than the hand-tuned 6-forest/2-refine dial at the IDENTICAL
    recall (380.0 vs 569.1 s, uniform-tuned A/B row), because the
    extra forests stop as soon as the ratio leaves the danger zone. Set
    ``auto_escalate=False`` where a PINNED iteration count is the
    contract (bench-comparable dials, the q155 unrolled-oracle replay,
    golden determinism tests) — the warning path then fires as before.
    If even the escalated cap stops above the warn ratio, the warning
    fires and ``metrics_out[-1]["unconverged"]`` is still set.
    Blind spot: both the warning and escalation need at least one
    MEASURED update ratio, and the first measurement happens on
    iteration 2's merge — so at ``max_iter=1`` (a single forest, no
    merge) no ratio exists, neither path can fire, and the hands-free
    guarantee does not apply; use ``max_iter >= 3`` (or the τ-driven
    ``max_iter=0``) wherever that guarantee matters (advisor r11).

    **Run metrics.** With ``metrics_out`` given, one dict per merged
    forest is appended: ``iteration``, ``divisions``, ``changed_ratio``
    (None where the iteration cap ended the loop), ``n_leaves``,
    ``max_leaf``, ``join_tier_rounds``, the dial (``k``, ``rho``,
    ``alpha``, ``tau``, ``seed``), ``escalated``/``unconverged`` where
    they apply, and ``seconds`` — the wall time of the WAVE that built
    and merged the forest, so the forests of one wave share it. The
    join tier is chosen per division round from the wave's total
    oversized (forest, path) groups.
    """
    spark = df.sparkSession
    sc = spark.sparkContext
    # materialize the working set once: spread a possibly-few-files
    # input over the cluster (single-file tables otherwise run every
    # division map on one task) and cut the re-scan per iteration
    base = (
        df.select(F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec"))
        .repartition(sc.defaultParallelism)
        .transform(checkpoint)
    )
    # ONE set-up aggregate materializes the (lazily) checkpointed base
    # and returns both sizes the plan needs. The count also replaces
    # the first division gate of every forest: at division 1 all rows
    # share the root path "", so "any path ≥ α?" is just n_total ≥ α.
    setup = base.agg(
        F.count(F.lit(1)).alias("n"), F.max(F.size("vec")).alias("dim")
    ).collect()[0]
    n_total = setup["n"]
    # Right-size the working partitioning to the data: ~32 MB of vector
    # payload per partition (n·d·8 bytes), capped at the cluster's
    # parallelism. A small input pinned at defaultParallelism partitions
    # schedules defaultParallelism near-empty tasks for EVERY stage of
    # every iteration — pure scheduler overhead; an over-large input
    # still fans out to the full cluster. Safe to vary freely because
    # every random draw is derived from (seed, iteration, division,
    # path, id), never from the partition layout. coalesce() on the
    # checkpointed base is narrow — no shuffle.
    # Working width: local graphs, merge, and refinement all run at
    # k_work ≥ k; truncation to k happens once at the end. Keeping the
    # wider frontier is what lets union-of-trees + refinement recover
    # edges that any single random division splits (see nndescent
    # k_build note).
    k_work = max(k, 20)
    refine_grid = (1, 1)
    if n_total:
        dim = setup["dim"]
        ideal = max(1, min(sc.defaultParallelism, -(-(n_total * dim * 8) // (32 << 20))))
        if ideal < sc.defaultParallelism:
            base = base.coalesce(ideal)
        # refine grid: pair mass is ~n·(2·k_work)² (the 2-hop fan-out
        # of a k_work-wide graph) — size the cell grid from BOTH the
        # pair stream and the per-cell vector slices (see _refine_grid)
        refine_grid = _refine_grid(
            n_total, dim, n_total * (2 * k_work) ** 2, sc.defaultParallelism
        )

    # Waves: forest i depends only on (seed, i), never on the running
    # graph, so every forest the schedule can use before its next stop
    # decision is built as ONE dataflow (_wave_forests) and merged in
    # ONE prefix pass (_prefix_topk). A pinned max_iter builds 3
    # forests per wave (capped at max_iter: the bench dial is one
    # wave), a τ-driven run 2, and auto-escalation's extra forests come
    # as further waves of the same size. Every graph and ratio equals
    # the one-forest-at-a-time schedule; an early τ-stop discards the
    # rest of its wave (bounded waste: at most wave − 1 forests).
    wave_size = 3 if max_iter else 2
    if unconverged_warn_ratio is None:
        unconverged_warn_ratio = max(5 * tau, 0.05)
    auto_escalate_ratio = max(4 * unconverged_warn_ratio, 0.2)
    last_ratio: float | None = None  # most recent MEASURED ratio
    max_iter_eff = max_iter  # doubled once if auto-escalation fires
    escalated = False
    g: DataFrame | None = None
    iteration = 0
    stopped = False
    while not stopped:
        wave_t0 = time.monotonic()
        last_forest = iteration + wave_size
        if max_iter_eff:
            last_forest = min(last_forest, max_iter_eff)
        forests = list(range(iteration + 1, last_forest + 1))
        edges, forest_stats = _wave_forests(
            base,
            forests,
            n_total=n_total,
            k_work=k_work,
            rho=rho,
            alpha=alpha,
            seed=seed,
            centroid_broadcast_max_paths=centroid_broadcast_max_paths,
        )
        merged, counts = _prefix_topk(g, edges, forests, k_work)
        wave_s = round(time.monotonic() - wave_t0, 3)
        # the reference's per-iteration stop rules, replayed on the
        # wave's ratios one forest at a time
        for iteration in forests:
            stop_by_iter = bool(max_iter_eff) and iteration >= max_iter_eff
            if iteration == 1:
                ratio = 1.0  # no previous graph: every edge is new
            elif stop_by_iter:
                # the iteration cap ends the loop, so the ratio gates
                # nothing: reported as not measured, and the
                # under-convergence signal below keys on the previous
                # iteration's ratio
                ratio = None
            else:
                changed, total = counts[iteration]
                ratio = changed / max(total, 1)
                last_ratio = ratio  # a MEASURED ratio (not iteration
                # 1's definitional 1.0) — the under-convergence signal
                # below only fires on real evidence
            # per-iteration run metrics (reference S10
            # write_out_mrdf_details, mrdf.py:217-226 — minus its extra
            # full count job just to name the output file): driver-side
            # list, caller decides the sink.
            if metrics_out is not None:
                metrics_out.append(
                    {
                        "iteration": iteration,
                        "changed_ratio": None if ratio is None else round(ratio, 6),
                        "seconds": wave_s,
                        "k": k,
                        "rho": rho,
                        "alpha": alpha,
                        "tau": tau,
                        "seed": seed,
                        **forest_stats[iteration],
                    }
                )
            # ---- hands-free escalation: the max_iter stop is about to
            # fire while the last MEASURED ratio says each new forest
            # was still contributing heavily (the exact condition the
            # warning below keys on). Double the forest budget ONCE and
            # keep iterating — now measuring every iteration and
            # stopping as soon as the ratio leaves the danger zone —
            # plus one extra refine round after the loop. Identical to
            # having passed the larger dial by hand (forests depend
            # only on (seed, i)); worst case ~2× forests + 1 refine.
            # The cap is always a wave's last forest, so the extra
            # forests start a new wave.
            if (
                stop_by_iter
                and auto_escalate
                and not escalated
                and last_ratio is not None
                and last_ratio > auto_escalate_ratio
            ):
                escalated = True
                max_iter_eff = 2 * max_iter
                stop_by_iter = False
                if metrics_out is not None and metrics_out:
                    metrics_out[-1]["escalated"] = True
            if (
                stop_by_iter
                or (ratio is not None and ratio <= tau)
                or (
                    escalated
                    and ratio is not None
                    and ratio <= unconverged_warn_ratio
                )
            ):
                # under-convergence signal: max_iter cut the loop while
                # the most recent measured changed-edge ratio says each
                # new forest was still contributing heavily — recall is
                # suspect on hard distributions (SCALABILITY.json's
                # uniform row: 0.78 at this kind of stop). last_ratio
                # is iteration max_iter−1's ratio (the final iteration
                # reports none), i.e. the signal is free.
                if (
                    stop_by_iter
                    and last_ratio is not None
                    and last_ratio > unconverged_warn_ratio
                ):
                    if escalated:
                        esc_note = " (auto-escalation already doubled the budget)"
                    elif auto_escalate:
                        esc_note = (
                            f" (below the {auto_escalate_ratio:.2f} "
                            "auto-escalation threshold — tail-churn regime)"
                        )
                    else:
                        esc_note = ""
                    warnings.warn(
                        f"knn_graph stopped at max_iter={max_iter_eff} with "
                        f"changed-edge ratio {last_ratio:.3f} > "
                        f"{unconverged_warn_ratio:.3f} (tau={tau}){esc_note}: "
                        "the graph was "
                        "still absorbing new edges, so recall may be low on "
                        "hard (uniform-like) distributions. Raise max_iter / "
                        "refine_rounds, or set max_iter=0 to let tau drive.",
                        UserWarning,
                        stacklevel=2,
                    )
                    if metrics_out is not None and metrics_out:
                        metrics_out[-1]["unconverged"] = True
                stopped = True
                break
        g = _graph_at(merged, iteration)

    # ---- global graph refinement: NN-Descent's neighbor-of-neighbor
    # step at graph scale, no driver traffic. Candidates = 2-hop pairs
    # of the merged graph, expanded per grid cell inside the distance
    # kernel from graph rows the JVM routes there (see _refine); merge
    # keeps k best. One round substantially recovers edges that random
    # division split across subsets — the step the reference only ran
    # locally.
    if escalated:
        # second half of the hands-free escalation: one extra
        # neighbor-of-neighbor round (the measured uniform-noise dial —
        # forests alone plateau, refine is what recovers the split
        # neighborhoods)
        refine_rounds = refine_rounds + 1
    for i in range(refine_rounds):
        last = i == refine_rounds - 1
        # The LAST round's merge window keeps k directly instead of
        # k_work: top-k and truncate(top-k_work, k) rank by the same
        # (dist_sq, dst) order, so the results are identical and the
        # standalone final truncation window below is fused away — one
        # fewer full-edge-table shuffle on q55/q56's critical path.
        g = _refine(base, g, k if last else k_work, grid=refine_grid)
        # last round stays lazy: the caller's first action (write /
        # collect / the memoized checkpoint) materializes it — earlier
        # rounds stay eager because the next round reads g four times
        # within one job (A-rows, B-rows in both directions, and the
        # merge union)
        g = checkpoint(g, eager=not last)
    if refine_rounds:
        return g
    return topk_merge(g, k).drop("rnk")


def _wave_forests(
    base: DataFrame,
    forests: list[int],
    *,
    n_total: int,
    k_work: int,
    rho: int,
    alpha: int,
    seed: int,
    centroid_broadcast_max_paths: int,
) -> tuple[DataFrame, dict[int, dict]]:
    """Division + per-subset NN-Descent for every forest of one wave,
    as one dataflow keyed by (forest, path).

    Forest i's rows are a copy of ``base`` tagged ``forest = i``; its
    draws derive from (seed, i) exactly as when it was built alone, so
    the forests are the one-at-a-time forests. Returns ``(edges,
    stats)``: ``edges`` (forest, src, dst, dist_sq) lazily holds every
    forest's local k-NN graph; ``stats[i]`` gives forest i's division
    rounds, leaf count, largest leaf and join-tier rounds — the
    tier-activation evidence for the run artifact (≤4096 exact gemm,
    ≤32768 tiled exact, else iterative NN-Descent; join rounds prove
    the distributed centroid path ran)."""
    sc = base.sparkSession.sparkContext
    vecs = base.select("id", "vec")
    data = base.select(
        "id",
        "vec",
        F.explode(F.array(*[F.lit(f) for f in forests])).alias("forest"),
        F.lit("").alias("path"),
    )
    stats: dict[int, dict] = {}
    join_tier_rounds = dict.fromkeys(forests, 0)

    def _done(forest: int, divisions: int, n_leaves: int, max_leaf) -> None:
        stats[forest] = {
            "divisions": divisions,
            "n_leaves": n_leaves,
            "max_leaf": max_leaf,
            "join_tier_rounds": join_tier_rounds[forest],
        }

    # ---- division: split every ≥α group into ρ children -------------
    division = 0
    while True:
        division += 1
        # loop gate: which forests still hold a path ≥ α? One cheap JVM
        # aggregate with one row per forest — deliberately NOT fused
        # into the sampling plan: the gate runs once more than the
        # sampler (the final "all small" round), and a fused plan would
        # pay the sampling window on every gate evaluation. The same
        # aggregate returns the leaf stats (path count, largest path),
        # so a forest's first "all small" gate already knows them.
        # Division 1 needs no job at all: every row still carries the
        # root path "", so the gate is just n_total ≥ α.
        if division == 1:
            if n_total < alpha:
                for f in forests:
                    _done(f, 0, *((1, n_total) if n_total else (0, None)))
                break
            big = None  # every (forest, "") group is oversized
            dividing, n_big = forests, len(forests)
        else:
            counts = data.groupBy("forest", "path").count()
            gate = (
                counts.groupBy("forest")
                .agg(
                    F.count(F.when(F.col("count") >= alpha, 1)).alias("n_big"),
                    F.count(F.lit(1)).alias("n_leaves"),
                    F.max("count").alias("max_leaf"),
                )
                .collect()
            )
            dividing = [r["forest"] for r in gate if r["n_big"]]
            for r in gate:
                if not r["n_big"] and r["forest"] not in stats:
                    _done(r["forest"], division - 1, r["n_leaves"], r["max_leaf"])
            n_big = sum(r["n_big"] for r in gate)
            if n_big == 0:
                break
            big = counts.filter(F.col("count") >= alpha).select("forest", "path")
        # seeded ρ-sample per oversized group (reference
        # centroid_sampling_2, mrdf.py:75-121); forest i's round seed
        # is seed + 1_000_003·i + 1_009·division
        round_seed = F.lit(seed + 1_009 * division) + F.col("forest").cast(
            "long"
        ) * F.lit(1_000_003)
        cents = _sample_centroids(data, vecs, big, rho, round_seed)
        if n_big > centroid_broadcast_max_paths:
            # too many oversized groups for a driver-side dict — keep
            # centroids distributed (join + min_by). Lazy checkpoint:
            # the next round's gate count materializes it — no
            # dedicated job.
            for f in dividing:
                join_tier_rounds[f] += 1
            data = checkpoint(_extend_by_join(data, cents))
            continue
        cmap: dict[tuple[int, str], list] = {}
        for r in sorted(cents.collect(), key=lambda r: (r["forest"], r["path"], r["rn"])):
            cmap.setdefault((r["forest"], r["path"]), []).append(r["vec"])
        bc = sc.broadcast({key: np.array(v, dtype=np.float64) for key, v in cmap.items()})

        def _extend(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cm = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                out_paths = pdf["path"].to_numpy(copy=True)
                vec_col = pdf["vec"].to_numpy()
                # one lookup per (forest, path) group present in the
                # batch — not a scan of the whole centroid dict
                groups = pdf.groupby(["forest", "path"], sort=False).indices
                for key, rows in groups.items():
                    cents_m = cm.get(key)
                    if cents_m is None:
                        continue
                    vecs_m = np.stack(vec_col[rows]).astype(np.float64)
                    # nearest-centroid argmin (reference
                    # tree_path_extension map fn, mrdf.py:130-146),
                    # vectorized over the group's rows in the batch
                    child = pairwise_l2_sq(vecs_m, cents_m).argmin(axis=1)
                    out_paths[rows] = [f"{key[1]},{c}" for c in child]
                pdf["path"] = out_paths
                yield pdf

        # lazy checkpoint: materialized by the NEXT action that touches
        # data (round r+1's gate aggregate, or the leaf stage after the
        # loop breaks) — no dedicated materialization job
        data = checkpoint(data.mapInPandas(_extend, data.schema))

    # ---- local NN-Descent per ≤α subset ------------------------------
    def _local(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        forest, path = int(key[0]), key[1]
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        rng = np.random.default_rng((seed, forest, zlib.crc32(path.encode("utf8"))))
        out = nn_descent(ids, mat, k_work, rng=rng).drop(columns="rnk")
        out.insert(0, "forest", forest)
        return out

    edges = data.groupBy("forest", "path").applyInPandas(_local, WAVE_EDGE_SCHEMA)
    return edges, stats


def _prefix_topk(
    g_prev: DataFrame | None, edges: DataFrame, forests: list[int], k_work: int
) -> tuple[DataFrame, dict[int, tuple[int, int]]]:
    """Every merged graph and changed-edge count of one wave, in one
    pass.

    Forest 0 is the running graph ``g_prev`` (None on the first wave);
    ``edges`` holds the wave's forests ``forests``. g_t, the graph
    after merging forest t, is the top-``k_work`` edges per src, ranked
    by (dist_sq, dst), of forests 0..t. Top-k of a union is the same
    however the union is bracketed, so this equals the one-forest-at-
    a-time chain g_t = top-k(dedup(g_{t−1} ∪ f_t)) (reference
    graph_update, mrdf.py:155-179). Later forests only add competitors,
    so an edge that falls out of the top-k never returns: edge e is in
    g_t exactly for t0(e) ≤ t < out(e), where t0 is the first forest
    that holds e and out the first forest after which more than
    k_work edges with t0 ≤ t rank at or above it. e is in g_t but not
    in g_{t−1} exactly when t == t0(e), which gives every changed-edge
    ratio (reference mrdf.py:161-179) from the same table.

    Duplicate pairs keep the earliest forest's ``dist_sq``. Every leaf
    computes a pair's distance with the same per-pair exact re-rank
    arithmetic (``l2_topk_candidates``), so all copies carry the same
    value and this equals the chain's ``dropDuplicates`` merge.

    Returns ``(merged, counts)``: ``merged`` (src, dst, dist_sq, t0,
    out) is lazily checkpointed and materialized by the one aggregate
    that returns ``counts[t] = (changed_t, total_t)`` — the pass's only
    action; ``_graph_at`` selects g_t from it."""
    cand = edges.select("forest", "src", "dst", "dist_sq")
    if g_prev is not None:
        cand = g_prev.select(
            F.lit(0).cast("int").alias("forest"), "src", "dst", "dist_sq"
        ).unionByName(cand)
    # one exchange on src serves both the (src, dst) dedup and the
    # per-src window (hash(src) already clusters every (src, dst))
    first = (
        cand.repartition("src")
        .groupBy("src", "dst")
        .agg(
            F.min("forest").alias("t0"),
            F.min_by("dist_sq", "forest").alias("dist_sq"),
        )
    )
    upto = (
        Window.partitionBy("src")
        .orderBy("dist_sq", "dst")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = F.least(
        *[
            F.when(F.sum((F.col("t0") <= t).cast("int")).over(upto) > k_work, F.lit(t))
            for t in forests
        ],
        F.lit(forests[-1] + 1),
    )
    merged = checkpoint(first.select("src", "dst", "dist_sq", "t0", out.alias("out")))
    aggs = []
    for t in forests:
        in_t = (F.col("t0") <= t) & (F.col("out") > t)
        aggs.append(F.count(F.when(in_t, 1)).alias(f"total_{t}"))
        aggs.append(F.count(F.when(in_t & (F.col("t0") == t), 1)).alias(f"changed_{t}"))
    row = merged.agg(*aggs).collect()[0]
    return merged, {t: (row[f"changed_{t}"], row[f"total_{t}"]) for t in forests}


def _graph_at(merged: DataFrame, t: int) -> DataFrame:
    """g_t — the merged graph after forest t — from ``_prefix_topk``."""
    return merged.filter((F.col("t0") <= t) & (F.col("out") > t)).select(
        "src", "dst", "dist_sq"
    )


def _sample_centroids(
    data: DataFrame,
    vecs: DataFrame,
    big: DataFrame | None,
    rho: int,
    round_seed: Column,
) -> DataFrame:
    """Seeded top-ρ-by-(r, id) sample per oversized (forest, path)
    group; ``big`` lists the groups (None: every group is oversized),
    ``vecs`` maps id → vec.

    One ``row_number() ≤ ρ`` window over (forest, path; r, id).
    Catalyst plans the rank limit map-side, so no task sorts a whole
    ≥α group: a partial ``WindowGroupLimit`` runs below the
    ``Exchange`` and only ≤ ρ rows per group per partition are shuffled
    — the reference's mapPartitions partial reservoir
    (mrdf.py:101-121), done by the JVM. top-ρ by a total order is
    associative, so partial+final is exact."""
    # The sampling decision needs only (forest, path, id, r): the
    # winners' vectors — ≤ ρ per big group — are joined back at the
    # end, inside the same plan. r is a PORTABLE uniform — first 8 md5
    # hex chars of (id, round seed) — not F.rand, whose per-partition
    # seeding makes the draw depend on the physical partition layout
    # (different cluster size ⇒ different forest ⇒ different graph).
    if big is not None:
        data = data.join(F.broadcast(big), ["forest", "path"])
    cand = data.select(
        "forest",
        "path",
        "id",
        (
            F.conv(
                F.substring(F.md5(F.concat_ws(":", F.col("id"), round_seed)), 1, 8),
                16,
                10,
            ).cast("bigint")
            / F.lit(4294967296.0)
        ).alias("r"),
    )
    w = Window.partitionBy("forest", "path").orderBy("r", "id")
    winners = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= rho)
        .select("forest", "path", "rn", "id")
    )
    return winners.join(vecs, "id").select("forest", "path", "rn", "vec")


def _extend_by_join(data: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid path extension with DISTRIBUTED centroids —
    the large-group-count tier of the division step.

    ``data ⋈ cents`` on (forest, path) fans each oversized-group row
    out to its ρ centroid candidates (ρ·n rows — linear, ρ is 4..16);
    ``min_by`` keeps the nearest (tie → lowest centroid index, matching
    the dict tier's argmin). Rows whose group is not oversized have no
    centroid rows and pass through via the left join. The driver never
    touches a vector; Catalyst/AQE picks broadcast vs shuffle for the
    centroid side from its actual size."""
    from pyspark_mrdf_spark.functions.vector import l2_sq

    scored = data.join(
        cents.select("forest", "path", "rn", F.col("vec").alias("cvec")),
        ["forest", "path"],
    ).select("forest", "id", "path", "rn", l2_sq("vec", "cvec").alias("d2"))
    best = scored.groupBy("forest", "id").agg(
        F.min_by(F.struct("path", "rn"), F.struct("d2", "rn")).alias("b")
    )
    newp = best.select(
        "forest",
        "id",
        F.concat(
            F.col("b.path"), F.lit(","), (F.col("b.rn") - 1).cast("string")
        ).alias("_newp"),
    )
    return (
        data.join(newp, ["forest", "id"], "left")
        .withColumn("path", F.coalesce("_newp", "path"))
        .select(data.columns)
    )


def _refine_grid(
    n_rows: int, dim: int, pairs_est: float, parallelism: int
) -> tuple[int, int]:
    """(Ba, Bb) cell grid for ``_refine``: square grid sized so that
    BOTH per-cell working sets are bounded — the pair stream
    (``pairs_est·16 B / cells ≤ ~64 MB``) and the two vector slices a
    cell task gathers from (``(n/Ba + n/Bb)·d·8 B ≤ ~32 MB``) — with
    at least ``parallelism`` cells so the distance compute fans out
    even on small inputs. Both bounds shrink as the grid grows, so a
    1000-executor cluster at 100× the data just gets a wider grid."""
    cells_pairs = -(-int(pairs_est) * 16 // (64 << 20))
    side = 1
    cells = max(1, cells_pairs, parallelism)
    while side * side < cells:
        side += 1
    side = max(side, int(-(-(2 * n_rows * dim * 8) // (32 << 20))))
    return (side, side)


def _murmur3_int(x: int, seed: int = 42) -> int:
    """Spark's ``hash`` of an int value: Murmur3_x86_32 ``hashInt``
    with Spark's seed 42, as a signed 32-bit int."""

    def rotl(v: int, r: int) -> int:
        return ((v << r) | (v >> (32 - r))) & 0xFFFFFFFF

    k = rotl((x & 0xFFFFFFFF) * 0xCC9E2D51 & 0xFFFFFFFF, 15) * 0x1B873593 & 0xFFFFFFFF
    h = (rotl(seed ^ k, 13) * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # input length in bytes
    h ^= h >> 16
    h = h * 0x85EBCA6B & 0xFFFFFFFF
    h ^= h >> 13
    h = h * 0xC2B2AE35 & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


def _cell_keys(cells: int, parts: int) -> list[int]:
    """Shuffle key of each ``_refine`` grid cell, chosen so that hash
    partitioning into ``parts`` partitions spreads the cells
    round-robin.

    Spark sends int key x to partition pmod(hash(x), parts). The cell
    index itself is a poor key: Murmur3 puts 0..3 in partitions
    {3, 3, 2, 3} of 4, so three distance cells of a 2×2 grid would run
    one after another in one task. Cell c instead takes the smallest
    unused int whose partition is c mod parts: the cells occupy
    min(cells, parts) partitions and none holds more than
    ⌈cells/parts⌉. The hash is computed in Python (``_murmur3_int``,
    checked against ``F.hash`` by the law test): a job-free ``hash``
    projection over an inline VALUES table costs ~0.5 s as a process's
    first ``spark.sql`` call (parser start-up, measured on a 4-core
    box), this ~1 ms. Cells, pairs and distances are unchanged: only
    the label a cell travels under moves."""
    free: dict[int, list[int]] = {}
    x = 0
    while any(len(free.get(p, ())) < -(-(cells - p) // parts) for p in range(min(cells, parts))):
        free.setdefault(_murmur3_int(x) % parts, []).append(x)
        x += 1
    return [free[c % parts][c // parts] for c in range(cells)]


def _refine(base: DataFrame, g: DataFrame, k: int, grid: tuple[int, int]) -> DataFrame:
    """One neighbor-of-neighbor refinement round (deterministic).

    Candidate pairs = distinct 2-hop pairs of ``g`` not already edges.
    Distances run per GRID CELL of ``grid`` = (Ba, Bb), which
    ``knn_graph`` sizes with ``_refine_grid``: pair (a, b) lands in cell
    (hash(a) mod Ba, hash(b) mod Bb), and each cell task receives two
    DETERMINISTIC vector slices — the rows with hash(id) mod Ba = i
    (possible a-operands) plus the rows with hash(id) mod Bb = j
    (possible b-operands) — and gathers operands locally by index.

    Why a grid (r14) and not the r13 per-src-hash blocks that shipped
    ONE FULL vector-table copy per block: with working degree κ the
    2-hop pair list references ~n·(2κ)² ids, so at κ=20 every
    per-src block's referenced-id set saturates at ~n (coupon
    collector) — a pair-id semi-join would still ship nearly the whole
    table to every block AND read the expensive 2-hop distinct twice.
    The measured consequence of full replication was the r13 500k
    mixture point's 76.4 GiB box-wide peak, owned by exactly this
    window (SCALABILITY.json per-phase attribution). The grid bounds
    the per-task vector slice at (n/Ba + n/Bb) rows BY CONSTRUCTION,
    ships each vector to exactly Ba + Bb cells (total (Ba+Bb)·n·d
    bytes vs B·n·d replicated — strictly less for B ≥ 4), consumes
    the 2-hop distinct once, and needs no extra sizing job. The
    per-pair-join variant remains worse than either: |pairs|·2d floats
    through the shuffle, and |pairs| dwarfs n.

    Per-pair arithmetic — gather a, gather b, subtract, row-wise
    einsum per fixed-size chunk — is IDENTICAL under any grid, so
    distances are bit-identical to any other blocking (pinned by
    test_refine_grid_invariance_bit_identical).

    Dataflow: the JVM ships GRAPH ROWS, not 2-hop pairs. Pair (a, b)
    from a → mid → b belongs to cell (hash(a) mod Ba, hash(b) mod Bb),
    so a cell needs every edge a → mid whose a is in its a-slice
    (A-rows, each edge sent to all Bb cells of its a-row) and every
    (mid, b) hop, both directions of g, whose b is in its b-slice
    (B-rows, each sent to all Ba cells of its b-column). The kernel
    expands the cell's 2-hop pairs itself — B-rows sorted by mid, each
    A-row repeated over its mid's range — which yields exactly the
    pairs a JVM join would have routed there, multiplicity included.
    Every copy of a pair lands in the same cell, so dedup and
    known-edge suppression run cell-locally too: a global distinct or
    anti-join over the pair stream is a corpus-pair-sized hash
    aggregate, the shape that exhausted JVM execution memory at
    n=500k.
    Rows shipped: n·κ·(Bb + 2·Ba). A JVM 2-hop join reads 3·n·κ rows
    and then shuffles and Arrow-ships ≈ n·(2κ)² pair rows, so this
    form ships fewer rows while 3·side < 4κ + 3 on a square grid —
    side ≤ 27 at κ = 20 (``_refine_grid`` reaches that only around
    n ≈ 1M at d = 64, or ≥ 729 cores). Per-cell kernel memory is
    unchanged: the cell's raw pairs were already held in the kernel."""
    vecs = base.select("id", "vec")
    ba, bb = grid
    cells = ba * bb
    # cell i·Bb + j travels under shuffle key keys[i·Bb + j], one cell
    # per partition of an explicitly sized exchange: AQE would coalesce
    # the cells by their bytes onto fewer tasks, and each cell is a
    # distance kernel
    keys = F.array(*[F.lit(x) for x in _cell_keys(cells, cells)])

    def _cells(col: str, a_side: bool):
        # every cell on the grid row (a_side) or column of ``col``'s id
        if a_side:
            h = F.pmod(F.hash(col), F.lit(ba))
            return F.transform(
                F.sequence(F.lit(0), F.lit(bb - 1)), lambda j: keys[h * bb + j]
            )
        h = F.pmod(F.hash(col), F.lit(bb))
        return F.transform(
            F.sequence(F.lit(0), F.lit(ba - 1)), lambda i: keys[i * bb + h]
        )

    def _graph_rows(kind: int, u: str, v: str) -> DataFrame:
        return g.select(
            F.explode(_cells(u, True) if kind == 0 else _cells(v, False)).alias("blk"),
            F.lit(kind).cast("tinyint").alias("kind"),
            F.col(u).alias("u"),
            F.col(v).alias("v"),
        )

    # A-rows (kind 0): edge a → mid as (u=src, v=dst), to a's grid row.
    # B-rows (kind 1): hop mid → b over both directions of g, as
    # (u=mid, v=b), to b's grid column.
    rows_b = (
        _graph_rows(0, "src", "dst")
        .unionByName(_graph_rows(1, "src", "dst"))
        .unionByName(_graph_rows(1, "dst", "src"))
    )
    vecs_b = vecs.withColumn(
        "blk",
        F.explode(F.array_distinct(F.concat(_cells("id", True), _cells("id", False)))),
    )

    def _dist_block(key: tuple, rows: pd.DataFrame, vv: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"src": [], "dst": [], "dist_sq": []}).astype(
            {"src": np.int64, "dst": np.int64, "dist_sq": np.float64}
        )
        if len(rows) == 0 or len(vv) == 0:
            return empty
        is_a = rows["kind"].to_numpy() == 0
        u = rows["u"].to_numpy(dtype=np.int64)
        v = rows["v"].to_numpy(dtype=np.int64)
        e_src, e_dst = u[is_a], v[is_a]
        mid, hop = u[~is_a], v[~is_a]
        if len(e_src) == 0 or len(mid) == 0:
            return empty
        # 2-hop expansion: each A-row (a → mid) pairs with every B-row
        # of its mid — the JVM 2-hop join, run on this cell's rows only
        by_mid = np.argsort(mid, kind="stable")
        mid, hop = mid[by_mid], hop[by_mid]
        lo = np.searchsorted(mid, e_dst, "left")
        cnt = np.searchsorted(mid, e_dst, "right") - lo
        a = np.repeat(e_src, cnt)
        b = hop[np.arange(len(a)) + np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)]
        keep = a != b
        a, b = a[keep], b[keep]
        ids = vv["id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        sorted_ids = ids[order]
        nv = len(sorted_ids)
        # cell-local dedup + known-edge suppression: key each pair by
        # its dense position in the cell's sorted ids (a bijection on
        # the ids present, so key order is (a, b) order). Known edges
        # are keyed only when dst is present in vv: a candidate's b
        # always is, and an absent dst would collide with another id.
        keys = np.unique(
            np.searchsorted(sorted_ids, a) * nv + np.searchsorted(sorted_ids, b)
        )
        pe = np.searchsorted(sorted_ids, e_dst)
        present = sorted_ids[np.minimum(pe, nv - 1)] == e_dst
        known = np.searchsorted(sorted_ids, e_src[present]) * nv + pe[present]
        keys = keys[~np.isin(keys, known)]
        if len(keys) == 0:
            return empty
        pa, pb = np.divmod(keys, nv)
        a, b = sorted_ids[pa], sorted_ids[pb]
        ia, ib = order[pa], order[pb]
        mat = np.stack(vv["vec"].to_numpy()).astype(np.float64)
        # CHUNK the pair stream: an unchunked `mat[ia] - mat[ib]` is an
        # O(pairs_per_block · d) float64 tensor — measured 12-14 GB PER
        # TASK at n=300k (2-hop pairs ≈ n·(2k)² dwarf n; this, not the
        # leaf kernel at 0.8 GB, was the kernel-OOM that killed every
        # 300k attempt). Per-chunk gathers cap the transient at
        # ~3·CHUNK·d·8 B ≈ 0.8 GB while the per-pair arithmetic — two
        # gathers, one subtract, one einsum — is IDENTICAL, so
        # distances stay bit-equal to the unchunked form.
        CHUNK = 500_000
        d2_parts = []
        for s in range(0, len(a), CHUNK):
            diff = mat[ia[s : s + CHUNK]] - mat[ib[s : s + CHUNK]]
            d2_parts.append(np.einsum("ij,ij->i", diff, diff))
        return pd.DataFrame(
            {"src": a, "dst": b, "dist_sq": np.concatenate(d2_parts)}
        )

    scored = (
        rows_b.repartition(cells, "blk")
        .groupBy("blk")
        .cogroup(vecs_b.repartition(cells, "blk").groupBy("blk"))
        .applyInPandas(_dist_block, "src long, dst long, dist_sq double")
    )
    # scored is unique per (src, dst) and DISJOINT from g by
    # construction (cell-local dedup + edge suppression above), so no
    # dropDuplicates is needed
    return topk_merge(g.unionByName(scored), k).drop("rnk")


def format_adjacency(g: DataFrame) -> DataFrame:
    """Adjacency-list output contract of the reference
    (format_g, mrdf.py:199-203): (id, [neighbor ids ascending by
    distance]) sorted by id."""
    return (
        g.withColumn("nb", F.struct("dist_sq", "dst"))
        .groupBy(F.col("src").alias("id"))
        .agg(
            F.transform(F.array_sort(F.collect_list("nb")), lambda s: s["dst"]).alias(
                "neighbors"
            )
        )
        .orderBy("id")
    )
