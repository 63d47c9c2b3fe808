"""MRDF — Multiway Random Division Forest (Kim & Park, KDD 2023) —
approximate k-NN graph construction, Spark-DataFrame-native.

Re-expresses reference mrdf.py:13-72 with the architecture fixes from
SURVEY.md §3.1/§4.1. Per outer iteration:

 1. **Random division** (reference centroid_sampling_2 /
    tree_path_extension, mrdf.py:75-146): every vector carries a
    ``path`` string; while any path holds ≥ α vectors, sample ρ
    centroids per oversized path (seeded window-rank sample — the
    partial+final aggregation the reference hand-rolled), broadcast
    the tiny centroid table, and extend each vector's path with the
    index of its nearest centroid (vectorized argmin in mapInPandas).
 2. **Local graph construction** (reference local_graph_construction,
    mrdf.py:148-153 — which collected EVERY subset to the driver and
    looped; the documented "hangs on a cluster" cause, README.md:77):
    here ``groupBy(path).applyInPandas`` runs the NN-Descent kernel
    once per ≤α subset, executor-local, in parallel.
 3. **Graph merge** (reference graph_update, mrdf.py:155-179):
    union previous graph + per-subset graphs, keep k best per node —
    a window top-k on the edge table, not a driver round-trip.
 4. **Convergence**: changed-edge ratio ≤ τ, computed with one
    anti-join aggregate (reference join + per-row set diff,
    mrdf.py:162-179). ``localCheckpoint`` truncates lineage where the
    reference did ``sc.parallelize(rdd.collect())`` (mrdf.py:159).

Driver boundary crossings per iteration: one small centroid collect
per division round + one scalar count — vs the reference's ≥6 full
dataset round-trips.

Determinism: all randomness is derived from (seed, iteration,
division round, path, id) — same seed ⇒ identical graph, which the
reference could not guarantee (unseeded executor randomness,
utilities.py:27). Centroid sampling draws its uniform from
md5(id, round seed) — the repo-wide portable-uniform discipline — so
the graph is identical on ANY partition layout / cluster size
(``F.rand`` seeds per partition index: its draws silently change when
the input is split differently, which is exactly the kind of layout
dependence a 1000-executor deployment cannot carry).
"""

from __future__ import annotations

import time
import warnings
import zlib
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pyspark_mrdf_spark.algorithms.nndescent import nn_descent
from pyspark_mrdf_spark.functions.vector import pairwise_l2_sq

EDGE_SCHEMA = StructType(
    [
        StructField("src", LongType(), False),
        StructField("dst", LongType(), False),
        StructField("dist_sq", DoubleType(), False),
    ]
)

# Above this many oversized paths per division round, the centroid
# tables stay distributed (join + min_by assignment) instead of being
# collected into a driver dict: the dict is O(ρ·paths·d) — with
# n = 10¹² vectors and α = 600 that is ~50 GB on the driver. Below it,
# the dict broadcast wins (one Python lookup per batch, no fan-out
# join). 4096 paths ≈ ρ·4096 centroid vectors ≈ a few MB: safely small.
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
    nnd_sample_rate: float = 1.0,
    nnd_precision: float = 0.001,
    refine_rounds: int = 1,
    metrics_out: list | None = None,
    centroid_broadcast_max_paths: int = CENTROID_BROADCAST_MAX_PATHS,
    unconverged_warn_ratio: float | None = None,
    auto_escalate: bool = True,
    auto_escalate_ratio: float | None = None,
) -> DataFrame:
    """Approximate k-NN graph: edge DataFrame (src, dst, dist_sq),
    ≤ k edges per src. Signature mirrors reference mrdf.py:13
    (k, rho, alpha, tau, seed, max_iter) on DataFrame footing.

    Choosing α at scale: leaves up to ``nndescent.EXACT_BLOCK_MAX``
    (4096) solve EXACTLY with one BLAS gemm (milliseconds); up to
    ``TILED_EXACT_MAX`` (32768) the tiled exact kernel keeps the same
    result with one 4096² tile pair in memory at a time (n=8000:
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
    while the last measured ratio exceeds ``auto_escalate_ratio``
    (default ``max(4·unconverged_warn_ratio, 0.2)`` — deliberately
    ABOVE the warn threshold: severely-unconverged runs measure
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
    ``max_iter=0``) wherever that guarantee matters (advisor r11)."""
    spark = df.sparkSession
    sc = spark.sparkContext
    # materialize the working set once: spread a possibly-few-files
    # input over the cluster (single-file tables otherwise run every
    # division map on one task) and cut the re-scan per iteration
    base = (
        df.select(F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec"))
        .repartition(sc.defaultParallelism)
        .localCheckpoint(eager=False)
    )
    # one count on the (lazily) checkpointed base both materializes it
    # and replaces the first division gate of EVERY iteration: at
    # division 1 all rows share the root path "", so "any path ≥ α?"
    # is just n_total ≥ α — no extra job for either.
    n_total = base.count()
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
        dim = len(base.select("vec").first()["vec"])
        ideal = max(1, min(sc.defaultParallelism, -(-(n_total * dim * 8) // (32 << 20))))
        if ideal < sc.defaultParallelism:
            base = base.coalesce(ideal)
        # refine grid: pair mass is ~n·(2·k_work)² (the 2-hop fan-out
        # of a k_work-wide graph) — size the cell grid from BOTH the
        # pair stream and the per-cell vector slices (see _refine_grid)
        refine_grid = _refine_grid(
            n_total, dim, n_total * (2 * k_work) ** 2, sc.defaultParallelism
        )

    def _build_forest_graph(iteration: int) -> tuple[DataFrame, int, dict | None]:
        """Division + per-subset NN-Descent for one iteration: the
        random forest's local k-NN graph, materialized. Depends only on
        (base, seed, iteration) — NOT on the running merged graph — so
        successive iterations' forests can build concurrently."""
        data = base.withColumn("path", F.lit(""))

        # ---- division: split every ≥α subset into ρ children --------
        division = 0
        join_tier_rounds = 0
        while True:
            division += 1
            # loop gate: any path still ≥ α? One cheap JVM aggregate —
            # deliberately NOT fused into the sampling plan: the gate
            # runs once more than the sampler (the final "all small"
            # round), and a fused plan would pay the sampling window on
            # every gate evaluation. The same aggregate returns
            # the leaf stats (path count, largest path), so the final
            # "all small" gate already knows them. Division 1 needs no
            # job at all: every row still carries the root path "", so
            # the gate is just n_total ≥ α.
            if division == 1:
                if n_total < alpha:
                    n_leaves, max_leaf = (1, n_total) if n_total else (0, None)
                    break
                big = spark.createDataFrame([("",)], "path string")
                n_big = 1
            else:
                counts = data.groupBy("path").count()
                gate = counts.agg(
                    F.count(F.when(F.col("count") >= alpha, 1)).alias("n_big"),
                    F.count(F.lit(1)).alias("n_leaves"),
                    F.max("count").alias("max_leaf"),
                ).collect()[0]
                n_big = gate["n_big"]
                if n_big == 0:
                    n_leaves, max_leaf = gate["n_leaves"], gate["max_leaf"]
                    break
                big = counts.filter(F.col("count") >= alpha).select("path")
            # seeded ρ-sample per oversized path (reference
            # centroid_sampling_2, mrdf.py:75-121)
            rand_seed = seed + 1_000_003 * iteration + 1_009 * division
            cents = _sample_centroids(data, big, rho, rand_seed)
            if n_big > centroid_broadcast_max_paths:
                # too many oversized paths for a driver-side dict —
                # keep centroids distributed (join + min_by). Lazy
                # checkpoint: the next round's gate count materializes
                # it — no dedicated job.
                join_tier_rounds += 1
                data = _extend_by_join(data, cents).localCheckpoint(eager=False)
                continue
            cent_rows = cents.collect()
            cmap: dict[str, np.ndarray] = {}
            for r in sorted(cent_rows, key=lambda r: (r["path"], r["rn"])):
                cmap.setdefault(r["path"], []).append(r["vec"])
            cmap = {p: np.array(v, dtype=np.float64) for p, v in cmap.items()}
            bc = sc.broadcast(cmap)

            def _extend(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                cm = bc.value
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    paths = pdf["path"].to_numpy()
                    out_paths = paths.copy()
                    for p, cents_m in cm.items():
                        mask = paths == p
                        if not mask.any():
                            continue
                        vecs = np.stack(pdf.loc[mask, "vec"].to_numpy()).astype(np.float64)
                        # nearest-centroid argmin (reference
                        # tree_path_extension map fn, mrdf.py:130-146),
                        # vectorized over the whole Arrow batch
                        d2 = pairwise_l2_sq(vecs, cents_m)
                        child = d2.argmin(axis=1)
                        out_paths[mask] = np.array([f"{p},{c}" for c in child])
                    pdf = pdf.copy()
                    pdf["path"] = out_paths
                    yield pdf

            # lazy checkpoint: materialized by the NEXT action that
            # touches data (round r+1's gate count, or the local
            # NN-Descent stage after the loop breaks) — fusing the
            # former dedicated materialization job into it
            data = data.mapInPandas(_extend, data.schema).localCheckpoint(eager=False)

        # ---- local NN-Descent per ≤α subset -------------------------
        def _local(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            path = key[0]
            ids = pdf["id"].to_numpy(dtype=np.int64)
            mat = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            rng = np.random.default_rng(
                (seed, iteration, zlib.crc32(path.encode("utf8")))
            )
            edges = nn_descent(
                ids,
                mat,
                k_work,
                sample_rate=nnd_sample_rate,
                precision=nnd_precision,
                rng=rng,
            )
            return pd.DataFrame(edges, columns=["src", "dst", "dist_sq"])

        # tier-activation evidence for the run artifact: leaf-size stats
        # prove which NN-Descent kernel the leaves took (≤4096 exact
        # gemm, ≤32768 tiled exact, else iterative), join_tier_rounds
        # proves the distributed centroid path ran
        forest_stats = None
        if metrics_out is not None:
            forest_stats = {
                "n_leaves": n_leaves,
                "max_leaf": max_leaf,
                "join_tier_rounds": join_tier_rounds,
            }
        g_prime = data.groupBy("path").applyInPandas(_local, EDGE_SCHEMA)
        return g_prime.localCheckpoint(eager=True), division - 1, forest_stats

    # Forest pipelining: iteration i's forest depends only on
    # (seed, i), never on the running merged graph, so future forests
    # build on background threads while the main thread merges and
    # checks convergence (driver-latency-bound window/aggregate jobs).
    # With a known iteration cap the lookahead is 2 — iterations i+1
    # and i+2 build concurrently, overlapping each other's small-job
    # driver latency; open-ended τ-only runs keep lookahead 1. Every
    # value computed is identical to the sequential schedule; on early
    # τ-stop at most ``lookahead`` speculative forests are discarded
    # (bounded waste).
    lookahead = 2 if max_iter else 1
    executor = ThreadPoolExecutor(max_workers=lookahead)
    if unconverged_warn_ratio is None:
        unconverged_warn_ratio = max(5 * tau, 0.05)
    if auto_escalate_ratio is None:
        auto_escalate_ratio = max(4 * unconverged_warn_ratio, 0.2)
    last_ratio: float | None = None  # most recent MEASURED ratio
    max_iter_eff = max_iter  # doubled once if auto-escalation fires
    escalated = False
    try:
        g: DataFrame | None = None
        iteration = 0
        futures: dict = {}
        next_to_submit = 1

        def _submit_through(target: int) -> None:
            nonlocal next_to_submit
            while next_to_submit <= target and (
                not max_iter_eff or next_to_submit <= max_iter_eff
            ):
                futures[next_to_submit] = executor.submit(
                    _build_forest_graph, next_to_submit
                )
                next_to_submit += 1

        _submit_through(1 + lookahead)
        while True:
            iteration += 1
            iter_t0 = time.monotonic()
            g_prime, divisions, forest_stats = futures.pop(iteration).result()
            stop_by_iter = bool(max_iter_eff) and iteration >= max_iter_eff
            if not stop_by_iter:
                _submit_through(iteration + lookahead)

            # ---- merge: keep k best per node (reference
            # graph_update_map top-k merge, mrdf.py:166-170, as a
            # window) ---------------------------------------------------
            if g is None:
                g_new = g_prime
            else:
                unioned = g.unionByName(g_prime).dropDuplicates(["src", "dst"])
                wk = Window.partitionBy("src").orderBy("dist_sq", "dst")
                g_new = (
                    unioned.withColumn("rn", F.row_number().over(wk))
                    .filter(F.col("rn") <= k_work)
                    .drop("rn")
                )
                # merge+convergence fused into ONE action: when the
                # convergence aggregate below runs, its collect
                # materializes the lazy checkpoint; only a max_iter
                # stop (no aggregate) needs the eager materialization
                g_new = g_new.localCheckpoint(eager=stop_by_iter)

            # ---- convergence: changed-edge ratio ≤ τ (reference
            # mrdf.py:161-179; total and changed counted in ONE
            # aggregate over a left join instead of two count jobs).
            # Skipped when the iteration cap already ends the loop —
            # the ratio would gate nothing. ----------------------------
            if g is not None and not stop_by_iter:
                stats = (
                    g_new.join(
                        g.select("src", "dst").withColumn("_old", F.lit(1)),
                        ["src", "dst"],
                        "left",
                    )
                    .agg(
                        F.count(F.lit(1)).alias("total"),
                        F.sum(
                            F.when(F.col("_old").isNull(), 1).otherwise(0)
                        ).alias("changed"),
                    )
                    .collect()[0]
                )
                ratio = (stats["changed"] or 0) / max(stats["total"], 1)
                last_ratio = ratio  # a MEASURED ratio (not iteration 1's
                # definitional 1.0) — the under-convergence signal below
                # only fires on real evidence
            elif g is None:
                ratio = 1.0
            else:
                ratio = None  # not computed: max_iter stop
            g = g_new
            # per-iteration run metrics (reference S10
            # write_out_mrdf_details, mrdf.py:217-226 — minus its extra
            # full count job just to name the output file): driver-side
            # list, caller decides the sink.
            if metrics_out is not None:
                metrics_out.append(
                    {
                        "iteration": iteration,
                        "divisions": divisions,
                        "changed_ratio": None if ratio is None else round(ratio, 6),
                        "seconds": round(time.monotonic() - iter_t0, 3),
                        "k": k,
                        "rho": rho,
                        "alpha": alpha,
                        "tau": tau,
                        "seed": seed,
                        **(forest_stats or {}),
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
                _submit_through(iteration + lookahead)
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
                # skips the aggregate), i.e. the signal is free.
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
                break
    finally:
        # cancel queued speculative forests on early τ-stop; RUNNING
        # ones finish orphaned (Spark jobs aren't interruptible here)
        # — never more than ``lookahead`` of them, so the waste stays
        # bounded by the pipelining depth
        executor.shutdown(wait=False, cancel_futures=True)

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
        g = g.localCheckpoint(eager=not last)
    if refine_rounds:
        return g

    wk = Window.partitionBy("src").orderBy("dist_sq", "dst")
    return (
        g.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _sample_centroids(
    data: DataFrame, big: DataFrame, rho: int, rand_seed: int
) -> DataFrame:
    """Seeded top-ρ-by-(r, id) sample per oversized path.

    One ``row_number() ≤ ρ`` window over (path; r, id). Catalyst plans
    the rank limit map-side, so no task sorts a whole ≥α group: on the
    root path (division 1, where the constant path folds into an empty
    partition spec) the plan is a ``TakeOrderedAndProject(limit=ρ)``
    that keeps ρ rows per partition before its single-partition merge;
    on several paths a partial ``WindowGroupLimit`` runs below the
    ``Exchange`` and only ≤ ρ rows per path per partition are shuffled
    — the reference's mapPartitions partial reservoir
    (mrdf.py:101-121), done by the JVM. top-ρ by a total order is
    associative, so partial+final is exact."""
    # The sampling decision needs only (path, id, r): the winners'
    # vectors — ≤ ρ per big path — are joined back at the end, inside
    # the same plan. r is a PORTABLE uniform — first 8 md5 hex chars of
    # (id, round seed) — not F.rand, whose per-partition seeding makes
    # the draw depend on the physical partition layout (different
    # cluster size ⇒ different forest ⇒ different graph).
    cand = data.join(F.broadcast(big), "path").select(
        "path",
        "id",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("id"), F.lit(int(rand_seed)))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            / F.lit(4294967296.0)
        ).alias("r"),
    )
    w = Window.partitionBy("path").orderBy("r", "id")
    winners = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= rho)
        .select("path", "rn", "id")
    )
    return winners.join(data.select("id", "vec"), "id").select("path", "rn", "vec")


def _extend_by_join(data: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid path extension with DISTRIBUTED centroids —
    the large-path-count tier of the division step.

    ``data ⋈ cents`` on path fans each oversized-path row out to its ρ
    centroid candidates (ρ·n rows — linear, ρ is 4..16); ``min_by``
    keeps the nearest (tie → lowest centroid index, matching the dict
    tier's argmin). Rows whose path is not oversized have no centroid
    rows and pass through via the left join. The driver never touches
    a vector; Catalyst/AQE picks broadcast vs shuffle for the centroid
    side from its actual size."""
    from pyspark_mrdf_spark.functions.vector import l2_sq

    scored = data.join(
        cents.select("path", "rn", F.col("vec").alias("cvec")), "path"
    ).select(
        "id", "path", "rn", l2_sq("vec", "cvec").alias("d2")
    )
    best = scored.groupBy("id").agg(
        F.min_by(F.struct("path", "rn"), F.struct("d2", "rn")).alias("b")
    )
    newp = best.select(
        "id",
        F.concat(
            F.col("b.path"), F.lit(","), (F.col("b.rn") - 1).cast("string")
        ).alias("_newp"),
    )
    return (
        data.join(newp, "id", "left")
        .withColumn("path", F.coalesce("_newp", "path"))
        .drop("_newp")
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


def _refine(
    base: DataFrame,
    g: DataFrame,
    k: int,
    n_blocks: int | None = None,
    grid: tuple[int, int] | None = None,
) -> DataFrame:
    """One neighbor-of-neighbor refinement round (deterministic).

    Candidate pairs = distinct 2-hop pairs of ``g`` not already edges.
    Distances run per GRID CELL: pair (a, b) lands in cell
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
    test_refine_default_sizing_matches_explicit_blocks and the grid
    invariance test).

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
    if grid is None:
        if n_blocks is not None:
            # legacy hint: interpret as a total-cell target
            side = 1
            while side * side < max(1, n_blocks):
                side += 1
            grid = (side, side)
        else:
            # Row count, dimension, and edge count come from ONE
            # aggregate job (this sizing runs only on direct calls;
            # ``knn_graph`` passes the grid and skips it entirely).
            # pairs ≈ n·(2κ)² with κ = edges/n the graph's mean degree.
            stats = (
                vecs.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.max(F.size("vec")).alias("dim"),
                )
                .crossJoin(g.agg(F.count(F.lit(1)).alias("edges")))
                .collect()[0]
            )
            n_rows = max(stats["n"], 1)
            dim = stats["dim"] or 1
            kappa = stats["edges"] / n_rows
            grid = _refine_grid(
                n_rows, dim, 4.0 * kappa * kappa * n_rows,
                base.sparkSession.sparkContext.defaultParallelism,
            )
    ba, bb = grid

    def _cells(col: str, a_side: bool):
        # every cell on the grid row (a_side) or column of ``col``'s id
        if a_side:
            h = F.pmod(F.hash(col), F.lit(ba))
            return F.transform(
                F.sequence(F.lit(0), F.lit(bb - 1)), lambda j: (h * bb + j).cast("int")
            )
        h = F.pmod(F.hash(col), F.lit(bb))
        return F.transform(
            F.sequence(F.lit(0), F.lit(ba - 1)), lambda i: (i * bb + h).cast("int")
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
        rows_b.groupBy("blk")
        .cogroup(vecs_b.groupBy("blk"))
        .applyInPandas(_dist_block, "src long, dst long, dist_sq double")
    )
    # scored is unique per (src, dst) and DISJOINT from g by
    # construction (cell-local dedup + edge suppression above), so no
    # dropDuplicates is needed
    unioned = g.unionByName(scored)
    wk = Window.partitionBy("src").orderBy("dist_sq", "dst")
    return (
        unioned.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


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
