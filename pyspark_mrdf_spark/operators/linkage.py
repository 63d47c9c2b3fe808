"""Fuzzy record linkage: blocked candidate generation + edit-distance
scoring + per-record best match.

Entity resolution across corpus snapshots / vendor feeds is the string
cousin of embedding near-dup (operators/dedup.py): an all-pairs
levenshtein is O(n²·len²) and unshippable, so candidates come from
BLOCKING — equi-joins on cheap derived keys — and the expensive
distance runs on candidates only (the same candidates-then-verify
discipline every dedup tier here follows).

Two blocking passes per the classic multi-pass design: a name whose
corruption is a single edit keeps its first ``prefix_len`` characters
intact unless the edit hit the prefix, in which case it keeps its last
``prefix_len`` — so prefix-block ∪ suffix-block covers every
single-edit corruption of names longer than 2·prefix_len (shorter
names can slip both blocks; callers with tiny strings should lower
``prefix_len``). Blocking recall is a parameter choice, not silent
loss: the SQL oracle replays the identical blocks, and the docstring
states the coverage bound.

``F.levenshtein`` is the JVM built-in (classic unweighted edit
distance, identical semantics to DuckDB's ``levenshtein`` — pinned by
test); the per-record argmin is a (distance, name) window with rank 1,
deterministic under ties.

Scale shape: two equi-joins on short block keys, one window
partitioned by dirty-record id (millions of small partitions — no
skew), zero cartesian products. Hot blocks — a shared
non-discriminative key across a large name family — grow pair mass
QUADRATICALLY in the family size; ``max_block`` bounds them, and its
default action SPLITS the hot block by deletion-neighborhood
sub-blocking (exact for edit distance, see
``_deletion_variants``) instead of dropping it, so the bound costs
zero matches.
"""

from __future__ import annotations

import warnings
from collections import OrderedDict

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# The auto hot-block dial (max_block="auto", the r14 default): cap =
# max(AUTO_BLOCK_FLOOR, AUTO_BLOCK_MULT · median clean block size) —
# typical blocks are fine; only keys far above typical are
# non-discriminative. MULT=3 is the measured 30× probe's own choice
# (median 64 → cap 192); FLOOR=32 keeps the dial quiet on small
# corpora where even the max block is cheap (the sf0.01/sf0.1 oracle
# corpora top out at 8 distinct names per key — law-tested that the
# dial NEVER fires there, so driver verdicts are provably unaffected).
AUTO_BLOCK_FLOOR = 32
AUTO_BLOCK_MULT = 3


def _deletion_variants(name: Column, n_del: int) -> Column:
    """array<string> of every string obtainable from ``name`` by
    deleting 0..``n_del`` characters — the SymSpell/FastSS deletion
    neighborhood (public method: Garbe's SymSpell, the FastSS paper of
    Bocek et al. 2007). The law that makes it an EXACT blocking key:
    levenshtein(x, y) <= n iff the n-deletion neighborhoods of x and y
    intersect (for n=1: a substitution at i makes x and y equal after
    each deletes position i; an insertion/deletion makes one side a
    0-deletion of the other). So sub-blocking an oversized block on
    (block key, variant) preserves EVERY within-distance pair the
    block contained — unlike a stoplist, which discards them — while
    true near-pairs are the only strings that share a full-length
    variant, so sub-block sizes track match density, not family size.

    Pure JVM expression (transform over a sequence; no Python on the
    row path). Cost per name: O(len) variants at n_del=1, O(len²) at
    n_del=2 — applied only to members of oversized blocks (and, at
    max_dist=1, only to SHORT members — long names take the O(1)
    segment keys of ``_sub_block_keys``)."""
    out = F.array_distinct(F.array(name))
    cur = out
    for _ in range(n_del):
        cur = F.array_distinct(
            F.flatten(
                F.transform(
                    cur,
                    lambda s: F.when(
                        F.length(s) >= 1,
                        F.transform(
                            F.sequence(F.lit(1), F.length(s)),
                            lambda i: F.concat(
                                s.substr(F.lit(1), i - F.lit(1)),
                                s.substr(i + F.lit(1), F.length(s)),
                            ),
                        ),
                    ).otherwise(F.array().cast("array<string>")),
                )
            )
        )
        out = F.array_distinct(F.concat(out, cur))
    return out


def _sub_block_keys(name: Column, max_dist: int, is_dirty: bool) -> Column:
    """array<string> of EXACT sub-block keys for hot-block members.

    max_dist=1 (the cheap path): the 2-segment pigeonhole of PassJoin
    (Li, Deng, Feng, ICDE 2011 — public method). For clean length t,
    one edit leaves either the first ⌈t/2⌉ characters intact
    (edit strictly after them — insert/delete there shifts only the
    tail) or the LAST ⌊t/2⌋ characters intact (edit in the first
    half — counting from the right absorbs the ±1 alignment shift).
    So clean emits 2 keys ('L:t:prefix', 'R:t:suffix' with t = its own
    length); dirty emits the same 2 key shapes for each candidate
    clean length t ∈ {m−1, m, m+1} (edit distance 1 bounds the length
    gap) — ≤ 6 short keys per member instead of O(len) full-length
    deletion variants, which is what keeps the 30× whale blocks
    (every member of the corpus) linear to fan out. The pigeonhole
    argument needs t ≥ 5 (shorter strings can straddle both halves
    with one edit once clamping kicks in), so keys for t ≤ 4 fall
    back to the ≤1-deletion SymDelete neighborhood ('V:' namespace) —
    a ≤ 5-string set at those lengths. The two key families share no
    namespace, and a within-distance pair always agrees on which
    family covers it (the clean side's length decides), so the union
    key set is exact.

    max_dist=2: the full ≤2-deletion SymDelete neighborhood (exact;
    O(len²) variants per member — documented cost of the deeper
    dial)."""
    m = F.length(name)
    if max_dist >= 2:
        return F.transform(
            _deletion_variants(name, max_dist), lambda v: F.concat(F.lit("V:"), v)
        )
    keys = []
    deltas = (-1, 0, 1) if is_dirty else (0,)
    for delta in deltas:
        t = m + F.lit(delta)
        half = F.ceil(t / F.lit(2)).cast("int")
        lo = (t - half).cast("int")
        pref = F.concat(
            F.lit("L:"), t.cast("string"), F.lit(":"), name.substr(F.lit(1), half)
        )
        suf = F.concat(
            F.lit("R:"), t.cast("string"), F.lit(":"),
            name.substr(F.greatest(m - lo + F.lit(1), F.lit(1)), lo),
        )
        keys.append(F.when(t >= 5, F.array(pref, suf)).otherwise(
            F.array().cast("array<string>")
        ))
    short_gate = (m <= 5) if is_dirty else (m <= 4)
    variants = F.when(
        F.lit(True) & short_gate,
        F.transform(
            _deletion_variants(name, 1), lambda v: F.concat(F.lit("V:"), v)
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = keys[0]
    for k in keys[1:]:
        out = F.concat(out, k)
    return F.array_distinct(F.concat(out, variants))


# r15 (verdict item 6): the auto-cap resolution is a PURE function of
# the clean side's keyed block table, but q153-shaped callers run two+
# linkages against the SAME clean side per query (and the bench's warm
# rerun doubles that) — each paying the keyed-stats collect. Memoize
# the resolved cap per (application, canonicalized plan): recomputable
# derived state in the session registry, the same discipline as
# cache.memoized_df (semanticHash + schema keys the PLAN, so two
# different clean feeds never collide). A plain LRU of
# ``_AUTO_CACHE_MAX`` entries over all keys bounds a long-lived
# session, whatever application the keys belong to.
_AUTO_CACHE_MAX = 256
_AUTO_CACHE: OrderedDict[tuple, int | None] = OrderedDict()


def _resolve_auto_block(ck: DataFrame) -> int | None:
    """Resolve ``max_block="auto"`` against the clean side's keyed
    block-size distribution (``ck``: one row per (key, distinct
    name)): cap = max(AUTO_BLOCK_FLOOR, AUTO_BLOCK_MULT · median block
    size), and ``None`` — the uncapped plan, byte-identical — when no
    block exceeds the cap. One driver aggregate over the (small)
    per-key count table, memoized per session+plan; this is the
    operator's only eager step.

    Staleness: the key is the clean side's PLAN, not its data, so
    overwriting the clean-side table at the same path within one
    session can serve the cap resolved for the old contents. Output
    stays exact either way — sub-blocking is lossless; only the cap
    that splits hot blocks (a speed dial) can be stale."""
    key = (
        ck.sparkSession.sparkContext.applicationId,
        ck.semanticHash(),
        ck.schema.json(),
        AUTO_BLOCK_FLOOR,
        AUTO_BLOCK_MULT,
    )
    if key in _AUTO_CACHE:
        _AUTO_CACHE.move_to_end(key)
        return _AUTO_CACHE[key]
    stats = (
        ck.groupBy("_k")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(
            F.max("_n").alias("_mx"),
            F.expr("percentile_approx(_n, 0.5)").alias("_med"),
        )
        .collect()[0]
    )
    cap = max(AUTO_BLOCK_FLOOR, AUTO_BLOCK_MULT * int(stats["_med"] or 0))
    resolved = cap if (stats["_mx"] or 0) > cap else None
    _AUTO_CACHE[key] = resolved
    while len(_AUTO_CACHE) > _AUTO_CACHE_MAX:
        _AUTO_CACHE.popitem(last=False)
    return resolved


def blocked_levenshtein_link(
    dirty: DataFrame,
    clean: DataFrame,
    id_col: str = "rec_id",
    name_col: str = "name",
    clean_name_col: str = "name",
    max_dist: int = 1,
    prefix_len: int = 3,
    max_block: int | str | None = "auto",
    hot_block_action: str = "split",
) -> DataFrame:
    """Best clean-side match per dirty record →
    (id_col, name_col, matched_name, dist); records with no candidate
    within ``max_dist`` are absent (filter-left-join to keep them).

    ``clean`` is deduplicated on ``clean_name_col`` — linkage is to a
    NAME, not a row; resolve name→rows downstream if needed.

    ``max_block`` (the hot-block bound): candidate-pair mass is
    Σ_blocks |dirty_block|·|clean_block|, so one non-discriminative
    key (a shared 3-char prefix across a large name family) grows the
    plan QUADRATICALLY in that family's size — the measured 30×
    relational replication shape, where every replica of a name
    shares its prefix block. Block keys whose CLEAN-side
    distinct-name frequency exceeds the dial are diverted per
    ``hot_block_action``.

    ``max_block="auto"`` (the r14 DEFAULT — the scale-safe path is
    the default path): the cap is derived from the clean side's own
    block-size distribution, ``max(AUTO_BLOCK_FLOOR, AUTO_BLOCK_MULT ·
    median block size)`` — one small driver aggregate over the
    distinct block keys at call time (the operator's only eager step;
    pass an int or ``None`` to stay fully lazy). If no block exceeds
    the derived cap the hot-block machinery is SKIPPED entirely — the
    plan is byte-identical to the uncapped one (law-tested on the
    sf0.01 oracle corpus, where the max block is 8 and the dial can
    never fire). When blocks do exceed it, the default 'split' action
    is lossless (capped == uncapped match set), so engaging the dial
    can never change results — only the wall: the 30× probe measures
    80.9 s uncapped → ~22 s split at match agreement 1.0. At
    ``max_dist > 2`` the lossless split is unavailable, so "auto"
    disengages to uncapped with a warning rather than silently
    dropping matches. Actions:

     - ``'split'`` (default, r13): members of the oversized block are
       re-blocked on (key, sub-key) with EXACT sub-keys
       (``_sub_block_keys``: 2-segment pigeonhole at max_dist=1,
       SymDelete deletion neighborhoods for short strings and at
       max_dist=2), so every within-``max_dist`` pair the hot block
       contained is still co-blocked (law-tested: capped == uncapped
       match set, agreement 1.0) while sub-block sizes track match
       density, not family size. Requires ``max_dist <= 2``.
     - ``'drop'`` (the r12 stoplist): the key is removed from BOTH
       passes. Cheaper, but a dirty record whose every key is hot
       gets no candidates — measured 0.873 agreement on the 30× feed.
       Kept for junk-key deployments where hot blocks ARE noise.

    The 30× evidence row (SCALABILITY.json row relational-30x-sf0.1)
    records wall AND match-agreement for both actions vs uncapped on
    the same corpus."""
    if hot_block_action not in ("split", "drop"):
        raise ValueError(
            f"blocked_levenshtein_link: unknown hot_block_action "
            f"{hot_block_action!r}"
        )
    if isinstance(max_block, str) and max_block != "auto":
        raise ValueError(
            f"blocked_levenshtein_link: max_block must be an int, None, or "
            f"'auto', got {max_block!r}"
        )
    if max_block == "auto" and hot_block_action == "split" and max_dist > 2:
        # the lossless split needs max_dist <= 2; rather than silently
        # dropping matches (or erroring on the DEFAULT dial), the auto
        # cap steps aside and says so
        warnings.warn(
            "blocked_levenshtein_link: max_block='auto' disengaged — the "
            f"lossless 'split' action supports max_dist <= 2, got {max_dist}. "
            "Running uncapped; pass an explicit max_block with "
            "hot_block_action='drop' to bound hot blocks lossily.",
            UserWarning,
            stacklevel=2,
        )
        max_block = None
    if max_block is not None and hot_block_action == "split" and max_dist > 2:
        raise ValueError(
            "blocked_levenshtein_link: hot_block_action='split' supports "
            f"max_dist <= 2 (O(len^max_dist) variants per member), got "
            f"{max_dist} — use hot_block_action='drop' or raise max_block"
        )
    d = dirty.select(F.col(id_col), F.col(name_col).alias("_dn"))
    c = clean.select(F.col(clean_name_col).alias("_cn")).distinct()

    def keyed(df: DataFrame, col: str, out: str) -> DataFrame:
        pre = F.substring(F.col(col), 1, prefix_len)
        # suffix via explicit positive arithmetic: negative-start
        # substring semantics differ across engines; this form is
        # identical in Spark and ANSI SQL (and the oracle mirrors it)
        suf = F.expr(
            f"substring({col}, greatest(length({col}) - {prefix_len} + 1, 1),"
            f" {prefix_len})"
        )
        return df.withColumn(out, F.array(pre, suf))

    dk = keyed(d, "_dn", "_bk").select(id_col, "_dn", F.explode("_bk").alias("_k"))
    ck = (
        keyed(c, "_cn", "_bk")
        .select("_cn", F.explode("_bk").alias("_k"))
        .distinct()
    )
    if max_block == "auto":
        max_block = _resolve_auto_block(ck)
    if max_block is not None:
        hot = (
            ck.groupBy("_k")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_block)
            .select("_k")
        )
        ck_cold = ck.join(F.broadcast(hot), "_k", "left_anti")
        pairs = dk.join(ck_cold, "_k").select(id_col, "_dn", "_cn")
        if hot_block_action == "split":
            # deletion-neighborhood sub-blocking WITHIN each hot key:
            # only hot-block members pay the variant fan-out, the join
            # stays an equi-join on (key, variant), and the final
            # levenshtein filter discards any variant-collision false
            # positives — the same candidates-then-verify shape
            dvar = (
                dk.join(F.broadcast(hot), "_k", "left_semi")
                .select(
                    id_col, "_dn", "_k",
                    F.explode(
                        _sub_block_keys(F.col("_dn"), max_dist, is_dirty=True)
                    ).alias("_v"),
                )
            )
            cvar = (
                ck.join(F.broadcast(hot), "_k", "left_semi")
                .select(
                    "_cn", "_k",
                    F.explode(
                        _sub_block_keys(F.col("_cn"), max_dist, is_dirty=False)
                    ).alias("_v"),
                )
            )
            pairs = pairs.unionByName(
                dvar.join(cvar, ["_k", "_v"]).select(id_col, "_dn", "_cn")
            )
    else:
        pairs = dk.join(ck, "_k").select(id_col, "_dn", "_cn")
    cand = (
        pairs
        .distinct()
        .withColumn("dist", F.levenshtein("_dn", "_cn"))
        .filter(F.col("dist") <= max_dist)
    )
    w = Window.partitionBy(id_col).orderBy(F.col("dist"), F.col("_cn"))
    return (
        cand.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(
            F.col(id_col),
            F.col("_dn").alias(name_col),
            F.col("_cn").alias("matched_name"),
            "dist",
        )
    )
