"""Heavy hitters over massive-cardinality key streams.

The reference has plain count aggregates (G3/G4); this is the tier for
when even those break down. A groupBy over a token/n-gram column at
100 TB shuffles one partial-count row per DISTINCT key per map task —
fine for languages' ~1e6-word vocabularies, hostile for 13-gram keys
whose cardinality is ~row count (the map-side combine stops combining
and the shuffle is the whole stream). ``heavy_hitters`` bounds that:

1. One ``mapInPandas`` pass emits each partition's exact local top-m
   key HASHES (vectorized ``value_counts`` over a NumPy int64 column —
   batch data wants the exact per-partition count, not streaming
   Misra-Gries, and it carries the same superset guarantee; hashing
   keeps Python strings out of the hot pass entirely) plus one
   per-batch total-row-count row.
2. The candidate union (≤ partitions·m keys, parameter-sized) is
   broadcast back for an exact recount — the only shuffle is a
   groupBy over candidate-matching rows.

Superset guarantee (why the output is EXACT, not approximate): a key
with global frequency > N/k has, in at least one partition p,
local frequency > n_p/(m+1) whenever m ≥ k (if every partition had
freq_p ≤ n_p/(m+1) ≤ n_p/(k+1), the global sum would be ≤ N/(k+1)
< N/k). And any key with local frequency > n_p/(m+1) is necessarily
inside that partition's top-m: m keys strictly above it would put the
partition's total above n_p. So candidates ⊇ true heavy hitters, and
the recount filter ``cnt·k > N`` makes the result identical to the
full groupBy — which is exactly what the DuckDB oracle runs.

Measured (SCALABILITY.json row synthetic-50000000-heavy-hitters): at
50M rows / 35M distinct keys the tier returns the identical hot-key
set in 13.9 s on local[32] vs 3.7 s for the plain groupBy — locally
the 0.7n-row shuffle is nearly free on RAM/NVMe, so the tier's value
is the NETWORK-shuffle bound at cluster scale, and the row records the
honest local cost (the int64-hash candidates pass is itself the
measured 3.9× fix over a string-keyed pass).

Default m = 4k: the guarantee needs only m ≥ k; the margin keeps the
candidate set robust to tie truncation at rank m without changing the
output (ties at the boundary can only ADD candidates, never evict a
true heavy hitter, so any tie-handling is correct — we take exactly m
by (count desc, key) for determinism of the intermediate anyway).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from pyspark_mrdf_spark.operators.util import checkpoint

def heavy_hitter_candidates(
    items: DataFrame, key_col: str, m: int
) -> DataFrame:
    """One pass: per-partition top-m KEY HASHES by local count, plus a
    per-batch (hash=NULL, n=batch rows) accounting row so the caller
    gets the global N from the same scan. Output: (key_hash, n).

    The pass counts 64-bit ``xxhash64`` values, not the keys
    themselves: the Arrow batch then reaches pandas as a
    NumPy-backed int64 column and the top-m is a ``value_counts``
    over integers — materializing tens of millions of Python string
    objects per partition (the naive string-keyed version, measured
    ~10× slower at n=50M) never happens. A hash COLLISION merges two
    keys' local counts, which can only promote extra candidates —
    never evict one whose true count clears the local bar — so the
    superset guarantee is preserved and the exact recount removes any
    collision-inflated stragglers."""
    out_schema = "key_hash long, n long"

    def _topm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            vc = pdf["key_hash"].value_counts()
            # deterministic rank-m cut: (count desc, hash asc)
            top = (
                vc.rename("n")
                .reset_index()
                .sort_values(["n", "key_hash"], ascending=[False, True])
                .head(m)
            )
            total = pd.DataFrame({"key_hash": [None], "n": [len(pdf)]})
            yield pd.concat([top[["key_hash", "n"]], total], ignore_index=True)

    return items.select(F.xxhash64(F.col(key_col)).alias("key_hash")).mapInPandas(
        _topm, out_schema
    )


def heavy_hitters(
    items: DataFrame, key_col: str, k: int, m: int | None = None
) -> DataFrame:
    """Exact keys with frequency > N/k, shuffle bounded to candidates:
    (key, cnt) — identical to ``GROUP BY key HAVING cnt·k > N`` for
    any m ≥ k (see module docstring for the proof sketch)."""
    if m is None:
        m = 4 * k
    if m < k:
        raise ValueError(f"m={m} < k={k} breaks the superset guarantee")
    scan = checkpoint(heavy_hitter_candidates(items, key_col, m))
    total = scan.filter(F.col("key_hash").isNull()).agg(
        F.sum("n").alias("total_n")
    )
    cand = scan.filter(F.col("key_hash").isNotNull()).select("key_hash").distinct()
    exact = (
        items.withColumn("key_hash", F.xxhash64(F.col(key_col)))
        .join(F.broadcast(cand), "key_hash")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * k > F.col("total_n"))
        .select(key_col, "cnt")
    )
