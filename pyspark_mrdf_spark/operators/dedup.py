"""Deduplication operators over a text column (north-star "dedup").

Five tiers, cheapest first — a real 100 TB dedup pipeline runs them in
this order, each pruning the candidate space for the next:

 1. ``exact_duplicates`` — md5 fingerprint groupBy; one shuffle on a
    16-byte key regardless of document size.
 2. ``simhash`` — 16-bit locality-sensitive token-set signature; docs
    with equal/near signatures are near-dup candidates.
 3. ``minhash_signatures`` + ``lsh_band_buckets`` — MinHash-LSH:
    banded signatures make the candidate join an equi-join on bucket
    id (no all-pairs anything).
 4. ``jaccard_pairs`` — exact n-gram Jaccard verification via a
    shingle-posting-list self-join (the verify step after 2/3 prune).
 5. embedding-cosine near-dup — see ``operators.similarity`` (k=1
    exact or IVF search).

Portability discipline: every hash here is md5 (identical hex across
Spark and DuckDB) — NOT Spark's xxhash64/hash, which no oracle could
reproduce. MinHash uses the textbook "min over a hashed permutation"
with the permutation keyed by a salt prefix: sig_i = min over
shingles of md5(i || ':' || shingle), compared as hex strings.
Jaccard values are int/int divisions — bit-exact across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_mrdf_spark.functions.text import fingerprint
from pyspark_mrdf_spark.operators.util import checkpoint, spread


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: (fingerprint, n_copies,
    doc_ids ascending), only groups with ≥ 2 members."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.array_sort(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_copies") >= 2)
    )


def _py_shingles(text: str | None, n: int) -> list[str]:
    """Python replica of ``functions.text.shingles`` — byte-identical
    output (same whitespace split semantics, same first-occurrence
    dedup order). Kernel-side twin for the Arrow batch operators below;
    any divergence fails the oracle gate (q41/q42/q72/q122/q123/q125
    all replay shingle-derived values through DuckDB md5)."""
    if text is None:
        return []
    toks = text.split(" ")
    if len(toks) < n:
        return []
    return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))


def shingle_table(df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Posting-list form: one row per (doc, distinct shingle).

    r14 (guide §4.2): the shingle build runs as a mapInPandas kernel —
    the Catalyst ``transform(sequence(...), concat_ws(slice(...)))``
    higher-order chain is interpreted per element and measured ~10x
    slower than the same loop in the Python worker (q122 profile:
    64.5 core-s for ~1.2M grams in the JVM expression chain). Only
    (id, text) crosses the boundary; output rows are the exploded
    posting list."""
    spark_df = spread(df.select(F.col(id_col), F.col(text_col)))
    id_type = spark_df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, shingle string"

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids: list = []
            grams: list[str] = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                g = _py_shingles(t, n)
                ids.extend([i] * len(g))
                grams.extend(g)
            if ids:  # an all-empty batch would yield wrongly-typed columns
                yield pd.DataFrame({id_col: ids, "shingle": grams})

    return spark_df.mapInPandas(gen, schema)


def _posting_key_table(
    df: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """Hashed posting list with per-doc set sizes baked in:
    (id, key BINARY — the 16-byte md5 digest of the shingle, sz BIGINT
    — the doc's distinct-shingle count). The internal form behind
    ``jaccard_pairs``/``jaccard_pairs_prefix``, which only ever test
    shingle EQUALITY and never expose shingle text.

    Why (r15, guide §2.3 "shuffle keys instead of payloads" + the r14
    verdict's item 2): the raw posting table carries the shingle
    STRING through every downstream exchange — the self-join shuffles
    each posting row twice, so key bytes dominate shuffle bytes. A
    16-byte digest is narrower than almost any word n-gram, fixed
    width (cheaper hash/compare than varlen UTF-8), and never even
    crosses the Python→JVM boundary as text. Equivalence: join/group
    by md5(shingle) equals join/group by shingle iff md5 is injective
    on the corpus's shingle set — the same md5-equality discipline the
    exact-dedup tier (``fingerprint``) already rests on; a collision
    needs ~2^64 distinct shingles (birthday bound), ~10^-15 probability
    at 10^12 shingles. ``sz`` is ``len(_py_shingles(text, n))`` — the
    posting table holds one row per (doc, DISTINCT shingle), so this
    IS the groupBy-count the callers used to recompute with a shuffle
    (pinned by tests/test_dedup_kernels.py).
    """
    spark_df = spread(df.select(F.col(id_col), F.col(text_col)))
    id_type = spark_df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, key binary, sz long"

    def gen(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids: list = []
            keys: list[bytes] = []
            szs: list[int] = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                g = _py_shingles(t, n)
                if not g:
                    continue
                m = len(g)
                ids.extend([i] * m)
                keys.extend(hashlib.md5(s.encode("utf-8")).digest() for s in g)
                szs.extend([m] * m)
            if ids:  # an all-empty batch would yield wrongly-typed columns
                yield pd.DataFrame({id_col: ids, "key": keys, "sz": szs})

    return spark_df.mapInPandas(gen, schema)


def jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Pairwise n-gram Jaccard for every pair sharing ≥1 shingle:
    (doc_a < doc_b, inter, size_a, size_b, jaccard).

    The self-join is on the shingle posting list, so only pairs with
    overlap are ever materialized — at scale, hot shingles should be
    stop-listed (drop shingles with document frequency above a cap)
    to bound the join fan-out.

    r15 plan shape (guide §2.3/§2.4): the posting table is the HASHED
    form (``_posting_key_table`` — 16-byte md5 keys, per-doc set size
    carried on every row), so (a) the self-join shuffles fixed-width
    digests instead of shingle strings, and (b) the former
    sizes-groupBy + two post-join sizes equi-joins are GONE — sizes
    ride through the self-join and into the final aggregate's keys
    (functionally dependent on the doc ids, so the groups are
    unchanged). The posting table is lazily checkpointed — both
    self-join sides re-executed the kernel otherwise (their differing
    aliases defeat ReusedExchange)."""
    post = checkpoint(_posting_key_table(df, n, id_col, text_col))
    if max_df is not None:
        # stoplist hot shingles: a shingle appearing in > max_df docs
        # contributes O(df²) join rows but almost no Jaccard signal.
        # Set sizes stay TRUE sizes (baked in pre-filter by the
        # kernel), so capped Jaccard is a strict under-estimate —
        # candidates only.
        hot = (
            post.groupBy("key")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("key")
        )
        post = post.join(F.broadcast(hot), "key", "left_anti")
    a = post.select(
        F.col(id_col).alias("doc_a"), "key", F.col("sz").alias("size_a")
    )
    b = post.select(
        F.col(id_col).alias("doc_b"), "key", F.col("sz").alias("size_b")
    )
    return (
        a.join(b, "key")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("inter"))
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


def jaccard_pairs_prefix(
    df: DataFrame,
    n: int = 3,
    threshold_e2: int = 80,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Thresholded Jaccard pairs via PREFIX FILTERING (Chaudhuri et
    al. 2006 / Bayardo et al. 2007): identical output to
    ``jaccard_pairs(...).filter(jaccard >= t)`` with a candidate join
    bounded far below the share-one-shingle join.

    The prefix-filter lemma: order every doc's shingles by one GLOBAL
    total order (ascending document frequency, rarest first — ties by
    the shingle's md5 digest, so the order is engine-reproducible) and keep only each
    doc's first |s| − ⌈t·|s|⌉ + 1 shingles; any pair with Jaccard ≥ t
    MUST share a shingle within these prefixes (if all of a∩b sat in
    a's suffix, the suffix's ⌈t·|a|⌉ − 1 slots could not hold the
    ≥ t·|a| shared shingles). The equi-join therefore runs on ~the
    rarest (1−t) fraction of each posting list — exactly the hot-key
    mass the ``max_df`` stoplist merely truncates, but LOSSLESSLY:
    verification recomputes the exact intersection for candidates
    only, so the thresholded output is provably complete.

    Scale shape: df-count agg (vocabulary-keyed), per-doc rank window
    (doc-keyed, sets are small), prefix self-join on the rare-shingle
    posting list, then a candidate-bounded verify join; no pair
    outside the prefix join is ever materialized.

    Measured (SCALABILITY.json row synthetic-20000-prefix-filter): on
    a corpus where 25% of docs share one boilerplate passage (the
    real-web shape) the full share-one-shingle join pays its df²
    fan-out — 44.3 s vs 30.4 s here, identical thresholded pairs
    asserted; on a uniform random-vocab corpus (df≈1 everywhere,
    nothing to prune) the df-rank pass is pure overhead (15.2 s vs
    25.9 s). Default to this tier for web text; use the plain join
    when shingles are known-unique."""
    if not 1 <= threshold_e2 <= 100:
        raise ValueError(f"threshold_e2={threshold_e2} outside [1, 100]")
    # r15: hashed posting form (16-byte md5 keys + kernel-computed set
    # sizes — see _posting_key_table): the sizes-groupBy and all three
    # sizes equi-joins are gone, every exchange below carries digests
    # instead of shingle strings. The GLOBAL total order behind the
    # prefix lemma is now (df, digest) instead of (df, shingle): the
    # lemma holds for ANY fixed total order over the vocabulary, so the
    # candidate set changes but the verified, thresholded OUTPUT does
    # not (verification recomputes exact intersections; oracle-pinned).
    post = checkpoint(_posting_key_table(df, n, id_col, text_col))
    dfreq = post.groupBy("key").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy(F.col("df"), F.col("key"))
    ranked = (
        post.join(dfreq, "key")
        .withColumn("_r", F.row_number().over(w))
        # prefix length |s| - ceil(t|s|) + 1, all-integer ceil
        # (div, not float /: a float quotient cast to long can floor
        # one ulp wrong on exact multiples)
        .filter(
            F.col("_r")
            <= F.col("sz") - F.expr(f"({threshold_e2} * sz + 99) div 100") + 1
        )
        .select(id_col, "key")
    )
    a = ranked.select(F.col(id_col).alias("doc_a"), "key")
    b = ranked.select(F.col(id_col).alias("doc_b"), "key")
    cand = (
        a.join(b, "key")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    pa = post.select(
        F.col(id_col).alias("doc_a"),
        F.col("key").alias("_ka"),
        F.col("sz").alias("size_a"),
    )
    pb = post.select(
        F.col(id_col).alias("doc_b"),
        F.col("key").alias("_kb"),
        F.col("sz").alias("size_b"),
    )
    return (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .filter(F.col("_ka") == F.col("_kb"))
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") * 100 >= threshold_e2)
        .select("doc_a", "doc_b", "inter", "size_a", "size_b", "jaccard")
    )


def contamination_pairs(
    train: DataFrame,
    eval_set: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Train/eval n-gram containment — the DECONTAMINATION primitive of
    an LLM data pipeline: for every (train doc, eval doc) pair sharing
    ≥1 shingle, the fraction of the EVAL doc's n-grams found in the
    train doc → (train_id, eval_id, inter, eval_sz, containment_e6).

    Containment is asymmetric on purpose (|train ∩ eval| / |eval|):
    benchmark leakage means the eval text appears INSIDE a (typically
    much longer) train document, where symmetric Jaccard would dilute
    to ~0. ``containment_e6`` is exact integer fixed-point
    (inter·10⁶ DIV eval_sz) — engine-portable, no float division.

    Scale shape: posting-list equi-join on shingle — the eval side of
    a real decontamination run is benchmark-sized (thousands of docs),
    so its posting list broadcasts (``broadcast_eval``) and the train
    side streams map-side with NO shuffle of train postings; pass
    ``broadcast_eval=False`` for an eval set too large to broadcast
    (falls back to a shuffled equi-join, still linear in postings).
    Only pairs with overlap materialize, like ``jaccard_pairs``."""
    tp = shingle_table(train, n, id_col, text_col).select(
        F.col(id_col).alias("train_id"), "shingle"
    )
    ep = shingle_table(eval_set, n, id_col, text_col).select(
        F.col(id_col).alias("eval_id"), "shingle"
    )
    esz = ep.groupBy("eval_id").agg(F.count(F.lit(1)).alias("eval_sz"))
    ep_j = F.broadcast(ep) if broadcast_eval else ep
    esz_j = F.broadcast(esz) if broadcast_eval else esz
    return (
        tp.join(ep_j, "shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(esz_j, "eval_id")
        .select(
            "train_id",
            "eval_id",
            "inter",
            "eval_sz",
            F.expr("inter * 1000000 DIV eval_sz").alias("containment_e6"),
        )
    )


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Drop training documents contaminated by any eval document:
    ``train`` rows whose containment of some eval doc's n-grams is
    ≥ ``threshold``. The flagged-id set is bounded by |train| ids (no
    text moves) and the anti-join ships only ids — the
    decontamination pass a pre-training corpus runs against every
    benchmark suite before training."""
    t_e6 = int(round(threshold * 1e6))
    bad = (
        contamination_pairs(
            train, eval_set, n, id_col, text_col, broadcast_eval=broadcast_eval
        )
        .filter(F.col("containment_e6") >= t_e6)
        .select(F.col("train_id").alias(id_col))
        .distinct()
    )
    return train.join(bad, id_col, "left_anti")


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash signature per document: sig[i] = min md5(i || ':' || s)
    over the doc's n-gram shingles, as hex strings. Docs with an empty
    shingle set emit no row (the explode+groupBy semantics of the
    original plan).

    r14 (guide §4.2 + §2.4): one mapInPandas kernel computes each
    doc's shingles and all ``num_hashes`` minima in the Python worker —
    a doc's shingles are all present in its own row, so the previous
    explode → groupBy(id) plan paid a corpus-wide SHUFFLE (plus
    num_hashes interpreted-md5 aggregates per posting row) for an
    aggregation that needs no data movement at all. hashlib md5 hex ==
    Spark/DuckDB md5 hex on UTF-8 bytes, and min over hex strings is
    the same lexicographic order — bit-identical signatures (the q42
    oracle and the dedup-index roundtrip laws pin this)."""
    import hashlib

    spark_df = spread(df.select(F.col(id_col), F.col(text_col)))
    id_type = spark_df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, signature array<string>"
    prefixes = [f"{i}:".encode() for i in range(num_hashes)]

    def gen(batches):
        import pandas as pd

        md5 = hashlib.md5
        for pdf in batches:
            ids: list = []
            sigs: list[list[str]] = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                grams = _py_shingles(t, n)
                if not grams:
                    continue
                gb = [g.encode() for g in grams]
                ids.append(i)
                # min over raw digests == min over lowercase hex (the
                # byte->hex map is order-preserving); hex() once at the end
                sigs.append(
                    [min(md5(p + g).digest() for g in gb).hex() for p in prefixes]
                )
            if ids:  # an all-empty batch would yield wrongly-typed columns
                yield pd.DataFrame({id_col: ids, "signature": sigs})

    return spark_df.mapInPandas(gen, schema)


def lsh_band_buckets(
    sig: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
    sig_col: str = "signature",
) -> DataFrame:
    """Banded LSH buckets: (doc_id, band, bucket) where bucket is the
    md5 of the band's concatenated signature slice. Candidate pairs =
    equi-join on (band, bucket).

    r14: one explode over a per-row (band, bucket) array instead of a
    ``bands``-way union of selects — the union re-executed the
    signature subtree once per band (the shuffle-free mapInPandas
    signature kernel has no Exchange for Spark to reuse across
    branches), quadrupling the dominant stage of the dedup-index build
    at bands=4. Same output rows."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        F.slice(F.col(sig_col), band * rows_per_band + 1, rows_per_band),
                    )
                ).alias("bucket"),
            )
            for band in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(pairs).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def lsh_candidate_pairs(buckets: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct candidate pairs sharing any band bucket."""
    a = buckets.select(F.col(id_col).alias("doc_a"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def simhash(
    df: DataFrame,
    bits: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash over whitespace tokens (with multiplicity): ONE md5 per
    token supplies up to 128 vote bits — bit j's ±1 vote is bit
    ``j % 4`` of hex char ``j // 4`` of ``md5(token)``. (The previous
    scheme burned a whole hex char per bit — 1 useful bit per 4 — and
    needed a second salted md5 beyond 32 bits; using all 4 bit
    parities of each char halves the hashing for 48-bit signatures.)
    Extraction is chunked: 8 hex chars (32 vote bits) decode with one
    ``conv`` into a bigint, and each vote is a shift+mask on that
    chunk — integer ops, not per-bit string ops. Returns
    (doc_id, simhash int); ``bits`` ≤ 62 (the signature is a signed
    64-bit int, and 62 < the 128 bits one md5 provides)."""
    if bits > 62:
        raise ValueError(f"simhash bits must be <= 62, got {bits}")
    tok = spread(df).select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    h = F.md5(F.col("tok"))
    # 32-bit chunks of the digest (8 hex chars -> one bigint via conv);
    # Catalyst's subexpression elimination computes each chunk (and the
    # md5) once per token across all the vote aggregates
    chunks = {
        i: F.conv(F.substring(h, 8 * i + 1, 8), 16, 10).cast("bigint")
        for i in range(-(-bits // 32))
    }
    aggs = []
    for j in range(bits):
        c, b = divmod(j, 4)  # hex char c of the digest, bit b of its value
        # chunk c // 8 holds chars big-endian: char (c % 8) sits at
        # nibble (7 - c % 8), so its bit b is chunk bit 4*(7 - c%8) + b
        vote = (
            F.shiftright(chunks[c // 8], 4 * (7 - c % 8) + b).bitwiseAND(F.lit(1))
        ) * 2 - 1
        aggs.append(F.sum(vote).alias(f"s{j}"))
    sums = tok.groupBy(id_col).agg(*aggs)
    sim = None
    for j in range(bits):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return sums.select(F.col(id_col), sim.cast("bigint").alias("simhash"))


NEAR_DUP_SCHEMA = "src long, dst long, cos_e6 long"


def _cos_e6_block(a: "np.ndarray", b: "np.ndarray") -> "np.ndarray":
    """Fixed-point cosine block: rint(1e6 · dot/(|a||b|)) as int64.

    Same formula as DuckDB's list_cosine_similarity; rounding to 1e-6
    BEFORE thresholding makes pair-set membership reproducible across
    engines (a last-ulp float difference cannot flip it)."""
    import numpy as np

    na = np.linalg.norm(a, axis=1)
    nb = np.linalg.norm(b, axis=1)
    cos = (a @ b.T) / np.outer(na, nb)
    return np.rint(cos * 1e6).astype(np.int64)


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (src, dst, cos_e6) with
    src < dst and cosine ≥ threshold. EXACT, and fully distributed.

    Triangle block join: vectors hash into ``n_blocks`` blocks; each of
    the B(B+1)/2 unordered block pairs becomes one ``applyInPandas``
    group that computes its cosine block with one BLAS matmul. Every
    unordered vector pair lives in exactly one group, so the result is
    exact with no dedup pass. Nothing is ever materialized on the
    driver (contrast ``embedding_near_dups_broadcast``).

    Scale accounting at n vectors, d dims:
      - shuffle: each vector ships to exactly ``n_blocks`` groups
        (n·B rows — linear in n, tunable);
      - task memory: one group holds ~2n/B vectors (8·d·2n/B bytes) —
        pick B so that fits the executor (B ≈ 16·n·d / mem_bytes);
      - flops: O(n²d) total — the honest cost of EXACT near-dup. When
        n² is infeasible, ``semantic_dedup`` (q102) is the scale path
        for embedding dedup, or raise the threshold pipeline upstream.
    """
    import pandas as pd

    spark = df.sparkSession
    bpairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)], "b1 int, b2 int"
    )
    t_e6 = int(round(threshold * 1e6))

    blk = F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).cast("int")
    rep = df.select(F.col(id_col), F.col(vec_col), blk.alias("blk")).join(
        F.broadcast(bpairs), (F.col("blk") == F.col("b1")) | (F.col("blk") == F.col("b2"))
    )

    def _pair_scan(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        b1, b2 = key
        cols = ["src", "dst", "cos_e6"]
        if len(pdf) == 0:
            return pd.DataFrame(columns=cols)
        if b1 == b2:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cos_e6 = _cos_e6_block(mat, mat)
            keep = (cos_e6 >= t_e6) & (ids[:, None] < ids[None, :])
            ii, jj = np.nonzero(keep)
            return pd.DataFrame({"src": ids[ii], "dst": ids[jj], "cos_e6": cos_e6[ii, jj]})
        left = pdf[pdf["blk"] == b1]
        right = pdf[pdf["blk"] == b2]
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(columns=cols)
        l_ids = left[id_col].to_numpy(dtype=np.int64)
        r_ids = right[id_col].to_numpy(dtype=np.int64)
        cos_e6 = _cos_e6_block(
            np.stack(left[vec_col].to_numpy()).astype(np.float64),
            np.stack(right[vec_col].to_numpy()).astype(np.float64),
        )
        ii, jj = np.nonzero(cos_e6 >= t_e6)
        # cross-block pair ids come unordered; normalize to src < dst
        a, b = l_ids[ii], r_ids[jj]
        return pd.DataFrame(
            {"src": np.minimum(a, b), "dst": np.maximum(a, b), "cos_e6": cos_e6[ii, jj]}
        )

    return rep.groupBy("b1", "b2").applyInPandas(_pair_scan, NEAR_DUP_SCHEMA)


def embedding_near_dups_broadcast(
    df: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Small-corpus tier of ``embedding_near_dups``: broadcast the whole
    corpus matrix (driver-side ``collect_matrix``) and let each Arrow
    batch of query rows compute its cosine block. Only valid when the
    corpus fits the driver + every executor; the triangle block join
    above is the default precisely because this one cannot scale."""
    import pandas as pd
    from collections.abc import Iterator

    from pyspark_mrdf_spark.operators.similarity import collect_matrix

    spark = df.sparkSession
    ids, mat = collect_matrix(df, id_col, vec_col)
    b = spark.sparkContext.broadcast((ids, mat))
    t_e6 = int(round(threshold * 1e6))

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        c_ids, c_mat = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q_ids = pdf[id_col].to_numpy(dtype=np.int64)
            q_mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cos_e6 = _cos_e6_block(q_mat, c_mat)
            keep = (cos_e6 >= t_e6) & (q_ids[:, None] < c_ids[None, :])
            ii, jj = np.nonzero(keep)
            yield pd.DataFrame(
                {"src": q_ids[ii], "dst": c_ids[jj], "cos_e6": cos_e6[ii, jj]}
            )

    n_parts = max(spark.sparkContext.defaultParallelism, df.rdd.getNumPartitions())
    return df.select(id_col, vec_col).repartition(n_parts).mapInPandas(_scan, NEAR_DUP_SCHEMA)


def simhash_band_candidates(
    sh: DataFrame,
    bands: int = 3,
    bits: int = 16,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
) -> DataFrame:
    """Banded SimHash candidate pairs: split the ``bits``-bit signature
    into ``bands`` contiguous slices and equi-join on (band, slice
    value). Pigeonhole guarantee: any pair within Hamming distance
    ``bands - 1`` differs in at most bands-1 slices, so at least one
    slice matches — no false negatives up to that radius, and the
    all-pairs bit_count scan of the verify step runs only on
    candidates. This is the scale path for ``simhash`` near-dup
    (the exact variant joins all pairs)."""
    width = bits // bands
    out = None
    for band in range(bands):
        lo = band * width
        w = width + (bits - bands * width if band == bands - 1 else 0)
        slice_val = F.shiftright(F.col(sim_col), lo).bitwiseAND(F.lit((1 << w) - 1))
        b = sh.select(
            F.col(id_col), F.lit(band).alias("band"), slice_val.alias("slice")
        )
        out = b if out is None else out.unionByName(b)
    a = out.select(F.col(id_col).alias("doc_a"), "band", "slice")
    bb = out.select(F.col(id_col).alias("doc_b"), "band", "slice")
    return (
        a.join(bb, ["band", "slice"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def near_dedup_against(
    new_docs: DataFrame,
    corpus: DataFrame | None,
    threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_buckets: DataFrame | None = None,
    corpus_postings: DataFrame | None = None,
    batch_buckets: DataFrame | None = None,
    batch_postings: DataFrame | None = None,
) -> DataFrame:
    """Incremental NEAR-dup dedup: rows of ``new_docs`` with no corpus
    document of n-gram Jaccard ≥ ``threshold`` — the daily-ingest shape
    for fuzzy dedup (``dedup_against`` is the exact-match sibling).

    MinHash-LSH candidates first (equi-join of batch vs corpus band
    buckets), then exact Jaccard verify on candidate pairs only via
    the posting lists of JUST the candidate documents. No all-pairs
    work anywhere; false negatives are the standard LSH banding ones
    (a ≥ threshold pair missing every band).

    In production the corpus-side state is PRECOMPUTED AND STORED —
    each ingest touches signatures, never the corpus text. Pass
    ``corpus_buckets`` ((id, band, bucket), from ``lsh_band_buckets``)
    and ``corpus_postings`` ((id, shingle), from ``shingle_table``)
    built with the SAME (num_hashes, bands, rows_per_band, n) to model
    that; omitted, both derive from ``corpus`` inside this plan.
    ``corpus`` may be None only when BOTH stored sides are supplied
    (the fully index-served path — ``operators/dedup_index.py``).
    ``batch_buckets``/``batch_postings`` are the same two tables for
    ``new_docs``: a caller that has already encoded the batch with the
    same params (the streamed ingest, which also writes that encode to
    the index) passes it here instead of having it encoded again;
    omitted, both derive from ``new_docs``.

    BATCH-SIZE CONTRACT (r14 broadcasts, advisor note): every
    batch-derived frame here — the batch bucket table, both candidate
    id lists, the candidate-pair table, the final dup-id set — is an
    explicit ``F.broadcast`` side, which is what keeps the CORPUS-sized
    bucket/posting tables from ever being shuffled by a serve. That
    design assumes ``new_docs`` is an ingest batch, not a corpus:
    beyond roughly 10^8 candidate rows per batch the broadcasts hit
    Spark's 8 GB / 512M-row relation cap (or driver memory first).
    Chunk oversized batches and call this per chunk — the daily-ingest
    model this operator documents — rather than relying on a graceful
    sort-merge degradation this plan deliberately no longer has."""
    if corpus is None and (corpus_buckets is None or corpus_postings is None):
        raise ValueError(
            "near_dedup_against: corpus=None requires both corpus_buckets "
            "and corpus_postings (the index-served path)"
        )
    if corpus_buckets is None:
        c_sig = minhash_signatures(corpus, num_hashes, n, id_col, text_col)
        corpus_buckets = lsh_band_buckets(c_sig, bands, rows_per_band, id_col)
    if batch_buckets is None:
        b_sig = minhash_signatures(new_docs, num_hashes, n, id_col, text_col)
        batch_buckets = lsh_band_buckets(b_sig, bands, rows_per_band, id_col)
    if batch_postings is None:
        batch_postings = shingle_table(new_docs, n, id_col, text_col)
    c_buckets = corpus_buckets.select(
        F.col(id_col).alias("c_id"), "band", "bucket"
    )
    b_buckets = batch_buckets.select(F.col(id_col).alias("b_id"), "band", "bucket")
    # the candidate pair table is referenced by three downstream
    # branches (both posting prunes + the inter semi-join); a lazy
    # checkpoint computes the bucket join once instead of per branch.
    # The BATCH bucket side is broadcast (guide §3.1): it is ingest-
    # batch-sized by construction, while c_buckets is corpus-sized —
    # without the hint the planner's estimates picked a sort-merge
    # join that shuffled the whole stored bucket table per serve.
    cand = (
        F.broadcast(b_buckets)
        .join(c_buckets, ["band", "bucket"])
        .select("b_id", "c_id")
        .distinct()
        .transform(checkpoint)
    )
    # exact verify on candidates only: posting lists restricted to the
    # candidate documents. When the caller ships stored postings, a
    # semi-join prunes them; when postings must derive from the corpus
    # text, prune the CORPUS first so the shingle explode — the
    # corpus-sized step — runs over candidate documents only (batch-
    # sized), never the whole corpus.
    # candidate id lists are batch-bounded (each came from a batch-side
    # bucket match): broadcast them so the corpus-sized posting/corpus
    # prunes are broadcast semi-joins — the stored posting table must
    # never be shuffled by a serve (it is the corpus-dominant table)
    b_post = batch_postings.join(
        F.broadcast(cand.select(F.col("b_id").alias(id_col)).distinct()),
        id_col,
        "left_semi",
    )
    if corpus_postings is None:
        cand_corpus = corpus.join(
            F.broadcast(cand.select(F.col("c_id").alias(id_col)).distinct()),
            id_col,
            "left_semi",
        )
        c_post = shingle_table(cand_corpus, n, id_col, text_col)
    else:
        c_post = corpus_postings.join(
            F.broadcast(cand.select(F.col("c_id").alias(id_col)).distinct()),
            id_col,
            "left_semi",
        )
    b_sz = b_post.groupBy(id_col).agg(F.count(F.lit(1)).alias("b_sz"))
    c_sz = c_post.groupBy(id_col).agg(F.count(F.lit(1)).alias("c_sz"))
    inter = (
        b_post.select(F.col(id_col).alias("b_id"), "shingle")
        .join(c_post.select(F.col(id_col).alias("c_id"), "shingle"), "shingle")
        .join(F.broadcast(cand), ["b_id", "c_id"], "left_semi")
        .groupBy("b_id", "c_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    dup_ids = (
        inter.join(b_sz.select(F.col(id_col).alias("b_id"), "b_sz"), "b_id")
        .join(c_sz.select(F.col(id_col).alias("c_id"), "c_sz"), "c_id")
        .filter(
            F.col("inter").cast("double")
            / (F.col("b_sz") + F.col("c_sz") - F.col("inter"))
            >= threshold
        )
        .select(F.col("b_id").alias(id_col))
        .distinct()
    )
    # dup_ids ⊆ the batch's ids — broadcast keeps the survivor anti-join
    # shuffle-free too
    return new_docs.join(F.broadcast(dup_ids), id_col, "left_anti")


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components of an undirected pair graph →
    (doc_id, cluster_id) with cluster_id = MIN node id in the
    component. The step that turns near-dup PAIRS into dedup GROUPS
    (pairs alone over-count: {A,B},{B,C} is one group of three).

    Min-label propagation: every node repeatedly adopts the smallest
    label among itself and its neighbors — one join + one groupBy·min
    per round, converging in O(component diameter) rounds. Near-dup
    graphs are piles of small dense cliques (diameter ≤ ~3), so 3-4
    rounds settle everything; the driver sees one changed-count scalar
    per round (whose action also materializes that round's lazy
    ``checkpoint`` — one job per round total), exactly the MRDF
    iteration discipline. If a component's diameter exceeds
    ``max_iter`` (a legitimate long-chain graph), the partially
    propagated labels are silently WRONG — so this falls through to
    ``connected_components_star``, whose round count is logarithmic in
    the diameter, instead of refusing or returning them.

    Tier choice measured head-to-head (SCALABILITY.json row
    synthetic-200000-cc-tiers, r9): at diameter 100 (2k chains of
    length 100, n=200k) propagation needs its full 100 rounds — 69.8 s
    — where star contracts in 15.9 s (4.4×, widening with diameter); both exact vs the closed-form ground truth. On
    real near-dup pair graphs (diameter ≤ ~3) propagation's cheaper
    rounds win, which is why it stays the default tier."""
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .unionByName(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
        .transform(checkpoint)
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(checkpoint)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry the old label through so the convergence count is a
        # filter on the SAME checkpointed frame — no extra join pass;
        # the count below is the round's ONE action and materializes
        # the lazy checkpoint as it runs
        stepped = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["u"], "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .transform(checkpoint)
        )
        changed = stepped.filter(F.col("label") != F.col("old_label")).count()
        labels = stepped.select("node", "label")
        if changed == 0:
            break
    else:
        return connected_components_star(pairs, a_col, b_col)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the long-chain tier of ``connected_components``.

    Each round rewires edges toward smaller node ids:

     - **large-star** (per node u over its undirected neighborhood
       Γ(u)): every neighbor v > u re-attaches to m = min(Γ(u) ∪ {u});
     - **small-star** (per node u over its smaller neighbors
       N⁻(u) = {v ∈ Γ(u): v < u}): u and every v ∈ N⁻(u) attach to
       m = min(N⁻(u)).

    Both steps preserve connectivity, every output edge points
    strictly downward (big id → small id), and the alternation
    converges in O(log² n) rounds even on path graphs where plain
    min-label propagation needs O(diameter) — each step is one
    groupBy·min + one join, the same shuffle primitives as the
    propagation tier. At the fixpoint the edges form stars around each
    component's minimum id: (node, min) edges plus the roots
    themselves ARE the labeling.

    Measured at graph scale (SCALABILITY.json synthetic-2000000-cc,
    r8): 2M nodes in 20k chains of length 100 — the diameter-hostile
    shape — label in 38.5 s on local[32] with every label verified
    against the closed-form ground truth (0 wrong, exactly 20k
    clusters).
    """
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(checkpoint)
    )

    def _large_star(e: DataFrame) -> DataFrame:
        nbrs = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        # (v, m) for v > u: v > u ≥ m, so edges point strictly downward
        return (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # input edges all point downward (u > v): N⁻(u) is just v's
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        moved = (
            e.join(mins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        return moved.unionByName(mins.select("u", F.col("m").alias("v"))).distinct()

    n_old = edges.count()  # materializes the initial lazy checkpoint
    for _ in range(max_iter):
        stepped = checkpoint(_small_star(_large_star(edges)))
        # fixpoint test: both sets are distinct downward edges, so
        # equality ⇔ same count AND no row of the new set outside the
        # old (the count action also materializes the checkpoint)
        n_new = stepped.count()
        changed = (
            n_new != n_old
            or stepped.join(edges, ["u", "v"], "left_anti").limit(1).count() > 0
        )
        edges, n_old = stepped, n_new
        if not changed:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    roots = edges.select(F.col("v").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    star = (
        edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
        .unionByName(roots)
        .distinct()
    )
    # Self-pairs (u == v) were filtered before contraction, so a node
    # whose ONLY pair is a self-pair has no edge and would vanish here
    # — while the propagation tier labels it (node, node). Re-attach
    # every input node, defaulting isolated ones to their own id, so
    # both tiers return the same row set on degenerate inputs.
    all_nodes = (
        pairs.select(F.col(a_col).alias("doc_id"))
        .unionByName(pairs.select(F.col(b_col).alias("doc_id")))
        .distinct()
    )
    return all_nodes.join(star, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )


def dedup_against(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup: rows of ``new_docs`` whose text
    fingerprint is NOT already in ``corpus`` (and not duplicated within
    the batch — lowest id wins). The daily-ingest shape: the corpus
    side reduces to a fingerprint set (16-byte keys), so the join
    shuffles hashes, never documents."""
    corpus_fp = corpus.select(fingerprint(text_col).alias("fp")).distinct()
    batch = new_docs.withColumn("fp", fingerprint(text_col))
    in_batch_first = batch.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return (
        batch.join(in_batch_first, [id_col, "fp"], "left_semi")
        .join(corpus_fp, "fp", "left_anti")
        .drop("fp")
    )


def dup_substring_span_table(
    df: DataFrame,
    gram_len: int = 40,
    sample_mod: int = 4,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    len_col: str = "n_chars",
) -> DataFrame:
    """Substring-level exact dedup, span-level output (id, span_id,
    s, e inclusive char bounds) — the table q101's stats aggregate
    and q109's scrub consume
    (the Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better" ExactSubstr operation, re-expressed Spark-first —
    the reference has no counterpart; fingerprint-join design instead
    of a distributed suffix array).

    Every char ``gram_len``-gram is fingerprinted (md5); a gram is
    SELECTED iff its fingerprint ≡ 0 mod ``sample_mod`` — CONTENT-
    defined sampling (Manber 1994's mod-p fingerprint selection, the
    winnowing family's trick), NOT positional striding: identical
    substrings select identical gram offsets wherever they appear, so
    detection is alignment-free. (A positional stride misses every
    cross-document copy whose offsets disagree mod the stride — copies
    land on disjoint sampling grids and share no sampled gram no
    matter how long the run.) Selected grams whose fingerprint occurs
    ≥ ``min_count`` times ANYWHERE in the corpus (across documents or
    repeated within one — both count, as in ExactSubstr) mark their
    positions duplicated; overlapping or contiguous marks merge into
    maximal spans per document. Guarantees: ``sample_mod=1`` keeps
    every gram — exact detection of every duplicated run ≥ gram_len
    chars; ``sample_mod=S>1`` misses a duplicated run of length R with
    probability ≈ (1-1/S)^(R-gram_len+1) (< 0.1% for R ≥ 64 at L=40,
    S=4) and never reports a false span (selected-gram equality is
    md5 equality of real corpus substrings). Returns the SPAN table
    (id, span_id, s, e) — one row per maximal merged duplicated span,
    inclusive char bounds — for documents with ≥ 1 span; the stats
    and scrub consumers aggregate/apply it.

    Scale shape: every position is hashed map-side (content-defined
    selection must see each gram — the same single pass over corpus
    bytes any dedup makes), but only ~1/sample_mod of fingerprints
    survive into the shuffle; the occurrence table is 16-byte
    fingerprints (no gram text survives the first select); "hot"
    fingerprints come from one count aggregation, rejoin is a
    fingerprint equi-join (AQE may broadcast the hot side — it is the
    duplicated subset only), and the interval merge is two per-doc
    window passes + one equi-key agg. Nothing is O(corpus²) and no
    driver materialization anywhere."""
    from pyspark.sql import Window

    npos = (F.col(len_col) - gram_len + 1).cast("int")
    # spread before the per-position md5 projection (r14, guide §2):
    # the gram-hash pass is the dominant expression cost (one md5 per
    # char position) and an under-partitioned scan (the single-
    # rowgroup test inputs) would run it all in ONE task; spread is a
    # no-op when the scan already has cluster parallelism
    occ = (
        spread(df.filter(F.col(len_col) >= gram_len))
        .select(
            F.col(id_col),
            F.col(text_col),
            F.explode(F.sequence(F.lit(1), npos, F.lit(1))).alias("pos"),
        )
        .select(
            id_col,
            F.col("pos").cast("bigint").alias("pos"),
            F.md5(F.expr(f"substring({text_col}, pos, {gram_len})")).alias("fp"),
        )
    )
    if sample_mod > 1:
        occ = occ.filter(
            F.conv(F.substring("fp", 1, 8), 16, 10).cast("bigint") % sample_mod == 0
        )
    # corpus-wide count as a per-fp window, not agg+rejoin: ONE
    # fingerprint shuffle and one pass over the (expensive) gram-hash
    # projection instead of computing it twice for the two join sides
    w_fp = Window.partitionBy("fp")
    marked = (
        occ.withColumn("n_occ", F.count(F.lit(1)).over(w_fp))
        .filter(F.col("n_occ") >= min_count)
        .select(id_col, "pos")
    )

    w_ord = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + (gram_len - 1)).over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    # a gram starting at prev_end + 1 is contiguous with the previous
    # span (no uncovered char between them) — merge; any gap splits
    flagged = marked.select(
        id_col,
        "pos",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1)
        .otherwise(0)
        .alias("new_span"),
    )
    islands = flagged.select(
        id_col,
        "pos",
        F.sum("new_span").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)).alias("span_id"),
    )
    return islands.groupBy(id_col, "span_id").agg(
        F.min("pos").alias("s"), (F.max("pos") + (gram_len - 1)).alias("e")
    )


def dup_substring_spans(
    df: DataFrame,
    gram_len: int = 40,
    sample_mod: int = 4,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    len_col: str = "n_chars",
    span_table: DataFrame | None = None,
) -> DataFrame:
    """Per-document duplicated-span STATS (id, n_spans, dup_chars)
    over ``dup_substring_span_table`` — see that docstring for the
    detection semantics and scale shape. ``span_table`` short-circuits
    detection with an already-built (id, span_id, s, e) table (the
    session materialization registry shares one build between the
    stats and scrub consumers)."""
    spans = span_table
    if spans is None:
        spans = dup_substring_span_table(
            df, gram_len, sample_mod, min_count, id_col, text_col, len_col
        )
    return spans.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("dup_chars"),
    )


def scrub_dup_substrings(
    df: DataFrame,
    gram_len: int = 40,
    sample_mod: int = 4,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    len_col: str = "n_chars",
    span_table: DataFrame | None = None,
) -> DataFrame:
    """The REMOVE half of ExactSubstr dedup (Lee et al. 2022 drop the
    duplicated spans from training text): every char covered by a
    detected duplicated span is deleted; returns (id, clean_text,
    clean_chars). Documents with no spans pass through unchanged.

    Scale shape: span detection as in ``dup_substring_span_table``
    (or an already-built ``span_table``, shared with the stats
    consumer via the session materialization registry); the scrub
    itself is pure per-doc higher-order array expressions (collect the
    doc's few spans, keep chars whose position no span covers) — zero
    Python, zero extra shuffle beyond the span table's per-doc agg,
    cost O(n_chars · n_spans) per doc with n_spans small by
    construction (spans are maximal merged intervals)."""
    spans = span_table
    if spans is None:
        spans = dup_substring_span_table(
            df, gram_len, sample_mod, min_count, id_col, text_col, len_col
        )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("s", "e")).alias("_spans")
    )
    joined = df.select(id_col, text_col).join(per_doc, id_col, "left")
    chars = F.split(F.col(text_col), "")
    keep = F.filter(
        F.arrays_zip(chars, F.sequence(F.lit(1), F.length(text_col))),
        lambda x: ~F.exists(
            F.col("_spans"),
            lambda sp: (x["1"] >= sp["s"]) & (x["1"] <= sp["e"]),
        ),
    )
    clean = F.when(
        F.col("_spans").isNull(), F.col(text_col)
    ).otherwise(F.array_join(F.transform(keep, lambda x: x["0"]), ""))
    return joined.select(
        id_col,
        clean.alias("clean_text"),
        F.length(clean).cast("bigint").alias("clean_chars"),
    )


def semantic_dedup(
    df: DataFrame,
    centroids: "np.ndarray",
    threshold_e6: int = 350000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    mark a row a semantic duplicate iff some SAME-CLUSTER row with a
    smaller id has cosine ≥ threshold — clustering is what makes the
    pairwise step tractable (within-cluster n², never corpus n²).

    Returns (id, cluster, max_prev_cos_e6, keep): ``max_prev_cos_e6``
    is the best cosine (fixed-point 1e6, q46's rounding rule) against
    any smaller-id cluster-mate, -1 if none; ``keep`` marks the
    canonical survivors (smallest id of every semantic-dup chain keeps
    itself because no smaller-id neighbor exists).

    Scale shape: assignment is one mapInPandas over a broadcast
    O(parameters) centroid matrix; the pairwise step cogroups by
    cluster, so task memory is one cluster's (size × d) block plus a
    size² int64 cosine block. Cluster size is the dial: train k ≈
    n / target_cluster_size centroids (``auto_n_centroids``) so blocks
    stay executor-sized; sub-block the cosine matrix (the
    ``embedding_near_dups`` triangle tiling) if clusters must be
    larger. Ties in the cluster assignment break to the lowest
    centroid id via stable argsort — the oracle's (distance, cent_id)
    ordering, distances compared UN-sqrted."""
    import numpy as np
    import pandas as pd

    from pyspark_mrdf_spark.functions.vector import l2_argsort_topm

    spark = df.sparkSession
    c_mat = np.asarray(centroids, dtype=np.float64)
    bcent = spark.sparkContext.broadcast(c_mat)
    vec_type = df.schema[vec_col].dataType

    def _assign(batches):
        cm = bcent.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cell = l2_argsort_topm(mat, cm, 1)[:, 0]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(dtype=np.int64),
                    "vec": pdf[vec_col],
                    "cluster": cell.astype(np.int64),
                }
            )

    from pyspark.sql.types import LongType, StructField, StructType

    assign_schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("vec", vec_type, False),
            StructField("cluster", LongType(), False),
        ]
    )
    assigned = df.select(id_col, vec_col).mapInPandas(_assign, assign_schema)

    def _mark(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        ce = _cos_e6_block(mat, mat)
        mask = ids[:, None] > ids[None, :]
        # the "no smaller-id neighbor" sentinel must sit BELOW the
        # cosine domain [-1e6, 1e6] — a cluster-mate at cosine -0.0078
        # is a real best neighbor, not absence
        none = -(2 * 10**6)
        best = np.where(mask, ce, none).max(axis=1)
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster": pdf["cluster"].to_numpy(dtype=np.int64),
                "max_prev_cos_e6": np.where(best == none, -1, best),
                "keep": best < threshold_e6,
            }
        )

    out_schema = (
        f"{id_col} long, cluster long, max_prev_cos_e6 long, keep boolean"
    )
    return assigned.groupBy("cluster").applyInPandas(_mark, out_schema)


BLOOM_M_BITS = 1 << 17
BLOOM_K = 4


def _bloom_pos(fp, j: int, m_bits: int):
    """Bit position j for a fingerprint: first 8 md5 hex chars of
    ``j:fp`` mod m — the engine's portable-hash discipline, so an SQL
    oracle derives the identical position set."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{j}:"), fp)), 1, 8), 16, 10
    ).cast("bigint") % m_bits


def bloom_dedup_against(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = BLOOM_M_BITS,
    k_hashes: int = BLOOM_K,
) -> DataFrame:
    """Incremental exact dedup with a BLOOM-FILTER membership prefilter:
    (id, bloom_hit, is_dup) per batch row — ``is_dup`` is EXACT (the
    filter only prunes, never decides), ``bloom_hit`` exposes the
    pruning decision so callers and tests can see the filter work.

    The 100 TB shape this demonstrates: ``dedup_against`` shuffles the
    whole batch's fingerprints into a join against the corpus
    fingerprint set. When the corpus is 10^11 docs and today's batch is
    mostly NOVEL (the common crawl-ingest case), almost every shuffled
    row finds no match — wasted exchange. Here the corpus side compacts
    to m/8 bytes of Bloom bitmap (a bounded, broadcastable summary: m
    defaults to 128 Ki bits = 16 KiB regardless of corpus size; size m
    to ~10 bits/fingerprint at deployment), the batch probes it with
    pure JVM hash/shift arithmetic — no shuffle, no Python — and ONLY
    the bloom-hit rows (true dups + the filter's false-positive rate,
    (set_bits/m)^k) enter the exact semi-join. Definite-new rows never
    shuffle at all. This is Spark's runtime-filter/bloom-join pattern
    made explicit and portable: positions are md5-derived, so the
    filter's accept set is deterministic on any engine — even
    ``bloom_hit`` itself is oracle-checkable, not just the final
    verdict.

    The bitmap build is one distinct + one 32-bit-word bit_or aggregate
    over ≤ k·|corpus_fp| positions, collected at ≤ m/32 rows; words
    ride a broadcast array literal. False positives cost only wasted
    join rows, never correctness.
    """
    # one corpus scan serves both the bitmap build and the exact
    # semi-join tail (lazy checkpoint: the build's collect materializes
    # the fingerprint set the join then reuses)
    corpus_fp = (
        corpus.select(fingerprint(text_col).alias("fp"))
        .distinct()
        .transform(checkpoint)
    )
    pos = corpus_fp.select(
        F.explode(
            F.array(*[_bloom_pos(F.col("fp"), j, m_bits) for j in range(1, k_hashes + 1)])
        ).alias("pos")
    ).distinct()
    # 32-bit words sidestep int64 sign/overflow corners in both the
    # shift arithmetic and any SQL twin
    word_rows = (
        pos.select(
            F.shiftright("pos", 5).alias("w"),
            F.expr("shiftleft(1, CAST(pos % 32 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    words = [0] * ((m_bits + 31) // 32)
    for r in word_rows:
        words[r["w"]] = int(r["bits"])

    batch = new_docs.withColumn("fp", fingerprint(text_col))

    # the bitmap rides a one-row broadcast cross join, NOT an array
    # literal: F.lit(words) would inline a CreateArray of m/32 literal
    # children into the plan at EVERY reference (measured ~3s of
    # analysis/codegen at m=128Ki) — as data it is one value
    words_df = batch.sparkSession.createDataFrame(
        [(words,)], "_bloom array<int>"
    )
    # probe in SQL-expr form: Spark SQL's shift builtins take column
    # expressions there (the Python F.shiftleft/shiftright API only
    # takes int literals). Positions land in named columns so each md5
    # evaluates once; int32 words make bit 31 wrap negative, which the
    # arithmetic shiftright + `& 1` reads correctly
    probed = batch.join(F.broadcast(words_df))
    for j in range(1, k_hashes + 1):
        probed = probed.withColumn(
            f"_p{j}",
            F.expr(
                f"CAST(conv(substring(md5(concat('{j}:', fp)), 1, 8), 16, 10) "
                f"AS BIGINT) % {m_bits}"
            ),
        )
    hit_sql = " AND ".join(
        f"(shiftright(element_at(_bloom, CAST(shiftright(_p{j}, 5) AS INT) + 1), "
        f"CAST(_p{j} % 32 AS INT)) & 1) = 1"
        for j in range(1, k_hashes + 1)
    )
    probed = probed.withColumn("bloom_hit", F.expr(hit_sql)).drop(
        "_bloom", *[f"_p{j}" for j in range(1, k_hashes + 1)]
    )
    hits_dup = (
        probed.filter("bloom_hit")
        .join(corpus_fp, "fp", "left_semi")
        .select(id_col)
        .withColumn("is_dup", F.lit(True))
    )
    return (
        probed.join(hits_dup, id_col, "left")
        .select(
            id_col,
            "bloom_hit",
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )
