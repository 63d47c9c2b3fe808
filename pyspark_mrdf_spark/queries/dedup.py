"""Deduplication query family over ``documents`` (north-star "dedup":
exact, MinHash-LSH, SimHash, n-gram Jaccard; embedding near-dup lives
in the vector family q50/q53).

The corpus has planted near-duplicates (25 pairs with 3-gram Jaccard
≥ 0.1 at sf0.01, max 0.99) so these return meaningful rows. Jaccard
outputs are int/int doubles — bit-exact across engines. All hashes are
md5 hex (portable), never Spark-internal hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_mrdf_spark.io import load_table
from pyspark_mrdf_spark.operators import dedup as D
from pyspark_mrdf_spark.queries import register

# DuckDB-side shingle expression (3-gram over whitespace tokens,
# distinct), kept textually in one place so every oracle agrees.
_TOKS = "string_split(text, ' ')"
_SHINGLES = (
    "list_distinct(list_transform("
    f"generate_series(1, len({_TOKS}) - 2), "
    f"i -> array_to_string(({_TOKS})[i:i+2], ' ')))"
)


def _simhash_vote_sums(bits: int) -> str:
    """DuckDB side of the single-md5 SimHash vote (operators/dedup.py
    simhash): bit j's ±1 vote is bit j%4 of hex char j//4 of
    md5(token). Must stay in exact lockstep with the Spark kernel."""
    return ", ".join(
        "SUM((((strpos('0123456789abcdef', substr(md5(tok), {c}, 1)) - 1) >> {b}) & 1) * 2 - 1) AS s{j}".format(
            c=j // 4 + 1, b=j % 4, j=j
        )
        for j in range(bits)
    )


@register(
    "q40_exact_dup_groups",
    driver=False,  # r8 rotation: 7x driver-green, cedes its slot to q99-q104 (family keeps q42/q46/q77/q78/q79/q82/q91 driver reps)
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50)
SELECT fp, n_copies, doc_ids FROM (
  SELECT md5(text) AS fp, COUNT(*) AS n_copies,
         array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
  FROM corpus GROUP BY md5(text))
WHERE n_copies >= 2
""",
    description="exact dedup: md5 fingerprint groups (corpus augmented with 50 known copies so the operator demonstrably fires)",
    tags=("dedup",),
)
def q40_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    # doc_ids serialized to a csv string: the driver canonicalizer
    # hashes scalar cells only (raw arrays are unhashable there).
    return D.exact_duplicates(d.unionByName(copies)).withColumn(
        "doc_ids", F.array_join(F.col("doc_ids").cast("array<string>"), ",")
    )


def _jaccard_pairs_01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` 3-gram Jaccard pairs at threshold 0.1, memoized
    per session: q41 emits them, q72 clusters them, q73 selects the
    canonical corpus from the clustering — a real dedup pipeline
    computes the pair table once and fans out, so the engine does
    too."""
    from pyspark_mrdf_spark.cache import memoized_df

    return memoized_df(
        spark,
        ("jaccard_pairs", sf_dir, 3, 0.1),
        lambda: D.jaccard_pairs(
            load_table(spark, sf_dir, "documents"), n=3
        ).filter(F.col("jaccard") >= 0.1),
    )


def _dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the memoized pair table (q72's output,
    q73's input), memoized per session."""
    from pyspark_mrdf_spark.cache import memoized_df

    return memoized_df(
        spark,
        ("dup_clusters", sf_dir, 3, 0.1),
        lambda: D.connected_components(_jaccard_pairs_01(spark, sf_dir)),
    )


@register(
    "q41_jaccard_near_dups",
    driver=False,  # r8 rotation: 7x driver-green, cedes its slot to q91-q98 (family keeps q40/q42/q46/q77/q78/q79/q82)
    oracle=f"""
WITH post AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM post GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, inter, sa.sz AS size_a, sb.sz AS size_b,
       CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.1
""",
    description="n-gram Jaccard near-dup detection: shingle posting-list self-join, exact int/int similarity",
    tags=("dedup", "join"),
)
def q41_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_pairs_01(spark, sf_dir)


@register(
    "q42_minhash_signatures",
    driver=False,  # r9 rotation: 4x driver-green, cedes its slot to q119-q136 (dedup keeps q72/q101/q102/q115/q118 + the new q121-q123/q125)
    # promoted r5 (took q06's slot): q42's round-1 red was the one red
    # verdict in the correctness history — array cells crashed the
    # driver canonicalizer. Re-shaped to fully SCALAR rows (one row per
    # (doc, permutation) instead of a serialized array column) so the
    # signature VALUES themselves get a hard hash verdict.
    oracle=f"""
WITH post AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
hs AS (SELECT unnest([0,1,2,3,4,5,6,7]) AS h_idx)
SELECT doc_id, CAST(h_idx AS BIGINT) AS h_idx,
       MIN(md5(CAST(h_idx AS VARCHAR) || ':' || shingle)) AS h_hex
FROM post CROSS JOIN hs
GROUP BY doc_id, h_idx
""",
    description="MinHash signatures (8 salted md5 permutations over 3-gram shingles), exploded to one scalar row per (doc, permutation)",
    tags=("dedup", "minhash"),
)
def q42_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sig = D.minhash_signatures(d, num_hashes=8, n=3)
    return sig.select(
        "doc_id", F.posexplode("signature").alias("h_idx", "h_hex")
    ).withColumn("h_idx", F.col("h_idx").cast("bigint"))


def _minhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH band buckets of ``documents`` (8 hashes, 4×2
    banding), memoized per session: q43 joins them for candidate
    pairs, q78 uses them as the stored corpus index of its
    incremental-ingest pipeline."""
    from pyspark_mrdf_spark.cache import memoized_df

    return memoized_df(
        spark,
        ("minhash_buckets", sf_dir, 8, 4, 2, 3),
        lambda: D.lsh_band_buckets(
            D.minhash_signatures(load_table(spark, sf_dir, "documents"), 8, 3), 4, 2
        ),
    )



@register(
    "q43_lsh_candidates",
    driver=False,  # r8 rotation: 7x driver-green, cedes its slot to q91-q98 (family keeps q42 minhash + q58/q79 band candidates)
    oracle=f"""
WITH post AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
sig AS (
  SELECT doc_id,
         [min(md5('0:' || shingle)), min(md5('1:' || shingle)),
          min(md5('2:' || shingle)), min(md5('3:' || shingle)),
          min(md5('4:' || shingle)), min(md5('5:' || shingle)),
          min(md5('6:' || shingle)), min(md5('7:' || shingle))] AS signature
  FROM post GROUP BY doc_id),
buckets AS (
  SELECT doc_id, band, md5(array_to_string(signature[band*2+1:band*2+2], '|')) AS bucket
  FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS band))
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM buckets a JOIN buckets b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
""",
    description="MinHash-LSH candidate pairs: 4 bands × 2 rows, equi-join on band bucket (no all-pairs scan)",
    tags=("dedup", "minhash", "lsh"),
)
def q43_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.lsh_candidate_pairs(_minhash_buckets(spark, sf_dir))


@register(
    "q44_simhash",
    driver=False,  # pytest-only: simhash computation embedded in q45 near-pairs oracle
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
sums AS (
  SELECT doc_id, {sums}
  FROM tok GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM sums
""".format(
        sums=_simhash_vote_sums(16),
        bits=" + ".join(f"(CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(16)),
    ),
    description="SimHash 16-bit signatures (single-md5 bit-parity votes over tokens with multiplicity)",
    tags=("dedup", "simhash"),
)
def q44_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.simhash(d, bits=16)


def _simhash48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash signature table of ``documents``, memoized per
    session: the signature feeds several plan branches WITHIN q45
    (band slices + both verify sides) and is shared ACROSS q45/q79 —
    one tokenize+vote build per session instead of three."""
    from pyspark_mrdf_spark.cache import memoized_df

    return memoized_df(
        spark,
        ("simhash48", sf_dir),
        lambda: D.simhash(load_table(spark, sf_dir, "documents"), bits=48),
    )


@register(
    "q45_simhash_near_pairs",
    driver=False,  # r8 rotation: 7x driver-green, cedes its slot to q91-q98 (family keeps q79 simhash bands)
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
sums AS (
  SELECT doc_id, {sums}
  FROM tok GROUP BY doc_id),
sh AS (SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM sums)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
""".format(
        sums=_simhash_vote_sums(48),
        bits=" + ".join(f"(CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(48)),
    ),
    description="SimHash near-dup pairs (48-bit signature, Hamming ≤ 2): pigeonhole-banded candidates (3×16-bit bands — any pair within Hamming 2 matches at least one band slice, zero false negatives) + bit_count verify on candidates only; no all-pairs join anywhere in the plan",
    tags=("dedup", "simhash"),
)
def q45_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Candidates come from the banded equi-join (linear in matches, not
    # n²); the bit_count(xor) verify then runs on candidates only. With
    # bands = radius + 1 = 3 the pigeonhole bound makes this EXACTLY
    # the all-pairs result — the same output the oracle computes by
    # brute force. 48 signature bits (not 16): a 2^16 signature space
    # saturates on a corpus of duplicates — every bucket fills and the
    # banding degenerates toward all-pairs; 16-bit band slices keep
    # buckets sparse at any realistic corpus size.
    sh = _simhash48(spark, sf_dir)
    cand = D.simhash_band_candidates(sh, bands=3, bits=48)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= 2)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
    )


_PAIRS_CTE = f"""
post AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM post GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.1),
und AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
  SELECT DISTINCT u, u FROM und
  UNION SELECT r.src, e.v FROM reach r JOIN und e ON r.dst = e.u),
cc AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
"""


@register(
    "q72_dup_clusters",
    oracle=f"""
WITH RECURSIVE {_PAIRS_CTE}
SELECT doc_id, cluster_id FROM cc
""",
    description="near-dup pairs -> duplicate CLUSTERS: connected components via min-label propagation (one join+min per round, O(diameter) rounds) vs a DuckDB recursive-CTE closure oracle",
    tags=("dedup", "graph", "iteration"),
)
def q72_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dup_clusters(spark, sf_dir)


@register(
    "q73_canonical_corpus",
    driver=False,  # r8 rotation: 5x driver-green, cedes its slot to q91-q98 (family keeps q72 clustering)
    # promoted r3: rotated into the driver surface for a hard verdict
    oracle=f"""
WITH RECURSIVE {_PAIRS_CTE}
SELECT d.doc_id FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
WHERE cc.doc_id IS NULL OR cc.cluster_id = d.doc_id
""",
    description="canonical corpus after near-dup clustering: keep each cluster's lowest-id member plus all unpaired docs — the dedup pipeline's final SELECT",
    tags=("dedup", "graph"),
)
def q73_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cc = _dup_clusters(spark, sf_dir)
    return (
        d.join(cc, "doc_id", "left")
        .filter(F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id")))
        .select("doc_id")
    )


@register(
    "q46_embedding_near_dups",
    driver=False,  # r8 fourth rotation: 7x driver-green (embedding near-dup semantics also driver-verified via q102 SemDeDup; dedup keeps q42/q77/q78/q79/q82/q91/q101/q102/q115); cedes its slot to q117
    oracle="""
SELECT src, dst, cos_e6 FROM (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         CAST(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])) * 1000000, 0) AS BIGINT) AS cos_e6
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
WHERE cos_e6 >= 350000
""",
    description="embedding-cosine near-dup pairs (cos >= 0.35, fixed-point gate): exact distributed triangle block join — no driver-side corpus; LSH-verify tier for when n^2 is infeasible",
    tags=("dedup", "vector", "cosine"),
)
def q46_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_near_dups(emb, threshold=0.35)


@register(
    "q77_incremental_dedup",
    driver=False,  # r9 rotation: 6x driver-green, cedes its slot to q119-q136 (incremental dedup stays driver-verified via q118/q125)
    # promoted r3: rotated into the driver surface for a hard verdict
    oracle="""
WITH batch AS (
  SELECT doc_id + 200000 AS doc_id,
         CASE WHEN doc_id < 50 THEN text ELSE text || ' novelsuffix' END AS text
  FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT 300000 AS doc_id, text || ' novelsuffix' FROM documents WHERE doc_id = 60),
corpus_fp AS (SELECT DISTINCT md5(text) AS fp FROM documents),
in_batch_first AS (
  SELECT md5(text) AS fp, MIN(doc_id) AS doc_id FROM batch GROUP BY md5(text))
SELECT b.doc_id
FROM batch b
JOIN in_batch_first f ON b.doc_id = f.doc_id AND md5(b.text) = f.fp
LEFT JOIN corpus_fp c ON md5(b.text) = c.fp
WHERE c.fp IS NULL
""",
    description="incremental exact dedup (operators/dedup.dedup_against): daily batch vs corpus fingerprints — corpus-known texts dropped, in-batch dups keep lowest id, novel docs survive",
    tags=("dedup", "incremental"),
)
def q77_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = d.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.when(F.col("doc_id") < 50, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" novelsuffix")))
        .alias("text"),
    )
    # an in-batch duplicate of doc 60's novel text under a higher id:
    # lowest id must win
    extra = d.filter(F.col("doc_id") == 60).select(
        F.lit(300000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" novelsuffix")).alias("text"),
    )
    return D.dedup_against(batch.unionByName(extra), d).select("doc_id")


@register(
    "q78_incremental_near_dedup",
    driver=False,  # r9 rotation: 6x driver-green, cedes its slot to q119-q136 (near-dup-vs-corpus stays via q118/q122)
    # promoted r3: rotated into the driver surface for a hard verdict
    oracle=f"""
WITH batch AS (
  SELECT doc_id + 400000 AS doc_id, text FROM documents WHERE doc_id < 10
  UNION ALL
  SELECT doc_id + 500000 AS doc_id, reverse(text) AS text
  FROM documents WHERE doc_id >= 100 AND doc_id < 110),
bpost AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM batch),
cpost AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
bsig AS (
  SELECT doc_id,
         [min(md5('0:' || shingle)), min(md5('1:' || shingle)),
          min(md5('2:' || shingle)), min(md5('3:' || shingle)),
          min(md5('4:' || shingle)), min(md5('5:' || shingle)),
          min(md5('6:' || shingle)), min(md5('7:' || shingle))] AS signature
  FROM bpost GROUP BY doc_id),
csig AS (
  SELECT doc_id,
         [min(md5('0:' || shingle)), min(md5('1:' || shingle)),
          min(md5('2:' || shingle)), min(md5('3:' || shingle)),
          min(md5('4:' || shingle)), min(md5('5:' || shingle)),
          min(md5('6:' || shingle)), min(md5('7:' || shingle))] AS signature
  FROM cpost GROUP BY doc_id),
bbuck AS (
  SELECT doc_id, band, md5(array_to_string(signature[band*2+1:band*2+2], '|')) AS bucket
  FROM bsig CROSS JOIN (SELECT unnest([0,1,2,3]) AS band)),
cbuck AS (
  SELECT doc_id, band, md5(array_to_string(signature[band*2+1:band*2+2], '|')) AS bucket
  FROM csig CROSS JOIN (SELECT unnest([0,1,2,3]) AS band)),
cand AS (
  SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS c_id
  FROM bbuck b JOIN cbuck c ON b.band = c.band AND b.bucket = c.bucket),
bsz AS (SELECT doc_id, COUNT(*) AS sz FROM bpost GROUP BY doc_id),
csz AS (SELECT doc_id, COUNT(*) AS sz FROM cpost GROUP BY doc_id),
dup AS (
  SELECT DISTINCT i.b_id FROM (
    SELECT cand.b_id, cand.c_id, COUNT(*) AS inter
    FROM bpost bp JOIN cpost cp ON bp.shingle = cp.shingle
    JOIN cand ON bp.doc_id = cand.b_id AND cp.doc_id = cand.c_id
    GROUP BY cand.b_id, cand.c_id) i
  JOIN bsz ON i.b_id = bsz.doc_id JOIN csz ON i.c_id = csz.doc_id
  WHERE CAST(i.inter AS DOUBLE) / (bsz.sz + csz.sz - i.inter) >= 0.5)
SELECT b.doc_id FROM batch b LEFT JOIN dup ON b.doc_id = dup.b_id
WHERE dup.b_id IS NULL
""",
    description="incremental NEAR-dup dedup (operators/dedup.near_dedup_against): LSH band-bucket candidates batch-vs-corpus + exact Jaccard verify — copies dropped, shuffled-text novels kept; full pipeline mirrored in the SQL oracle",
    tags=("dedup", "incremental", "lsh"),
)
def q78_incremental_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 400000).alias("doc_id"), "text"
    )
    novel = d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 110)).select(
        (F.col("doc_id") + 500000).alias("doc_id"), F.reverse("text").alias("text")
    )
    batch = copies.unionByName(novel)
    # the band buckets are the stored corpus index of the production
    # shape (shared with q43 via the session registry — bounded: one
    # 3-column row per (doc, band)). The shingle POSTINGS stay a lazy
    # plan on purpose: they are corpus-text-sized, and the registry's
    # rule is bounded outputs only — the operator's candidate semi-join
    # prunes them before any materialization.
    return D.near_dedup_against(
        batch,
        d,
        threshold=0.5,
        corpus_buckets=_minhash_buckets(spark, sf_dir),
    ).select("doc_id")


@register(
    "q79_simhash_band_candidates",
    driver=False,  # r9 rotation: 6x driver-green, cedes its slot to q119-q136 (banding stays via q122/q123 persisted buckets)
    # promoted r3: rotated into the driver surface for a hard verdict.
    # r5: 16-bit signature → 48-bit. Profiling at sf0.1 showed the
    # 16-bit banding SATURATED (5/5/6-bit slices = 32-64 buckets; 5000
    # docs → 3.08M candidate pairs, a quarter of all-pairs — the exact
    # degeneration q45's comment predicts). 3×16-bit slices of a
    # 48-bit signature keep 65536 buckets per band: candidates collapse
    # to the genuinely-colliding pairs and the pigeonhole guarantee
    # (Hamming ≤ 2 ⇒ some band matches) is unchanged.
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
sums AS (
  SELECT doc_id, {sums}
  FROM tok GROUP BY doc_id),
sh AS (SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM sums),
slices AS (
  SELECT doc_id, band, (simhash >> (band * 16)) & 65535 AS slice
  FROM sh CROSS JOIN (SELECT unnest([0, 1, 2]) AS band))
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM slices a JOIN slices b
  ON a.band = b.band AND a.slice = b.slice AND a.doc_id < b.doc_id
""".format(
        sums=_simhash_vote_sums(48),
        bits=" + ".join(f"(CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(48)),
    ),
    description="SimHash pigeonhole banding (3×16-bit slices of the 48-bit signature): candidate pairs sharing any band slice — guaranteed superset of all pairs within Hamming distance 2, buckets stay sparse at corpus scale; the scale path q45's exact variant needs",
    tags=("dedup", "simhash", "lsh"),
)
def q79_simhash_band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_band_candidates(_simhash48(spark, sf_dir), bands=3, bits=48)


@register(
    "q82_decontamination",
    driver=False,  # r9 rotation: 2x driver-green, cedes its slot to q119-q136 (containment semantics pytest-covered; dedup keeps 8+ driver reps)
    # promoted r7 (VERDICT r6 ask #1): marquee pipeline operator, needs a
    # hard driver verdict; slot ceded by q33 (4x driver-green)
    oracle=f"""
WITH evalset AS (
  SELECT doc_id + 900000 AS doc_id, text FROM documents WHERE doc_id < 5
  UNION ALL
  SELECT doc_id + 910000 AS doc_id,
         array_to_string(({_TOKS})[1:len({_TOKS})//2], ' ') AS text
  FROM documents WHERE doc_id >= 10 AND doc_id < 15),
tpost AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
epost AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM evalset),
esz AS (SELECT doc_id, COUNT(*) AS eval_sz FROM epost GROUP BY doc_id),
pairs AS (
  SELECT t.doc_id AS train_id, e.doc_id AS eval_id, COUNT(*) AS inter
  FROM tpost t JOIN epost e USING (shingle) GROUP BY 1, 2)
SELECT p.train_id, p.eval_id,
       CAST(p.inter AS BIGINT) AS inter,
       CAST(s.eval_sz AS BIGINT) AS eval_sz,
       CAST(p.inter * 1000000 // s.eval_sz AS BIGINT) AS containment_e6
FROM pairs p JOIN esz s ON p.eval_id = s.doc_id
WHERE p.inter * 1000000 // s.eval_sz >= 500000
""",
    description=(
        "train/eval DECONTAMINATION (operators/dedup.contamination_pairs): "
        "asymmetric n-gram containment |train∩eval|/|eval| over a broadcast "
        "eval posting list — catches full-copy AND substring leakage "
        "(prefix-half eval docs score 1.0 where symmetric Jaccard dilutes); "
        "exact integer fixed-point, no float division"
    ),
    tags=("dedup", "decontamination", "pipeline"),
)
def q82_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    leaked = d.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    # substring leakage: the first half of a train doc's tokens — full
    # containment in its source even though Jaccard would be ~0.5
    prefixes = d.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 15)).select(
        (F.col("doc_id") + 910000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.floor(F.size(toks) / 2).cast("int"))
        ).alias("text"),
    )
    eval_set = leaked.unionByName(prefixes)
    return D.contamination_pairs(d, eval_set, n=3).filter(
        F.col("containment_e6") >= 500_000
    )


# q101: substring-level exact dedup (ExactSubstr). Selection is
# CONTENT-defined (fingerprint mod _SSD_S == 0 — Manber's mod-p
# sampling), never positional: copies of a run select the same gram
# offsets wherever they sit, so detection is alignment-free; a
# duplicated run of length R is missed with prob ~(3/4)^(R-39)
# (<0.1% at R >= 64) and false spans are impossible. The corpus has
# dozens of documents with repeated runs at every sf, so the stats
# are non-trivial.
_SSD_L, _SSD_S = 40, 4
# min occurrences for a selected gram to mark its positions (the
# oracle CTE's cnt >= 2) — part of the span-table memo key
_SSD_MC = 2

# shared span-detection CTE chain (q101 stats + q109 scrub): one
# textual source so the two oracles cannot drift
_SSD_SPANS_CTE = f"""occ AS (
  SELECT doc_id, CAST(p AS BIGINT) AS pos, fp FROM (
    SELECT doc_id, p, md5(substr(text, CAST(p AS INTEGER), {_SSD_L})) AS fp
    FROM documents, UNNEST(generate_series(1, n_chars - {_SSD_L} + 1)) AS t(p)
    WHERE n_chars >= {_SSD_L})
  WHERE CAST(concat('0x', substr(fp, 1, 8)) AS BIGINT) % {_SSD_S} = 0),
hot AS (SELECT fp FROM occ GROUP BY fp HAVING COUNT(*) >= 2),
m AS (SELECT o.doc_id, o.pos FROM occ o JOIN hot USING (fp)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos > COALESCE(MAX(pos + {_SSD_L} - 1) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS new_span
  FROM m),
islands AS (
  SELECT doc_id, pos,
         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
  FROM flagged),
spans AS (
  SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + {_SSD_L} - 1 AS e
  FROM islands GROUP BY doc_id, span_id)"""


def _ssd_span_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The detected (doc_id, span_id, s, e) table at the registry
    dials, built once per session and shared by q101 (stats) and q109
    (scrub) — the span table is output-sized (docs with duplicated
    runs), exactly what the materialization registry is for."""
    from pyspark_mrdf_spark.cache import memoized_df

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        return D.dup_substring_span_table(
            d, gram_len=_SSD_L, sample_mod=_SSD_S, min_count=_SSD_MC
        )

    # key captures EVERY detection dial (cache.py safety rule) — the
    # column names stay at the documents-table defaults by contract
    return memoized_df(
        spark, ("ssd_span_table", sf_dir, _SSD_L, _SSD_S, _SSD_MC), build
    )


@register(
    "q101_substring_dedup",
    # registered r8, promoted immediately: the marquee dedup addition
    # of the round takes a slot freed by the 7x-green q40
    oracle=f"""
WITH {_SSD_SPANS_CTE},
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars
  FROM spans GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(p.n_spans, 0) AS n_spans,
       COALESCE(p.dup_chars, 0) AS dup_chars,
       CAST(COALESCE(p.dup_chars, 0) * 1000000 // d.n_chars AS BIGINT) AS dup_frac_e6
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""",
    description=(
        "substring-level exact dedup (Lee et al. 2022 ExactSubstr, "
        "fingerprint-join design): every char 40-gram is md5-fingerprinted, "
        "grams with fp mod 4 == 0 are selected (CONTENT-defined sampling - "
        "alignment-free, copies select identical offsets), corpus-wide "
        "counts mark positions whose selected gram repeats anywhere "
        "(cross- or within-document), overlapping marks merge into maximal "
        "spans per document; emits per-doc span count / duplicated chars / "
        "integer-exact duplicated fraction"
    ),
    tags=("dedup", "text", "pipeline"),
)
def q101_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape (vs the paper's suffix array, which needs a global
    sort of every suffix): one count agg on 16-byte fingerprints + one
    fingerprint equi-join + two per-doc window passes. The gram TEXT
    never leaves the first projection — only fingerprints shuffle."""
    d = load_table(spark, sf_dir, "documents")
    # span_table supplies the detection result, so the gram dials
    # live in ONE place (_ssd_span_table) — passing them here too
    # would read as if they were in effect
    spans = D.dup_substring_spans(
        d, span_table=_ssd_span_table(spark, sf_dir)
    )
    dup_chars = F.coalesce("dup_chars", F.lit(0)).cast("bigint")
    return (
        d.select("doc_id", "n_chars")
        .join(spans, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            dup_chars.alias("dup_chars"),
            F.expr(
                "CAST(coalesce(dup_chars, 0) * 1000000 div n_chars AS BIGINT)"
            ).alias("dup_frac_e6"),
        )
    )


# q102 SemDeDup config. Seed 7 decorrelates the training sample from
# q57's IVF sample (seed 42); 8 clusters over the 500-row corpus give
# ~60-row cells; tau = q46's 0.35 fixed-point gate (85/500 rows marked
# dup at every sf — non-trivial both ways).
_SEMDEDUP_CFG = dict(n_clusters=8, sample_size=512, iters=8, seed=7, threshold_e6=350000)


def _q102_oracle(sf_dir: str) -> str:
    """Replays the engine's EXACT centroid training (md5-ordered
    sample through the same ``lloyd_centroids`` NumPy code on
    DuckDB-loaded rows — q57's technique) and inlines the bit-identical
    centroids as literals; cluster assignment uses the un-sqrted
    squared-L2 ordering with cent_id tie-break (q95's discipline),
    cosine uses q46's fixed-point 1e6 rounding rule."""
    import duckdb

    import numpy as np

    from pyspark_mrdf_spark.operators.similarity import lloyd_centroids

    cfg = _SEMDEDUP_CFG
    rows = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY md5('{cfg['seed']}:' || CAST(vec_id AS VARCHAR)) "
        f"LIMIT {cfg['sample_size']}"
    ).fetchall()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    cents = lloyd_centroids(x, cfg["n_clusters"], cfg["iters"])
    d = x.shape[1]
    vals = ",\n  ".join(
        "({}, CAST([{}] AS DOUBLE[]))".format(
            i, ", ".join(repr(float(v)) for v in cents[i])
        )
        for i in range(len(cents))
    )
    return f"""
WITH cent(cent_id, cent_vec) AS (VALUES
  {vals}),
asgn AS (
  SELECT vec_id, cell AS cluster, embedding FROM (
    SELECT e.vec_id, c.cent_id AS cell, e.embedding,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_sum(list_transform(generate_series(1, {d}),
                      i -> (CAST(e.embedding[i] AS DOUBLE) - c.cent_vec[i])
                         * (CAST(e.embedding[i] AS DOUBLE) - c.cent_vec[i]))),
                      c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
prev AS (
  SELECT a.vec_id,
         MAX(CAST(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                               CAST(b.embedding AS DOUBLE[])) * 1000000, 0) AS BIGINT)) AS best
  FROM asgn a JOIN asgn b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
  GROUP BY a.vec_id)
SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
       CAST(COALESCE(p.best, -1) AS BIGINT) AS max_prev_cos_e6,
       COALESCE(p.best, -1) < {cfg["threshold_e6"]} AS keep
FROM asgn a LEFT JOIN prev p ON a.vec_id = p.vec_id
"""


@register(
    "q102_semantic_dedup",
    # registered r8, promoted immediately: takes a slot freed by the
    # 7x-green q51 (vector family keeps q50/q56/q57/q80/q86/q89/q92/
    # q95/q97/q98 driver reps; q57 is q51's trained superset)
    oracle=_q102_oracle,
    description=(
        "SemDeDup (Abbas et al. 2023) semantic dedup: Lloyd-cluster the "
        "embedding space (8 cells, seeded md5-ordered sample), then mark "
        "rows with a smaller-id SAME-CLUSTER neighbor at cosine >= 0.35 "
        "as semantic duplicates — clustering bounds the pairwise step to "
        "within-cluster n2; training replays bit-identically in the "
        "oracle, assignment rides the un-sqrted rank-portable ordering, "
        "cosine the q46 fixed-point gate"
    ),
    tags=("dedup", "vector", "cluster", "pipeline"),
)
def q102_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.similarity import ivf_train_centroids

    cfg = _SEMDEDUP_CFG
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_train_centroids(
        emb,
        n_centroids=cfg["n_clusters"],
        sample_size=cfg["sample_size"],
        iters=cfg["iters"],
        seed=cfg["seed"],
    )
    return D.semantic_dedup(emb, cents, threshold_e6=cfg["threshold_e6"])


@register(
    "q109_substring_scrub",
    # promoted r8 (third rotation): hard verdict for the ExactSubstr REMOVE half
    oracle=f"""
WITH {_SSD_SPANS_CTE},
sps AS (
  SELECT doc_id, list(struct_pack(s := s, e := e)) AS sp_list FROM spans GROUP BY doc_id),
scrubbed AS (
  SELECT d.doc_id,
         CASE WHEN sp.doc_id IS NULL THEN d.text
              -- COALESCE: DuckDB's array_to_string of an EMPTY list is
              -- NULL, and a fully-duplicated doc keeps zero chars
              ELSE COALESCE(array_to_string(list_transform(
                     list_filter(generate_series(1, d.n_chars),
                       p -> NOT list_aggregate(list_transform(sp.sp_list,
                              x -> p >= x.s AND p <= x.e), 'bool_or')),
                     p -> substr(d.text, CAST(p AS INTEGER), 1)), ''), '')
         END AS clean_text
  FROM documents d LEFT JOIN sps sp USING (doc_id))
SELECT doc_id, md5(clean_text) AS clean_md5,
       CAST(length(clean_text) AS BIGINT) AS clean_chars
FROM scrubbed
""",
    description=(
        "the REMOVE half of ExactSubstr dedup: delete every char covered "
        "by a detected duplicated span (q101's span table, shared CTE so "
        "the oracles cannot drift) and emit the cleaned text's md5 + "
        "length — pure per-doc higher-order array exprs after the span "
        "agg, zero Python; hashing the scrubbed text makes the verdict "
        "byte-level"
    ),
    tags=("dedup", "text", "pipeline"),
    driver=False,  # r10 rotation: 2x driver-green (r8,r9), cedes its slot to q137-q155 (substring family stays via q101)
)
def q109_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.scrub_dup_substrings(
        d, span_table=_ssd_span_table(spark, sf_dir)
    ).select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "clean_chars",
    )


@register(
    "q115_contrastive_pairs",
    # promoted r8 (fourth rotation): q07/q12/q19/q29/q64/q66 ceded slots
    oracle=f"""
WITH post AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
sig AS (
  SELECT doc_id,
         [min(md5('0:' || shingle)), min(md5('1:' || shingle)),
          min(md5('2:' || shingle)), min(md5('3:' || shingle)),
          min(md5('4:' || shingle)), min(md5('5:' || shingle)),
          min(md5('6:' || shingle)), min(md5('7:' || shingle))] AS signature
  FROM post GROUP BY doc_id),
buckets AS (
  SELECT doc_id, band, md5(array_to_string(signature[band*2+1:band*2+2], '|')) AS bucket
  FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS band)),
cand AS (
  SELECT DISTINCT a.doc_id AS anchor, b.doc_id AS positive
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
n AS (SELECT COUNT(*) AS c FROM documents),
g0 AS (
  SELECT anchor, positive, (37 * anchor + 101 * positive + 7) % c AS g
  FROM cand, n),
g1 AS (
  SELECT anchor, positive,
         (g + CASE WHEN g = anchor OR g = positive THEN 1 ELSE 0 END)
           % (SELECT c FROM n) AS g
  FROM g0)
SELECT anchor, positive,
       CAST((g + CASE WHEN g = anchor OR g = positive THEN 1 ELSE 0 END)
         % (SELECT c FROM n) AS BIGINT) AS negative
FROM g1
""",
    description=(
        "contrastive training-pair mining — the (anchor, positive, "
        "negative) triples embedding-model fine-tuning data (DPR/E5-style) "
        "is built from: positives are MinHash-LSH near-dup candidates "
        "(the session-memoized q43 band buckets, an equi-join — no "
        "all-pairs scan), negatives are a closed-form hash of the pair "
        "over the contiguous id space with two +1 adjustment steps "
        "guaranteeing the draw avoids both pair members — O(pairs) work, "
        "no pairs-by-corpus join, bit-exact on any engine"
    ),
    tags=("dedup", "pipeline", "contrastive", "minhash"),
    driver=False,  # r10 rotation: 2x driver-green (r8,r9), cedes its slot to q137-q155 (pair mining pytest-covered; dedup keeps q101/q102/q122/q125)
)
def q115_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = D.lsh_candidate_pairs(_minhash_buckets(spark, sf_dir)).select(
        F.col("doc_a").alias("anchor"), F.col("doc_b").alias("positive")
    )
    n = load_table(spark, sf_dir, "documents").count()
    a, p = F.col("anchor"), F.col("positive")

    def adjust(g):
        return (g + F.when((g == a) | (g == p), 1).otherwise(0)) % n

    g = adjust(adjust((37 * a + 101 * p + 7) % n))
    return cand.select("anchor", "positive", g.cast("bigint").alias("negative"))


@register(
    "q118_bloom_incremental_dedup",
    # new r8, promoted same-round (fourth rotation): see DRIVER_SURFACE
    oracle="""
WITH batch AS (
  SELECT doc_id + 200000 AS doc_id,
         CASE WHEN doc_id < 50 THEN text ELSE text || ' novelsuffix' END AS text
  FROM documents WHERE doc_id < 100),
corpus_fp AS (SELECT DISTINCT md5(text) AS fp FROM documents),
setbits AS (
  SELECT DISTINCT
         CAST(concat('0x', substr(md5(CAST(j AS VARCHAR) || ':' || fp), 1, 8)) AS BIGINT)
           % 131072 AS pos
  FROM corpus_fp, generate_series(1, 4) AS g(j)),
probe AS (
  SELECT b.doc_id, md5(b.text) AS fp,
         CAST(concat('0x', substr(md5(CAST(j AS VARCHAR) || ':' || md5(b.text)), 1, 8)) AS BIGINT)
           % 131072 AS pos
  FROM batch b, generate_series(1, 4) AS g(j)),
hits AS (
  SELECT p.doc_id, p.fp,
         SUM(CASE WHEN s.pos IS NOT NULL THEN 1 ELSE 0 END) = 4 AS bloom_hit
  FROM probe p LEFT JOIN setbits s ON p.pos = s.pos
  GROUP BY p.doc_id, p.fp)
SELECT h.doc_id, h.bloom_hit,
       h.bloom_hit AND c.fp IS NOT NULL AS is_dup
FROM hits h LEFT JOIN corpus_fp c ON h.fp = c.fp
""",
    description=(
        "incremental exact dedup with a BLOOM-FILTER membership "
        "prefilter (operators/dedup.bloom_dedup_against): the corpus "
        "fingerprint set compacts to a 16 KiB bitmap (md5-derived "
        "positions, 4 hashes — deterministic on any engine), the batch "
        "probes it with pure JVM shift arithmetic and ONLY bloom-hit "
        "rows enter the exact semi-join — definite-new rows never "
        "shuffle. The pruning decision itself (bloom_hit) is part of "
        "the verdict, not just the final is_dup: Spark's runtime "
        "bloom-join pattern made explicit and cross-engine-checkable"
    ),
    tags=("dedup", "incremental", "sketch"),
    driver=False,  # r10 rotation: 2x driver-green (r8,r9), cedes its slot to q137-q155 (incremental dedup stays via q122/q125)
)
def q118_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = d.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.when(F.col("doc_id") < 50, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" novelsuffix")))
        .alias("text"),
    )
    return D.bloom_dedup_against(batch, d)


def _dedup_index_path(spark: SparkSession, sf_dir: str) -> str:
    """The per-(process, sf) persisted dedup index of the documents
    corpus (default banding params — the q43/q78 config): built on
    first use, then served read-only, as deployed."""
    from pyspark_mrdf_spark.cache import memoized_path
    from pyspark_mrdf_spark.operators.dedup_index import write_dedup_index

    def _build(path: str) -> None:
        d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        write_dedup_index(d, path)

    return memoized_path(("dedup_idx", sf_dir), _build)


@register(
    "q122_persisted_dedup_index",
    # promoted r9: takes a slot ceded by the multi-green r9 rotation
    # (see tests/test_oracle_queries.py DRIVER_SURFACE)
    oracle=f"""
WITH batch AS (
  SELECT doc_id + 400000 AS doc_id, text FROM documents
  WHERE doc_id >= 10 AND doc_id < 20
  UNION ALL
  SELECT doc_id + 500000 AS doc_id, reverse(text) AS text
  FROM documents WHERE doc_id >= 110 AND doc_id < 120),
bpost AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM batch),
cpost AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
bsig AS (
  SELECT doc_id,
         [min(md5('0:' || shingle)), min(md5('1:' || shingle)),
          min(md5('2:' || shingle)), min(md5('3:' || shingle)),
          min(md5('4:' || shingle)), min(md5('5:' || shingle)),
          min(md5('6:' || shingle)), min(md5('7:' || shingle))] AS signature
  FROM bpost GROUP BY doc_id),
csig AS (
  SELECT doc_id,
         [min(md5('0:' || shingle)), min(md5('1:' || shingle)),
          min(md5('2:' || shingle)), min(md5('3:' || shingle)),
          min(md5('4:' || shingle)), min(md5('5:' || shingle)),
          min(md5('6:' || shingle)), min(md5('7:' || shingle))] AS signature
  FROM cpost GROUP BY doc_id),
bbuck AS (
  SELECT doc_id, band, md5(array_to_string(signature[band*2+1:band*2+2], '|')) AS bucket
  FROM bsig CROSS JOIN (SELECT unnest([0,1,2,3]) AS band)),
cbuck AS (
  SELECT doc_id, band, md5(array_to_string(signature[band*2+1:band*2+2], '|')) AS bucket
  FROM csig CROSS JOIN (SELECT unnest([0,1,2,3]) AS band)),
cand AS (
  SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS c_id
  FROM bbuck b JOIN cbuck c ON b.band = c.band AND b.bucket = c.bucket),
bsz AS (SELECT doc_id, COUNT(*) AS sz FROM bpost GROUP BY doc_id),
csz AS (SELECT doc_id, COUNT(*) AS sz FROM cpost GROUP BY doc_id),
dup AS (
  SELECT DISTINCT i.b_id FROM (
    SELECT cand.b_id, cand.c_id, COUNT(*) AS inter
    FROM bpost bp JOIN cpost cp ON bp.shingle = cp.shingle
    JOIN cand ON bp.doc_id = cand.b_id AND cp.doc_id = cand.c_id
    GROUP BY cand.b_id, cand.c_id) i
  JOIN bsz ON i.b_id = bsz.doc_id JOIN csz ON i.c_id = csz.doc_id
  WHERE CAST(i.inter AS DOUBLE) / (bsz.sz + csz.sz - i.inter) >= 0.5)
SELECT b.doc_id FROM batch b LEFT JOIN dup ON b.doc_id = dup.b_id
WHERE dup.b_id IS NULL
""",
    description=(
        "PERSISTED-INDEX incremental near-dedup serving "
        "(operators/dedup_index.py — the dedup twin of q98's persisted "
        "ANN index): write_dedup_index stores fps (16 B/doc exact tier), "
        "band buckets (partitioned BY BAND), shingle postings, and the "
        "FROZEN banding params; read_dedup_index + "
        "near_dedup_against_index then serve an ingest batch with corpus "
        "TEXT never read — candidates equi-join the stored buckets, "
        "verify runs on candidate-pruned stored postings. Oracle is "
        "q78's inline-pipeline SQL (different batch window) — the "
        "persisted path must be row-identical to inline computation, "
        "which is exactly the claim (roundtrip/append/frozen-params "
        "laws in tests/test_dedup_index.py)"
    ),
    tags=("dedup", "incremental", "lsh", "pipeline", "sink"),
)
def q122_persisted_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.dedup_index import (
        near_dedup_against_index,
        read_dedup_index,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)).select(
        (F.col("doc_id") + 400000).alias("doc_id"), "text"
    )
    novel = d.filter((F.col("doc_id") >= 110) & (F.col("doc_id") < 120)).select(
        (F.col("doc_id") + 500000).alias("doc_id"), F.reverse("text").alias("text")
    )
    idx = read_dedup_index(spark, _dedup_index_path(spark, sf_dir))
    return near_dedup_against_index(
        copies.unionByName(novel), idx, threshold=0.5
    ).select("doc_id")


@register(
    "q123_dedup_index_stats",
    # promoted r9: takes a slot ceded by the multi-green r9 rotation
    # (see tests/test_oracle_queries.py DRIVER_SURFACE)
    oracle=f"""
WITH post AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
sig AS (
  SELECT doc_id,
         [min(md5('0:' || shingle)), min(md5('1:' || shingle)),
          min(md5('2:' || shingle)), min(md5('3:' || shingle)),
          min(md5('4:' || shingle)), min(md5('5:' || shingle)),
          min(md5('6:' || shingle)), min(md5('7:' || shingle))] AS signature
  FROM post GROUP BY doc_id),
buckets AS (
  SELECT doc_id, band, md5(array_to_string(signature[band*2+1:band*2+2], '|')) AS bucket
  FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS band)),
sizes AS (
  SELECT band, bucket, COUNT(*) AS sz FROM buckets GROUP BY 1, 2)
SELECT CAST(band AS BIGINT) AS band,
       CAST(SUM(sz) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(sz) AS BIGINT) AS max_bucket,
       CAST(SUM(CASE WHEN sz >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS hot_buckets,
       CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs,
       CAST(SUM(sz) * 1000000 // COUNT(*) AS BIGINT) AS occupancy_e6
FROM sizes GROUP BY band
""",
    description=(
        "dedup-index occupancy monitoring (operators/dedup_index."
        "dedup_index_stats — the LSH twin of q105's ANN-cell monitor): "
        "per-band bucket counts, max bucket size, hot-bucket count, and "
        "candidate-pair mass Σ sz·(sz−1)/2 over the STORED q122 index — "
        "the numbers a deployment watches for banding saturation (q79's "
        "degeneration mode) to trigger a stoplist or re-band; reads only "
        "the stored bucket table, two equi-key aggs, exact integers; "
        "oracle replays bucket derivation from the corpus text"
    ),
    tags=("dedup", "lsh", "monitoring", "pipeline"),
)
def q123_dedup_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.dedup_index import (
        dedup_index_stats,
        read_dedup_index,
    )

    idx = read_dedup_index(spark, _dedup_index_path(spark, sf_dir))
    return dedup_index_stats(idx)


@register(
    "q125_persisted_exact_dedup",
    # promoted r9: takes a slot ceded by the multi-green r9 rotation
    # (see tests/test_oracle_queries.py DRIVER_SURFACE)
    oracle="""
WITH batch AS (
  SELECT doc_id + 600000 AS doc_id, text FROM documents
  WHERE doc_id >= 30 AND doc_id < 40
  UNION ALL
  SELECT doc_id + 700000 AS doc_id, text || ' novelsuffix' AS text
  FROM documents WHERE doc_id >= 130 AND doc_id < 140
  UNION ALL
  SELECT 800000 AS doc_id, text || ' novelsuffix2' AS text
  FROM documents WHERE doc_id = 130
  UNION ALL
  SELECT 800001 AS doc_id, text || ' novelsuffix2' AS text
  FROM documents WHERE doc_id = 130),
fp AS (SELECT doc_id, md5(text) AS fp FROM batch),
first AS (SELECT fp, MIN(doc_id) AS doc_id FROM fp GROUP BY fp),
corpus_fp AS (SELECT DISTINCT md5(text) AS fp FROM documents)
SELECT b.doc_id, b.text
FROM batch b
JOIN fp USING (doc_id)
JOIN first ON first.fp = fp.fp AND first.doc_id = b.doc_id
LEFT JOIN corpus_fp ON corpus_fp.fp = fp.fp
WHERE corpus_fp.fp IS NULL
""",
    description=(
        "PERSISTED-INDEX exact dedup serving (operators/dedup_index."
        "dedup_against_index — q122's exact-tier sibling): the batch "
        "probes the STORED 16 B/doc fingerprint set (fps/ of the q122 "
        "index; corpus text never read, the join ships md5 keys only), "
        "exact copies drop, suffixed variants survive, and the in-batch "
        "lowest-id-wins rule is under the hash verdict via two planted "
        "in-batch duplicates (800000 kept, 800001 dropped)"
    ),
    tags=("dedup", "incremental", "pipeline"),
)
def q125_persisted_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.dedup_index import (
        dedup_against_index,
        read_dedup_index,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 40)).select(
        (F.col("doc_id") + 600000).alias("doc_id"), "text"
    )
    novel = d.filter((F.col("doc_id") >= 130) & (F.col("doc_id") < 140)).select(
        (F.col("doc_id") + 700000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" novelsuffix")).alias("text"),
    )
    src = d.filter(F.col("doc_id") == 130).select(
        F.concat(F.col("text"), F.lit(" novelsuffix2")).alias("text")
    )
    in_batch_dups = src.select(F.lit(800000).cast("long").alias("doc_id"), "text").unionByName(
        src.select(F.lit(800001).cast("long").alias("doc_id"), "text")
    )
    batch = copies.unionByName(novel).unionByName(in_batch_dups)
    idx = read_dedup_index(spark, _dedup_index_path(spark, sf_dir))
    return dedup_against_index(batch, idx)


# --- q146: prefix-filtered thresholded Jaccard -------------------------------
#
# Same OUTPUT as q41 filtered to jaccard >= 0.8, different PLAN: the
# prefix-filter lemma (Chaudhuri 2006 / Bayardo 2007) bounds the
# candidate join to each doc's rarest |s| - ceil(t|s|) + 1 shingles in
# one global (df, shingle) order — the lossless version of the max_df
# stoplist. The oracle runs the FULL posting self-join + threshold, so
# the hash verdict proves the pruned plan is complete, which is the
# entire point of the lemma.

_PREFIX_T_E2 = 80


@register(
    "q146_jaccard_prefix_filtered",
    driver=True,  # promoted r10: owed rotation for the r9-registered operators
    oracle=f"""
WITH post AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM post GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, inter, sa.sz AS size_a, sb.sz AS size_b,
       CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) * 100 >= {_PREFIX_T_E2}
""",
    description=(
        "thresholded Jaccard (>=0.8) via lossless prefix filtering: "
        "candidate join on each doc's rarest (1-t) shingle prefix in a "
        "global df order + exact verify on candidates; oracle runs the "
        "full self-join, so the hash verdict proves completeness"
    ),
    tags=("dedup", "join", "prefix-filter"),
)
def q146_jaccard_prefix_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-confidence near-dup pairs with the candidate join bounded
    by the prefix-filter lemma.

    Scale shape: the share-one-shingle join's fan-out concentrates in
    hot shingles; the prefix join runs only on each doc's rarest
    shingles (the (1-t) fraction), then verification touches candidate
    pairs only — provably no pair lost (equivalence pinned at t=0.7/
    0.8/0.9 in tests/test_dedup_tiers.py, oracle replays the unpruned
    plan)."""
    from pyspark_mrdf_spark.operators.dedup import jaccard_pairs_prefix

    d = load_table(spark, sf_dir, "documents")
    return jaccard_pairs_prefix(d, threshold_e2=_PREFIX_T_E2)
