"""Training-data pipeline operators beyond the reference's surface:
shard packing (token-budget bin packing of a corpus into training
shards) and deterministic mixture sampling (per-language rates) — the
two ops that turn a cleaned corpus into an actual training mix.

Rotated onto the 50-slot driver surface in round 3 (they had only
pytest-gate evidence in round 2); twice-green scalar-function and text
siblings ceded the slots.

Portability discipline: sampling uses md5-derived uniforms (identical
hex on both engines — the repo-wide rule; Spark's ``rand`` is not
reproducible in SQL), and shard ids come from integer token counts, so
both outputs are bit-exact across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_mrdf_spark.cache import memoized_path
from pyspark_mrdf_spark.functions import text as T
from pyspark_mrdf_spark.io import load_table
from pyspark_mrdf_spark.operators.util import checkpoint
from pyspark_mrdf_spark.queries import register

SHARD_TOKEN_BUDGET = 512

_N_TOK_SQL = "CAST(len(string_split(text, ' ')) AS BIGINT)"


def shard_id_col(tok: Column, part_col: str = "source", order_col: str = "doc_id",
                 budget: int = SHARD_TOKEN_BUDGET) -> Column:
    """Token-budget shard id: the shard where the doc STARTS under a
    per-``part_col`` running token count (shared by q70 and
    scripts/pipeline_demo.py so the demo can't diverge)."""
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return F.floor((F.sum(tok).over(w) - tok) / F.lit(float(budget))).cast("bigint")


def mixture_uniform_col(id_col: str = "doc_id") -> Column:
    """Portable uniform in [0,1): first 8 md5 hex chars of the id —
    identical on any engine, any partitioning (shared by q71 and the
    pipeline demo)."""
    return (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        / F.lit(4294967296.0)
    )


def mixture_rate_col(lang_col: str = "lang") -> Column:
    """Per-language keep rate from MIXTURE_RATES (default rate else)."""
    rate = F.lit(_DEFAULT_RATE)
    for k, v in MIXTURE_RATES.items():
        rate = F.when(F.col(lang_col) == k, F.lit(v)).otherwise(rate)
    return rate


@register(
    "q70_shard_packing",
    driver=False,  # r8 rotation: driver-green since r3, cedes its slot to q99-q104 — q103 concat-and-chunk packing is its production superset
    # promoted r3: rotated into the driver surface for a hard verdict
    oracle=f"""
SELECT doc_id, source, {_N_TOK_SQL} AS n_tok,
       CAST(floor((SUM({_N_TOK_SQL}) OVER (PARTITION BY source ORDER BY doc_id
                                           ROWS UNBOUNDED PRECEDING)
                   - {_N_TOK_SQL}) / {SHARD_TOKEN_BUDGET}.0) AS BIGINT) AS shard_id
FROM documents
""",
    description=f"token-budget shard packing: per-source running token count assigns each doc the shard where it starts ({SHARD_TOKEN_BUDGET}-token shards); per-source windows keep the cumulative sum parallel (one partition per source, never a global sort)",
    tags=("pipeline", "window", "text"),
)
def q70_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-token-budget training shards, stably
    ordered by doc_id within source.

    Scale note: the cumulative sum is windowed PER SOURCE, so each
    source packs independently in parallel — the global-order variant
    would serialize the whole corpus through one task. At 100 TB, use
    as many pack-keys (source × date × …) as you want shard-writer
    parallelism."""
    d = load_table(spark, sf_dir, "documents")
    tok = T.n_tokens("text").cast("bigint")
    return d.select(
        "doc_id",
        "source",
        tok.alias("n_tok"),
        shard_id_col(tok).alias("shard_id"),
    )


# per-language mixture rates: upsample-ish English, thin the rest —
# the shape of a real pretraining mix (values arbitrary but fixed)
MIXTURE_RATES = {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.25, "it": 0.25}
_DEFAULT_RATE = 0.1


KMV_K = 16  # small: the synthetic corpus has ~31 distinct tokens per lang


@register(
    "q74_kmv_distinct_sketch",
    driver=False,  # r8 third rotation: green r3-r7, sketch coverage keeps q106; cedes to q105-q110
    # promoted r3: rotated into the driver surface for a hard verdict
    oracle=f"""
WITH h AS (
  SELECT DISTINCT lang, md5(tok) AS hash FROM (
    SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)),
ranked AS (
  SELECT lang, hash,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hash) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n_exact
  FROM h)
SELECT lang,
       CAST(round(({KMV_K} - 1) /
            (CAST(concat('0x', substr(hash, 1, 8)) AS BIGINT) / 4294967296.0), 0) AS BIGINT)
         AS est_distinct,
       n_exact AS true_distinct
FROM ranked WHERE rn = {KMV_K}
""",
    description=f"KMV (k-minimum-values) distinct-count sketch, k={KMV_K}: portable md5 hash order makes the ESTIMATE itself bit-identical across engines — a sketch with an exact oracle (HLLs never match cross-engine); true_distinct alongside shows the error",
    tags=("pipeline", "sketch", "agg"),
)
def q74_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct tokens per language via the KMV estimator: keep each
    partition's K smallest distinct hash values; if the K-th smallest
    is at fraction f of the hash space, distinct ≈ (K-1)/f.

    The sketch state is K 16-byte hashes per group — mergeable
    (union + re-take K smallest ⇒ works map-side and across shards)
    and tiny regardless of corpus size, the property that matters at
    100 TB where exact COUNT(DISTINCT) shuffles every value. md5 makes
    the estimate reproducible across engines, which no engine-native
    HLL can offer."""
    d = load_table(spark, sf_dir, "documents")
    h = (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .select("lang", F.md5("tok").alias("hash"))
        .distinct()
    )
    w = Window.partitionBy("lang").orderBy("hash")
    wn = Window.partitionBy("lang")
    ranked = h.select(
        "lang",
        "hash",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("true_distinct"),
    ).filter(F.col("rn") == KMV_K)
    frac = (
        F.conv(F.substring("hash", 1, 8), 16, 10).cast("bigint") / F.lit(4294967296.0)
    )
    return ranked.select(
        "lang",
        F.round((KMV_K - 1) / frac, 0).cast("bigint").alias("est_distinct"),
        "true_distinct",
    )


@register(
    "q71_mixture_sample",
    driver=False,  # r8 rotation: 5x driver-green, cedes its slot to q91-q98 (sampling keeps q84/q85)
    # promoted r3: rotated into the driver surface for a hard verdict
    oracle="""
SELECT doc_id, lang, source
FROM documents
WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      / 4294967296.0
      < CASE {cases} ELSE {default} END
""".format(
        cases="lang " + " ".join(f"WHEN '{k}' THEN {v}" for k, v in MIXTURE_RATES.items()),
        default=_DEFAULT_RATE,
    ),
    description="deterministic mixture sampling: per-language keep-rates via an md5-derived uniform on doc_id — reproducible across engines and runs, no RNG state",
    tags=("pipeline", "sampling"),
)
def q71_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample the corpus into a training mixture at per-language rates.

    The keep decision is a pure function of doc_id (first 8 hex chars
    of md5 → uniform in [0,1)), so the sample is identical on any
    engine, any partitioning, any day — the property a reproducible
    data pipeline needs and ``rand()`` cannot give."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(mixture_uniform_col() < mixture_rate_col()).select(
        "doc_id", "lang", "source"
    )


@register(
    "q84_train_val_test_split",
    driver=False,  # r9 rotation: 2x driver-green, cedes its slot to q119-q136 (pipeline keeps q99/q103/q104 + the new q126/q128/q132)
    # promoted r7 (VERDICT r6 ask #1): deterministic split needs a hard
    # driver verdict; slot ceded by q60 (byte-kernel twin of hash-green q81)
    oracle="""
SELECT doc_id, lang,
       CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
FROM (SELECT doc_id, lang,
             CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             / 4294967296.0 AS u
      FROM documents)
""",
    description=(
        "deterministic train/val/test split (80/10/10): md5-derived uniform "
        "on a salted doc id — the same doc lands in the same split on any "
        "engine, any partitioning, any rerun; independent of q71's sampling "
        "uniform via the salt"
    ),
    tags=("pipeline", "split"),
)
def q84_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document a reproducible split label. The uniform is
    salted ('split:') so split membership is independent of the
    mixture-sampling draw — correlated uniforms would silently bias the
    val/test sets toward the sampled mixture."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    split = (
        F.when(u < 0.8, F.lit("train")).when(u < 0.9, F.lit("val")).otherwise(F.lit("test"))
    )
    return d.select("doc_id", "lang", split.alias("split"))


@register(
    "q85_shuffle_shards",
    driver=False,  # r9 rotation: 2x driver-green, cedes its slot to q119-q136 (pipeline keeps q99/q103 + the new q128 stratified sample)
    # promoted r7 (VERDICT r6 ask #1): shuffle-shards needs a hard driver
    # verdict; slot ceded by q62 (frame kernel twin of hash-green q81)
    oracle="""
WITH k AS (
  SELECT doc_id, md5('shuffle:42:' || CAST(doc_id AS VARCHAR)) AS key FROM documents),
s AS (
  SELECT doc_id, key,
         CAST(concat('0x', substr(key, 1, 8)) AS BIGINT) % 8 AS shard
  FROM k)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key) AS BIGINT) AS pos
FROM s
""",
    description=(
        "seeded global corpus shuffle into 8 training shards: md5 key gives "
        "shard AND within-shard order — a deterministic shuffle with NO "
        "global sort (per-shard windows only), the pre-training data-order "
        "op at corpus scale"
    ),
    tags=("pipeline", "shuffle"),
)
def q85_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: each doc's md5('shuffle:
    seed:' || id) is simultaneously its shard (top 32 bits mod 8) and
    its position key within the shard. Scale shape: one hash-partition
    shuffle + per-shard window — never an unpartitioned global sort, so
    the plan survives any corpus size (plan_audit would flag a global
    Window)."""
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("shuffle:42:"), F.col("doc_id").cast("string")))
    shard = F.pmod(F.conv(F.substring(key, 1, 8), 16, 10).cast("bigint"), F.lit(8))
    w = Window.partitionBy("shard").orderBy("key")
    return (
        d.select("doc_id", key.alias("key"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "pos")
    )


def chunk_documents(d: DataFrame, window: int = 50, stride: int = 40) -> DataFrame:
    """Overlapping token-window chunks of a (doc_id, text) frame:
    (doc_id, chunk_idx, start_tok, n_chunk_toks, chunk_fp). Shared by
    q90 (the chunk table itself) and q91 (chunk-level dedup rate) so
    the two queries cannot drift; pure per-doc array exprs."""
    W, S = window, stride
    d = d.select("doc_id", F.split("text", " ").alias("toks"))
    ch = d.select(
        "doc_id",
        F.posexplode(
            F.expr(f"sequence(0, ((size(toks) - 1) div {S}) * {S}, {S})")
        ).alias("chunk_idx", "start_tok"),
        F.col("toks"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("start_tok").cast("bigint").alias("start_tok"),
        F.expr(f"slice(toks, start_tok + 1, {W})").alias("chunk"),
    )
    return ch.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        F.size("chunk").cast("bigint").alias("n_chunk_toks"),
        F.md5(F.array_join("chunk", " ")).alias("chunk_fp"),
    )


@register(
    "q90_chunk_documents",
    driver=False,  # r9 rotation: 2x driver-green, cedes its slot to q119-q136 (chunking stays via q91 chunk-dup rate + q103 packing)
    # new r7, promoted same-round: q10/q13/q27/q65 (6x driver-green) ceded slots
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c0 AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, ((len(toks) - 1) // 40) * 40, 40)) AS start
  FROM t),
c AS (
  SELECT doc_id,
         CAST(start // 40 AS BIGINT) AS chunk_idx,
         CAST(start AS BIGINT) AS start_tok,
         toks[start + 1 : least(start + 50, len(toks))] AS chunk
  FROM c0)
SELECT doc_id, chunk_idx, start_tok,
       CAST(len(chunk) AS BIGINT) AS n_chunk_toks,
       md5(array_to_string(chunk, ' ')) AS chunk_fp
FROM c
""",
    description=(
        "overlapping token-window chunking (window 50, stride 40 — 10-token "
        "overlap), the doc->chunk front-end of an embed-and-index (RAG / "
        "retrieval) pipeline: stable (doc_id, chunk_idx) keys, token offsets, "
        "and an md5 chunk fingerprint for chunk-level dedup. Pure per-doc "
        "higher-order array exprs (sequence/posexplode/slice) — zero shuffle, "
        "zero Python; output is chunk-count-sized, ~n_tokens/stride rows per "
        "doc, so the operator streams at any corpus scale"
    ),
    tags=("text", "pipeline", "chunking"),
)
def q90_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(load_table(spark, sf_dir, "documents"))



@register(
    "q91_chunk_dup_rate",
    # promoted r8: rotated into the driver surface for a hard verdict
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c0 AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, ((len(toks) - 1) // 40) * 40, 40)) AS start
  FROM t),
ch AS (
  SELECT doc_id,
         md5(array_to_string(toks[start + 1 : least(start + 50, len(toks))], ' ')) AS chunk_fp
  FROM c0),
fp AS (SELECT chunk_fp, CAST(COUNT(*) AS BIGINT) AS n_occ FROM ch GROUP BY 1)
SELECT ch.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN fp.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(SUM(CASE WHEN fp.n_occ > 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
         AS dup_chunk_frac_e6,
       (SUM(CASE WHEN fp.n_occ > 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)) <= 300000
         AS quality_pass
FROM ch JOIN fp USING (chunk_fp)
GROUP BY ch.doc_id
""",
    description=(
        "chunk-level duplication rate (C4/RefinedWeb-style boilerplate "
        "signal): fraction of a doc's 50/40 token-window chunks whose md5 "
        "fingerprint occurs elsewhere in the corpus, with the <=0.30 pass "
        "flag — sub-document dedup that doc-level q40 cannot see. Scale "
        "shape: chunk fingerprints are one per-doc array pass (q90's "
        "operator), the occurrence count is an equi-key agg on 16-byte "
        "fps with map-side partials, and the join back is fp-keyed — "
        "every step is per-doc or an equi-join, nothing corpus-crossed"
    ),
    tags=("text", "dedup", "pipeline", "chunking"),
    driver=False,  # r10 rotation: 2x driver-green (r8,r9), cedes its slot to q137-q155 (chunking stays via q103 packing)
)
def q91_chunk_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = chunk_documents(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "chunk_fp"
    )
    fp = ch.groupBy("chunk_fp").agg(F.count(F.lit(1)).alias("n_occ"))
    j = ch.join(fp, "chunk_fp")
    dup = F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0))
    frac = F.expr("n_dup_chunks * 1000000 div n_chunks")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            dup.cast("bigint").alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            frac.alias("dup_chunk_frac_e6"),
            (frac <= 300_000).alias("quality_pass"),
        )
    )


# per-language EPOCH weights for oversampling: >1 repeats a doc that
# many epochs (the Llama/GPT "books x2, wiki x3" pretraining pattern),
# <1 thins. All fractional parts are binary-exact (.5/.75/.25/0) so
# the double-vs-decimal literal split between engines cannot flip a
# keep decision.
EPOCH_WEIGHTS = {"en": 2.5, "de": 1.5, "fr": 1.0, "es": 0.75, "zh": 0.25}


@register(
    "q99_epoch_oversample",
    # promoted r8 (same round as registration): takes a slot freed by the multi-green rotation set
    oracle="""
WITH t AS (
  SELECT doc_id, lang,
         CASE lang {cases} ELSE 1.0 END AS w,
         CAST(concat('0x', substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         / 4294967296.0 AS u
  FROM documents),
c AS (
  SELECT doc_id, lang,
         CAST(floor(w) + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS BIGINT) AS n_copies
  FROM t)
SELECT doc_id, lang, CAST(UNNEST(generate_series(1, n_copies)) AS BIGINT) AS epoch
FROM c WHERE n_copies >= 1
""".format(
        cases=" ".join(f"WHEN '{k}' THEN {v}" for k, v in EPOCH_WEIGHTS.items())
    ),
    description=(
        "epoch oversampling: per-language weights >1 REPEAT a doc that many "
        "epochs (floor(w) copies + one more with probability frac(w) via a "
        "salted md5 uniform) — the upsampling half of mixture construction "
        "that q71's keep/drop sampling cannot express; deterministic, so "
        "every engine and every rerun materializes the identical epoch table"
    ),
    tags=("pipeline", "sampling"),
    driver=False,  # r10 rotation: 2x driver-green (r8,r9), cedes its slot to q137-q155 (pipeline keeps q126/q128)
)
def q99_epoch_oversample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the training-mix epoch table: doc x epoch rows.

    Scale shape: pure per-row arithmetic + an explode whose fan-out is
    the mixture's mean epoch count (~1-3x) — no shuffle at all; the
    output feeds q85's shard shuffle. The fractional epoch is decided
    by a salted uniform ('epoch:') independent of the q71/q84 draws.
    Guard rail: Spark's sequence(1, 0) is DESCENDING [1, 0], so docs
    with n_copies = 0 are filtered out BEFORE the explode."""
    d = load_table(spark, sf_dir, "documents")
    w_ = F.lit(1.0)
    for k, v in EPOCH_WEIGHTS.items():
        w_ = F.when(F.col("lang") == k, F.lit(float(v))).otherwise(w_)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("epoch:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    n_copies = (
        F.floor(w_) + F.when(u < (w_ - F.floor(w_)), F.lit(1)).otherwise(F.lit(0))
    ).cast("bigint")
    return (
        d.select("doc_id", "lang", n_copies.alias("n_copies"))
        .filter(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("n_copies"))).alias(
                "epoch"
            ),
        )
    )


@register(
    "q100_length_quantiles",
    # promoted r8 (same round as registration): takes a slot freed by the multi-green rotation set
    oracle="""
WITH r AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents)
SELECT lang,
       MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.25 * n) AS BIGINT)) THEN n_chars END) AS p25,
       MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.5 * n) AS BIGINT)) THEN n_chars END) AS p50,
       MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.75 * n) AS BIGINT)) THEN n_chars END) AS p75,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM r GROUP BY lang
""",
    description=(
        "per-language document-length quantiles by NEAREST-RANK selection "
        "(value at row ceil(q*n)) — integer row picks instead of float "
        "interpolation, so the profile is bit-exact cross-engine; quantile "
        "fractions are binary-exact (.25/.5/.75) so the double-vs-decimal "
        "literal split cannot shift a rank"
    ),
    tags=("pipeline", "text", "window"),
    driver=False,  # r10 rotation: 2x driver-green (r8,r9), cedes its slot to q137-q155 (quantiles stay via q106-history + q128 strata)
)
def q100_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile per language — the curation dashboard
    query behind min/max-length filter thresholds.

    Scale shape: one hash partition per language (never a global
    sort), a per-partition rank, and an equi-key final agg. At 100 TB
    add more profile keys (lang x source x date) for more partition
    parallelism — same plan."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    cw = Window.partitionBy("lang")
    ranked = d.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("n"),
    )

    def pick(q: float, name: str):
        tgt = F.greatest(F.lit(1).cast("bigint"), F.ceil(F.lit(q) * F.col("n")))
        return F.max(F.when(F.col("rn") == tgt, F.col("n_chars"))).alias(name)

    return ranked.groupBy("lang").agg(
        pick(0.25, "p25"),
        pick(0.5, "p50"),
        pick(0.75, "p75"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )


# q103 concat-and-chunk packing: the context-window assembly step of
# every LLM pretraining pipeline (docs shuffled, concatenated, chopped
# into fixed SEQ_LEN-token training sequences; a doc near a boundary
# splits across two sequences). q70's bin packing never splits a doc
# (shard assembly); this is the sequence-level twin that actually
# feeds the trainer.
PACK_SEQ_LEN = 256
PACK_N_SHARDS = 8


@register(
    "q103_pack_sequences",
    # registered r8, promoted immediately: takes the slot its
    # predecessor q70 (driver-green since r3) ceded
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
         md5('pack:' || CAST(doc_id AS VARCHAR)) AS u
  FROM documents),
s AS (
  SELECT doc_id, tok, u,
         CAST(concat('0x', substr(u, 1, 8)) AS BIGINT) % {PACK_N_SHARDS} AS shard
  FROM t),
c AS (
  SELECT doc_id, shard,
         CAST(SUM(tok) OVER (PARTITION BY shard ORDER BY u, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS BIGINT) AS c0,
         CAST(SUM(tok) OVER (PARTITION BY shard ORDER BY u, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c1
  FROM s)
SELECT CAST(shard AS BIGINT) AS shard, CAST(seq AS BIGINT) AS seq, doc_id,
       CAST(GREATEST(c0, seq * {PACK_SEQ_LEN}) - seq * {PACK_SEQ_LEN} AS BIGINT) AS offset_in_seq,
       CAST(LEAST(c1, (seq + 1) * {PACK_SEQ_LEN}) - GREATEST(c0, seq * {PACK_SEQ_LEN}) AS BIGINT) AS n_tok
FROM c, UNNEST(generate_series(c0 // {PACK_SEQ_LEN}, (c1 - 1) // {PACK_SEQ_LEN})) AS g(seq)
""",
    description=(
        "concat-and-chunk sequence packing: docs are md5-shuffled into "
        f"{PACK_N_SHARDS} shards, concatenated per shard in hash order, and "
        f"chopped into {PACK_SEQ_LEN}-token training sequences — one row per "
        "(doc, sequence) overlap with the doc's offset and token count in "
        "that sequence; boundary docs split across two rows. Pure integer "
        "window arithmetic, bit-exact cross-engine"
    ),
    tags=("pipeline", "sampling", "window"),
    driver=False,  # r10 rotation: 2x driver-green (r8,r9), cedes its slot to q137-q155 (packing pytest-covered; pipeline keeps q126/q128/q132)
)
def q103_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: shard hash-partitions the corpus, the running token
    count is a per-shard window (never a global sort — q85's design),
    and the explode emits at most ceil(tok/SEQ_LEN)+1 rows per doc.
    More shards = more partition parallelism, same plan."""
    d = load_table(spark, sf_dir, "documents")
    u = F.md5(F.concat(F.lit("pack:"), F.col("doc_id").cast("string")))
    t = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("tok"),
        u.alias("u"),
    ).withColumn(
        "shard",
        (F.conv(F.substring("u", 1, 8), 16, 10).cast("bigint") % PACK_N_SHARDS),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("u", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.select(
        "doc_id",
        "shard",
        (F.sum("tok").over(w) - F.col("tok")).alias("c0"),
        F.sum("tok").over(w).alias("c1"),
    )
    L = PACK_SEQ_LEN
    return c.select(
        F.col("shard").cast("bigint").alias("shard"),
        F.explode(
            F.sequence(F.expr(f"c0 div {L}"), F.expr(f"(c1 - 1) div {L}"))
        ).alias("seq"),
        "doc_id",
        "c0",
        "c1",
    ).select(
        "shard",
        F.col("seq").cast("bigint").alias("seq"),
        "doc_id",
        (F.greatest(F.col("c0"), F.col("seq") * L) - F.col("seq") * L)
        .cast("bigint")
        .alias("offset_in_seq"),
        (
            F.least(F.col("c1"), (F.col("seq") + 1) * L)
            - F.greatest(F.col("c0"), F.col("seq") * L)
        )
        .cast("bigint")
        .alias("n_tok"),
    )


# q104 DSIR-style hashed importance weights (Xie et al. 2023, "Data
# Selection for Language Models via Importance Resampling"): score
# every doc by how target-like its hashed unigram distribution is,
# then keep the top fraction. Integer-exact variant: the score is the
# ratio of two integer sums (target-bucket hits over raw-bucket hits),
# fixed-point e6 via integer division — no float logs, so the verdict
# is a hash match, not a tolerance.
DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"
DSIR_KEEP_FRAC = 0.25  # binary-exact fraction


@register(
    "q104_dsir_importance",
    # registered r8, promoted immediately: takes a slot freed by the
    # multi-green rotation set (q24/q28/q32/q40/q51/q70)
    oracle=f"""
WITH tk AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
b AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % {DSIR_BUCKETS} AS bucket
  FROM tk),
rawc AS (SELECT bucket, COUNT(*) AS cr FROM b GROUP BY bucket),
tgtc AS (SELECT bucket, COUNT(*) AS ct FROM b WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket),
per AS (
  SELECT doc_id, lang,
         CAST(SUM(COALESCE(ct, 0)) AS BIGINT) AS dsir_num,
         CAST(SUM(cr) AS BIGINT) AS dsir_den,
         CAST(SUM(COALESCE(ct, 0)) * 1000000 // SUM(cr) AS BIGINT) AS ratio_e6
  FROM b JOIN rawc USING (bucket) LEFT JOIN tgtc USING (bucket)
  GROUP BY doc_id, lang),
rk AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY ratio_e6 DESC, doc_id) AS rn,
         COUNT(*) OVER () AS n
  FROM per)
SELECT doc_id, lang, dsir_num, dsir_den, ratio_e6,
       rn <= CAST(ceil({DSIR_KEEP_FRAC} * n) AS BIGINT) AS selected
FROM rk
""",
    description=(
        "DSIR-style importance resampling (hashed unigram features, "
        f"{DSIR_BUCKETS} md5 buckets): per-doc target-likeness = sum of "
        f"target-corpus (lang='{DSIR_TARGET_LANG}') bucket hits over raw "
        "bucket hits — an integer-exact ratio instead of the float "
        "log-likelihood (hash-verifiable); selects the top 25% by "
        "(ratio, doc_id) nearest-rank"
    ),
    tags=("pipeline", "text", "sampling"),
    driver=False,  # r10 rotation: 2x driver-green (r8,r9), cedes its slot to q137-q155 (importance weights pytest-covered; pipeline keeps q126/q128)
)
def q104_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: token explode -> two bucket aggregations (1024-row
    dictionaries) -> BROADCAST joins back -> one per-doc agg. The
    top-fraction threshold is found by distributed partial top-k
    (TakeOrderedAndProject — never an unpartitioned Window) and
    broadcast as two scalars; its k grows with the corpus, so at
    100 TB replace that one step with a sampled quantile threshold
    (q100's nearest-rank on a sketch) — the score computation and the
    broadcast-compare are unchanged."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).withColumn(
        "bucket",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
        % DSIR_BUCKETS,
    )
    rawc = tk.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    tgtc = (
        tk.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    per = (
        tk.join(F.broadcast(rawc), "bucket")
        .join(F.broadcast(tgtc), "bucket", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.coalesce("ct", F.lit(0))).cast("bigint").alias("dsir_num"),
            F.sum("cr").cast("bigint").alias("dsir_den"),
        )
        .withColumn(
            "ratio_e6",
            F.expr("CAST(dsir_num * 1000000 div dsir_den AS BIGINT)"),
        )
    )
    # top-fraction selection WITHOUT a global window: the k-th key
    # tuple comes from two TakeOrderedAndProject passes (distributed
    # partial top-k, k rows never landing anywhere as one partition),
    # then every row compares against that broadcast O(1) threshold —
    # exactly rank <= k under the (ratio desc, doc_id) order, ties
    # decided by doc_id in the tuple compare
    import math as _math

    per = checkpoint(per)
    k = _math.ceil(DSIR_KEEP_FRAC * per.count())
    thr = (
        per.select("ratio_e6", "doc_id")
        .orderBy(F.col("ratio_e6").desc(), "doc_id")
        .limit(k)
        .orderBy("ratio_e6", F.col("doc_id").desc())
        .first()
    )
    return per.select(
        "doc_id",
        "lang",
        "dsir_num",
        "dsir_den",
        "ratio_e6",
        (
            (F.col("ratio_e6") > thr["ratio_e6"])
            | (
                (F.col("ratio_e6") == thr["ratio_e6"])
                & (F.col("doc_id") <= thr["doc_id"])
            )
        ).alias("selected"),
    )


# q106: the sampled-quantile path that q100/q104's scale notes promise
# — at 100 TB you don't global-rank the full score table, you take a
# deterministic hash sample, nearest-rank the sample, and broadcast
# the threshold. This query runs BOTH and emits the error, so the
# substitution's cost is a measured number, not an assumption.
QSK_SAMPLE_RATE = 0.25  # binary-exact fraction


@register(
    "q106_sampled_quantile",
    # promoted r8 (third rotation): hard verdict for the sketch-substitution row
    oracle=f"""
WITH ranked AS (
  SELECT lang, n_chars, doc_id,
         CAST(concat('0x', substr(md5('qsk:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         / 4294967296.0 < {QSK_SAMPLE_RATE} AS in_sample
  FROM documents),
ex AS (
  SELECT lang,
         MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.5 * n) AS BIGINT)) THEN n_chars END) AS p50_exact
  FROM (
    SELECT lang, n_chars,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY lang) AS n
    FROM ranked)
  GROUP BY lang),
sm AS (
  SELECT lang,
         MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.5 * n) AS BIGINT)) THEN n_chars END) AS p50_sampled,
         CAST(MAX(n) AS BIGINT) AS n_sampled
  FROM (
    SELECT lang, n_chars,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY lang) AS n
    FROM ranked WHERE in_sample)
  GROUP BY lang)
SELECT e.lang, s.p50_sampled, e.p50_exact,
       ABS(s.p50_sampled - e.p50_exact) AS abs_err, s.n_sampled
FROM ex e JOIN sm s ON e.lang = s.lang
""",
    description=(
        "sampled-quantile threshold vs exact: per-language median length "
        "by nearest-rank on a deterministic 25% md5 sample ('qsk:' salt) "
        "side-by-side with the exact median, emitting the absolute error "
        "— the measured cost of the sketch substitution q100/q104's "
        "scale notes prescribe; all picks are integer rows, hash-exact"
    ),
    tags=("pipeline", "sketch", "window"),
    driver=False,  # r10 rotation: 2x driver-green (r8,r9), cedes its slot to q137-q155 (quantile op pytest-covered)
)
def q106_sampled_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the sample side ranks ~rate x n rows per language
    partition; at 100 TB the sample lands in memory while the exact
    side is what you are avoiding — here both run so the error column
    is evidence. The hash sample is doc_id-deterministic ('qsk:'
    salt, decorrelated from the q71/q84 draws), so the 'sketch' is
    reproducible on any engine — which is what makes it oracle-able."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("qsk:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    ranked = d.select(
        "lang", "n_chars", "doc_id", (u < QSK_SAMPLE_RATE).alias("in_sample")
    )

    def p50(df: DataFrame, out: str) -> DataFrame:
        w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
        cw = Window.partitionBy("lang")
        r = df.select(
            "lang",
            "n_chars",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(cw).alias("n"),
        )
        tgt = F.greatest(F.lit(1).cast("bigint"), F.ceil(F.lit(0.5) * F.col("n")))
        return r.groupBy("lang").agg(
            F.max(F.when(F.col("rn") == tgt, F.col("n_chars"))).alias(out),
            F.max("n").cast("bigint").alias(f"_n_{out}"),
        )

    ex = p50(ranked, "p50_exact").drop("_n_p50_exact")
    sm = p50(ranked.filter("in_sample"), "p50_sampled").withColumnRenamed(
        "_n_p50_sampled", "n_sampled"
    )
    return ex.join(sm, "lang").select(
        "lang",
        "p50_sampled",
        "p50_exact",
        F.abs(F.col("p50_sampled") - F.col("p50_exact")).alias("abs_err"),
        "n_sampled",
    )


# --- q113: link-graph quality weighting (PageRank) -------------------

_PR_SCALE = 10**12
_PR_ITER = 5


def _pagerank_oracle() -> str:
    """Replays the integer PageRank rounds (operators/graph.py) in
    SQL: same synthesized edges, same fixed-point update, unrolled
    ``_PR_ITER`` times. Every value is an integer sum/division, so the
    replay is bit-identical regardless of join order."""
    cte = [
        "n AS (SELECT COUNT(*) AS c FROM documents)",
        # variable out-degree 1 + (doc_id % 3): each modular formula
        # alone is a bijection (multiplier coprime with n), so a
        # 3-links-everywhere graph has in-degree exactly 3 everywhere
        # and pagerank collapses to a constant — no verification power.
        # Gating links 2/3 on doc_id%3 varies both degrees and ranks.
        """e AS (
  SELECT doc_id AS src, (7 * doc_id + 1) % c AS dst FROM documents, n
  UNION ALL SELECT doc_id, (13 * doc_id + 2) % c FROM documents, n
    WHERE doc_id % 3 >= 1
  UNION ALL SELECT doc_id, (29 * doc_id + 3) % c FROM documents, n
    WHERE doc_id % 3 = 2)""",
        "deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src)",
        f"p0 AS (SELECT doc_id AS node, {_PR_SCALE} // c AS p FROM documents, n)",
    ]
    for i in range(1, _PR_ITER + 1):
        cte.append(
            f"""p{i} AS (
  SELECT x.node,
         ({_PR_SCALE} * 15) // (100 * (SELECT c FROM n))
         + (85 * COALESCE(s.m, 0)) // 100 AS p
  FROM p0 x LEFT JOIN (
    SELECT e.dst AS node, SUM(p.p // deg.d) AS m
    FROM e JOIN p{i - 1} p ON e.src = p.node JOIN deg ON e.src = deg.src
    GROUP BY e.dst) s ON x.node = s.node)"""
        )
    return (
        "WITH "
        + ",\n".join(cte)
        + f"\nSELECT node AS doc_id, CAST(p AS BIGINT) AS rank_e12 FROM p{_PR_ITER}"
    )


@register(
    "q113_pagerank_quality",
    # promoted r8 (fourth rotation): q07/q12/q19/q29/q64/q66 ceded slots
    oracle=_pagerank_oracle(),
    description=(
        "link-graph quality weighting: 5 rounds of INTEGER fixed-point "
        "PageRank (Page et al. 1999; the host-centrality prior "
        "CommonCrawl-derived pipelines weight documents by) over a "
        "deterministic synthesized citation graph (1 + doc_id%3 "
        "out-links per doc, modular formulas — doc_ids are contiguous "
        "0..n-1 at every sf; varying both degrees so ranks spread). "
        "Iteration is the engine's standard shape — driver loop + lazy "
        "localCheckpoint, one rank-table equi-join + one dst-keyed "
        "groupBy-sum per round — and because every update is integer "
        "(p div outdeg, (85·Σ) div 100), the ranks hash-match an "
        "unrolled-CTE SQL replay exactly; float PageRank could never be "
        "hash-checked"
    ),
    tags=("pipeline", "graph", "iteration", "quality"),
)
def q113_pagerank_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.graph import pagerank

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    did = F.col("doc_id")
    edges = d.select(
        did.alias("src"),
        F.explode(
            F.slice(
                F.array(
                    (did * 7 + 1) % n, (did * 13 + 2) % n, (did * 29 + 3) % n
                ),
                1,
                (did % 3 + 1).cast("int"),
            )
        ).alias("dst"),
    )
    ranks = pagerank(
        edges,
        nodes=d.select(did.alias("node")),
        n_iter=_PR_ITER,
        scale=_PR_SCALE,
    )
    return ranks.select(F.col("node").alias("doc_id"), F.col("p").alias("rank_e12"))


# --- q126: per-domain quality caps -----------------------------------------
#
# The Common-Crawl-pipeline op (RefinedWeb/FineWeb "URL dedup + per-domain
# limits"): a handful of giant domains dominate a crawl, so the mix keeps at
# most DOMAIN_CAP docs per domain, the BEST ones by a quality key. `source`
# stands in for the registrable domain (the testdata has no URL column; at
# ingest the domain would come from one `parse_url` projection).

DOMAIN_CAP = 10
_DOMAIN_SALTS = 4


def capped_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[Column],
    cap: int,
    rank_name: str,
    id_col: str = "doc_id",
    n_salts: int = _DOMAIN_SALTS,
) -> DataFrame:
    """Exact per-key top-``cap`` without a hot-key bottleneck: stage 1
    ranks within (keys..., md5-salt) and keeps each bucket's top cap —
    a provable SUPERSET of the true per-key top cap (any globally-kept
    row is within its own bucket's top cap) spread over ``n_salts``
    tasks per key; stage 2 re-ranks survivors (<= n_salts*cap rows per
    key — corpus-size-independent) for exact final ranks. Both windows
    are partitioned — never a global sort. Shared by q126 (domain
    caps) and q128 (stratified sampling); the equality-with-plain-
    window law is pinned on a 90%-one-key input in tests."""
    salt = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint"),
        F.lit(n_salts),
    )
    w1 = Window.partitionBy(*key_cols, "_salt").orderBy(*order_cols)
    w2 = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("_salt", salt)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= cap)
        .drop("_r1", "_salt")
        .withColumn(rank_name, F.row_number().over(w2).cast("bigint"))
        .filter(F.col(rank_name) <= cap)
    )


@register(
    "q126_domain_caps",
    # promoted r9: takes a slot ceded by the multi-green r9 rotation
    # (see tests/test_oracle_queries.py DRIVER_SURFACE)
    driver=False,  # r12 rotation: 3x driver-green (r9-r11), cedes its slot to q158 incremental graph append (pipeline keeps q156/q157)
    oracle=f"""
WITH r AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS domain_rank
  FROM documents)
SELECT doc_id, source, n_chars, CAST(domain_rank AS BIGINT) AS domain_rank
FROM r WHERE domain_rank <= {DOMAIN_CAP}
""",
    description=(
        f"per-domain cap: keep the top {DOMAIN_CAP} docs per source by "
        "quality key (n_chars DESC, doc_id tie-break) — the crawl-mix "
        "anti-domination rule, computed as a salted two-stage top-k so a "
        "single giant domain never lands in one task"
    ),
    tags=("pipeline", "window", "dedup"),
)
def q126_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every domain's contribution to the training mix at
    DOMAIN_CAP docs, keeping the highest-quality ones.

    Scale shape: see ``capped_per_key`` — the shared salted two-stage
    top-k (a plain per-source window would serialize a million-row hot
    domain into one task; the helper's stage-2 input is
    O(domains·SALTS·CAP), corpus-size-independent).
    """
    d = load_table(spark, sf_dir, "documents")
    return capped_per_key(
        d.select("doc_id", "source", "n_chars"),
        ["source"],
        [F.col("n_chars").desc(), F.col("doc_id")],
        DOMAIN_CAP,
        "domain_rank",
    )


# --- q128: stratified eval-set sampling -------------------------------------

STRATUM_N = 8
_STRAT_SEED = "evalsplit"


@register(
    "q128_stratified_sample",
    # promoted r9; r11 rotation: 2x driver-green (r9,r10), cedes its
    # slot to q156 (sampling stays driver-verified via q156 weighted
    # sample; pipeline keeps q126)
    driver=False,
    oracle=f"""
WITH r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5('{_STRAT_SEED}:' || CAST(doc_id AS VARCHAR)),
                                     doc_id) AS strat_rank
  FROM documents)
SELECT doc_id, lang, CAST(strat_rank AS BIGINT) AS strat_rank
FROM r WHERE strat_rank <= {STRATUM_N}
""",
    description=(
        f"stratified eval-set sampling: EXACTLY {STRATUM_N} docs per "
        "language, selected by md5(seed:doc_id) rank — the "
        "equal-allocation eval-split builder (q71's rate-based mixture "
        "sampling cannot pin per-stratum counts); deterministic on any "
        "engine/partitioning, computed with the same salted two-stage "
        "top-k as q126 so a 99%-one-language corpus still parallelizes"
    ),
    tags=("pipeline", "sampling", "window"),
)
def q128_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count-per-stratum sample: the eval/calibration-set
    construction rule (N docs per language, not N·rate±noise).

    The order key is a salted md5 of the id — a deterministic uniform
    draw, so the sample is unbiased within each stratum, reproducible
    on any engine, and O(1) state (no reservoir). Scale shape: shared
    ``capped_per_key`` two-stage top-k — at a web corpus one language
    is >90% of rows, exactly the hot-key case the salting spreads."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit(f"{_STRAT_SEED}:"), F.col("doc_id").cast("string")))
    return capped_per_key(
        d.select("doc_id", "lang", h.alias("_h")),
        ["lang"],
        [F.col("_h"), F.col("doc_id")],
        STRATUM_N,
        "strat_rank",
    ).drop("_h")


# --- q132: corpus snapshot diff ----------------------------------------------
#
# Dataset versioning's core query: crawl N vs crawl N-1 — what was added,
# what disappeared, what changed in place. The second snapshot is derived
# deterministically from the first (drops, in-place edits, additions) so
# the diff has known ground truth at every scale and both engines build
# bit-identical inputs.


def _snapshot_b(d: DataFrame) -> DataFrame:
    """Snapshot B: drop doc_id % 10 == 3, edit text where doc_id % 7 == 1
    (append a revision marker), add new docs for doc_id % 25 == 0.
    Added docs live in the NEGATIVE id namespace (-doc_id - 1): real
    doc_ids are >= 0 at every scale, so the synthetic ids can never
    collide with kept ids — a fixed +1e6 offset would collide once the
    corpus reaches a million docs, silently multiplying rows through
    the full outer join."""
    kept = d.filter(F.col("doc_id") % 10 != 3)
    edited = kept.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 7 == 1, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")).alias("text"),
    )
    added = d.filter(F.col("doc_id") % 25 == 0).select(
        (-F.col("doc_id") - 1).alias("doc_id"),
        "source",
        F.concat(F.lit("NEW "), F.col("text")).alias("text"),
    )
    return edited.unionByName(added)


@register(
    "q132_corpus_snapshot_diff",
    # promoted r9; r11 rotation: 2x driver-green (r9,r10), cedes its
    # slot to q157 (pipeline keeps q126 + the new q156/q157)
    driver=False,
    oracle="""
WITH a AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
b_kept AS (
  SELECT doc_id, source,
         md5(CASE WHEN doc_id % 7 = 1 THEN text || ' [rev2]' ELSE text END) AS fp
  FROM documents WHERE doc_id % 10 <> 3),
b_new AS (
  SELECT -doc_id - 1 AS doc_id, source, md5('NEW ' || text) AS fp
  FROM documents WHERE doc_id % 25 = 0),
b AS (SELECT * FROM b_kept UNION ALL SELECT * FROM b_new),
d AS (
  SELECT COALESCE(a.source, b.source) AS source,
         CASE WHEN a.doc_id IS NULL THEN 'added'
              WHEN b.doc_id IS NULL THEN 'removed'
              WHEN a.fp <> b.fp THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM d GROUP BY source, status
""",
    description=(
        "corpus snapshot diff (dataset versioning's core query): full "
        "outer join of two snapshots on doc_id comparing 16-byte text "
        "fingerprints — never text — classifying added/removed/changed/"
        "unchanged per source; snapshot B derived deterministically from "
        "A (10% drops, 1-in-7 in-place edits, 4% additions) so the diff "
        "is hash-verifiable at every scale"
    ),
    tags=("pipeline", "dedup", "join"),
)
def q132_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, status) counts of the A→B snapshot delta.

    Scale shape: both sides reduce to (doc_id, source, md5) projections
    map-side — text bytes never shuffle; the diff is ONE equi-join on
    doc_id (the natural key) and the rollup a tiny hash aggregate. At
    crawl scale this is the audit every release pipeline runs before
    promoting a snapshot (expected-churn gates)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    a = d.select("doc_id", "source", F.md5("text").alias("fp"))
    b = _snapshot_b(d).select("doc_id", "source", F.md5("text").alias("fp"))
    a = a.select(F.col("doc_id").alias("a_id"), F.col("source").alias("a_src"), F.col("fp").alias("a_fp"))
    b = b.select(F.col("doc_id").alias("b_id"), F.col("source").alias("b_src"), F.col("fp").alias("b_fp"))
    diff = a.join(b, a.a_id == b.b_id, "full_outer").select(
        F.coalesce(F.col("a_src"), F.col("b_src")).alias("source"),
        F.when(F.col("a_id").isNull(), F.lit("added"))
        .when(F.col("b_id").isNull(), F.lit("removed"))
        .when(F.col("a_fp") != F.col("b_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
    return diff.groupBy("source", "status").agg(F.count(F.lit(1)).alias("n_docs"))


def _coorder_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized co-order pair counts (src < dst, w = times
    co-ordered) — the shared sub-result q138/q140/q141 all start from.
    The expensive part is the l_orderkey self-join + pair shuffle
    (sf0.1: 600k lineitem rows -> 1.2M pairs, ~3 s); the three graph
    queries used to pay it independently. ``cache.memoized_df`` keys it
    by sf_dir, so within a session (and the bench's warm pass) it
    builds once — the materialized-view pattern the registry already
    applies to the exact/MRDF graphs (q50/q55/q56)."""
    from pyspark_mrdf_spark.cache import memoized_df

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        return (
            li.alias("l1")
            .join(li.alias("l2"), "l_orderkey")
            .filter(F.col("l1.l_partkey") < F.col("l2.l_partkey"))
            .groupBy(
                F.col("l1.l_partkey").alias("src"), F.col("l2.l_partkey").alias("dst")
            )
            .agg(F.count(F.lit(1)).alias("w"))
        )

    return memoized_df(spark, ("coorder_pair_counts", sf_dir), build)



# --- q138: triangle counting over the co-order graph -------------------------
#
# The clustering-coefficient numerator on the market-basket graph (parts
# co-ordered in the same order — the same co-occurrence shape as docs
# sharing shingles or hosts co-linked). Degree-ordered orientation keeps
# the wedge self-join's fan-out O(sqrt m) per node even on power-law
# hubs; the oracle replays the identical orientation in SQL, so the
# per-node integer counts hash-match exactly.


@register(
    "q138_triangle_counts",
    driver=True,  # promoted r10: owed rotation for the r9-registered operators
    oracle="""
WITH und AS (
  SELECT DISTINCT LEAST(l1.l_partkey, l2.l_partkey) AS a,
                  GREATEST(l1.l_partkey, l2.l_partkey) AS b
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey < l2.l_partkey),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
  GROUP BY node),
oriented AS (
  SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS u,
         CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS v,
         CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN db.deg ELSE da.deg END AS deg_v
  FROM und u
  JOIN deg da ON da.node = u.a
  JOIN deg db ON db.node = u.b),
wedges AS (
  SELECT w1.u, w1.v AS x, w2.v AS y,
         CASE WHEN (w1.deg_v, w1.v) < (w2.deg_v, w2.v) THEN w1.v ELSE w2.v END AS cu,
         CASE WHEN (w1.deg_v, w1.v) < (w2.deg_v, w2.v) THEN w2.v ELSE w1.v END AS cv
  FROM oriented w1 JOIN oriented w2 ON w1.u = w2.u AND w1.v < w2.v),
tri AS (
  SELECT w.u, w.x, w.y FROM wedges w
  JOIN oriented c ON c.u = w.cu AND c.v = w.cv)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (SELECT u AS node FROM tri
      UNION ALL SELECT x AS node FROM tri
      UNION ALL SELECT y AS node FROM tri)
GROUP BY node
""",
    description=(
        "per-part triangle counts of the co-order graph: degree-ordered "
        "orientation (one wedge per triangle, O(sqrt m) fan-out on hubs) "
        "+ composite-key closing equi-join; exact integers"
    ),
    tags=("graph", "join", "agg"),
)
def q138_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation per part in the co-order graph.

    Scale shape: the co-order pair build is an equi-self-join on
    l_orderkey (basket-bounded fan-out), then operators/graph.py's
    oriented wedge join — every join an equi-join, every count an
    integer."""
    from pyspark_mrdf_spark.operators.graph import triangle_counts

    pairs = _coorder_pair_counts(spark, sf_dir).select("src", "dst")
    return triangle_counts(pairs)


# --- q140/q141: fixed-round graph analytics on the co-order graph -----------
#
# Same closed-form discipline as q113's integer PageRank: a FIXED round
# count turns an iterative graph algorithm into something a SQL oracle
# replays as t CTE stages, so the driver can hash-check it. The peel /
# propagation rounds are idempotent once converged — overshooting
# rounds is correctness-free.

_KCORE_K = 60
_KCORE_ROUNDS = 3
_LPA_ROUNDS = 3

_COORDER_SQL = """
  SELECT DISTINCT LEAST(l1.l_partkey, l2.l_partkey) AS a,
                  GREATEST(l1.l_partkey, l2.l_partkey) AS b
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey < l2.l_partkey"""


def _kcore_oracle(k: int, rounds: int) -> str:
    parts = [f"WITH e0 AS ({_COORDER_SQL})"]
    for r in range(rounds):
        parts.append(f""",
d{r} AS (SELECT node, COUNT(*) AS deg FROM (
  SELECT a AS node FROM e{r} UNION ALL SELECT b AS node FROM e{r}) GROUP BY node),
s{r} AS (SELECT node FROM d{r} WHERE deg >= {k}),
e{r + 1} AS (SELECT e.a, e.b FROM e{r} e
  JOIN s{r} sa ON e.a = sa.node JOIN s{r} sb ON e.b = sb.node)""")
    parts.append(f"""
SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
  SELECT a AS node FROM e{rounds} UNION ALL SELECT b AS node FROM e{rounds})
GROUP BY node""")
    return "".join(parts)


@register(
    "q140_kcore_parts",
    driver=True,  # promoted r10: owed rotation for the r9-registered operators
    oracle=_kcore_oracle(_KCORE_K, _KCORE_ROUNDS),
    description=(
        f"{_KCORE_ROUNDS}-round k-core peel (k={_KCORE_K}) of the "
        "co-order part graph: the dense-core extraction that seeds "
        "recommendation/anomaly work; fixed rounds = SQL-replayable"
    ),
    tags=("graph", "iteration", "agg"),
)
def q140_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts surviving 3 peels toward the 60-core, with final degree.

    Scale shape per round: endpoint groupBy-count + two left-semi
    equi-joins against the shrinking survivor set; the edge build is
    the basket-bounded l_orderkey self-join."""
    from pyspark_mrdf_spark.operators.graph import kcore_peel

    pairs = _coorder_pair_counts(spark, sf_dir).select("src", "dst")
    return kcore_peel(pairs, k=_KCORE_K, rounds=_KCORE_ROUNDS)


def _lpa_oracle(rounds: int) -> str:
    parts = [f"""WITH pr AS (
  SELECT LEAST(l1.l_partkey, l2.l_partkey) AS a,
         GREATEST(l1.l_partkey, l2.l_partkey) AS b, COUNT(*) AS w
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey < l2.l_partkey GROUP BY 1, 2),
und AS (SELECT a, b FROM pr WHERE w >= 2),
adj AS (SELECT a AS node, b AS nbr FROM und
        UNION ALL SELECT b AS node, a AS nbr FROM und),
l0 AS (SELECT DISTINCT node, node AS label FROM adj)"""]
    for r in range(rounds):
        parts.append(f""",
l{r + 1} AS (
  SELECT node, label FROM (
    SELECT node, label, ROW_NUMBER() OVER (
      PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM (SELECT adj.node, l.label, COUNT(*) AS c
          FROM adj JOIN l{r} l ON l.node = adj.nbr
          GROUP BY adj.node, l.label))
  WHERE rn = 1)""")
    parts.append(f"""
SELECT node, CAST(label AS BIGINT) AS label FROM l{rounds}""")
    return "".join(parts)


@register(
    "q141_part_communities",
    driver=True,  # promoted r10: owed rotation for the r9-registered operators
    oracle=_lpa_oracle(_LPA_ROUNDS),
    description=(
        f"{_LPA_ROUNDS}-round label propagation on the w>=2 co-order "
        "graph: deterministic (count desc, label asc) adoption — "
        "community detection with a bit-identical SQL replay"
    ),
    tags=("graph", "iteration", "window"),
)
def q141_part_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community label per part after 3 synchronous LPA rounds on the
    repeat-co-order graph (pairs co-ordered >= 2 times — the sparse,
    structured backbone of the basket graph).

    Scale shape per round: adjacency ⋈ labels equi-join + (node,
    label) count + per-node argmax window."""
    from pyspark_mrdf_spark.operators.graph import label_propagation

    pairs = (
        _coorder_pair_counts(spark, sf_dir)
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )
    return label_propagation(pairs, rounds=_LPA_ROUNDS)


# --- q142: incremental aggregate maintenance over a snapshot delta ----------
#
# The don't-rescan-the-corpus story: a maintained per-source statistics
# table (doc counts + token counts) is advanced from snapshot A to
# snapshot B by touching ONLY the delta — removed docs subtract, added
# docs add, in-place edits contribute (new − old). The oracle computes
# the same statistics by DIRECT full recompute over snapshot B: the
# hash verdict is therefore a proof that incremental maintenance
# equals recompute, which is the entire correctness obligation of an
# incremental pipeline. At 100 TB with ~3% churn the delta path reads
# two fingerprint projections + token-counts changed docs only; the
# recompute reads everything. Measured (SCALABILITY.json row
# synthetic-500000-incremental): folding a ~3% CDC delta into the stored
# aggregate takes 0.82 s where the storage-resident recompute takes
# 14.1 s at 500k docs — 17x, widening linearly with the corpus/delta
# ratio; results asserted identical.


@register(
    "q142_incremental_agg",
    driver=True,  # promoted r10: owed rotation for the r9-registered operators
    oracle="""
WITH b AS (
  SELECT CASE WHEN doc_id % 7 = 1 THEN text || ' [rev2]' ELSE text END AS text,
         source
  FROM documents WHERE doc_id % 10 <> 3
  UNION ALL
  SELECT 'NEW ' || text AS text, source
  FROM documents WHERE doc_id % 25 = 0)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
FROM b GROUP BY source
""",
    description=(
        "per-source stats advanced A→B by delta only (removed subtract, "
        "added add, edits contribute new−old); the oracle recomputes "
        "from scratch on B — hash equality IS the incremental-"
        "maintenance correctness proof"
    ),
    tags=("pipeline", "incremental", "agg"),
)
def q142_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained (source, n_docs, n_tokens) under the A→B delta.

    Scale shape: the base aggregate is one pass over A (in production:
    the stored stats table — zero cost); per-doc token counts are
    computed MAP-SIDE in each snapshot's scan projection, so the delta
    classification join shuffles (doc_id, source, 16-byte fp, count) —
    text bytes never cross the wire; in production A's per-doc counts
    are already stored alongside the fingerprints, so only B's scan
    pays the expression. One final per-source sum folds base +
    deltas."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    ntok = lambda c: F.size(F.split(F.col(c), " "))  # noqa: E731
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok("text")).alias("n_tokens"),
    )
    b = _snapshot_b(d)
    a_fp = d.select(
        F.col("doc_id").alias("a_id"),
        F.col("source").alias("a_src"),
        F.md5("text").alias("a_fp"),
        ntok("text").alias("a_ntok"),
    )
    b_fp = b.select(
        F.col("doc_id").alias("b_id"),
        F.col("source").alias("b_src"),
        F.md5("text").alias("b_fp"),
        ntok("text").alias("b_ntok"),
    )
    delta = (
        a_fp.join(b_fp, a_fp.a_id == b_fp.b_id, "full_outer")
        .filter(
            F.col("a_id").isNull()
            | F.col("b_id").isNull()
            | (F.col("a_fp") != F.col("b_fp"))
        )
        .select(
            F.coalesce(F.col("a_src"), F.col("b_src")).alias("source"),
            (
                F.when(F.col("b_id").isNull(), F.lit(0)).otherwise(F.lit(1))
                - F.when(F.col("a_id").isNull(), F.lit(0)).otherwise(F.lit(1))
            ).alias("d_docs"),
            (
                F.coalesce(F.col("b_ntok"), F.lit(0))
                - F.coalesce(F.col("a_ntok"), F.lit(0))
            ).alias("d_tokens"),
        )
        .groupBy("source")
        .agg(F.sum("d_docs").alias("d_docs"), F.sum("d_tokens").alias("d_tokens"))
    )
    return (
        base.join(delta, "source", "left")
        .select(
            "source",
            (F.col("n_docs") + F.coalesce(F.col("d_docs"), F.lit(0)))
            .cast("bigint")
            .alias("n_docs"),
            (F.col("n_tokens") + F.coalesce(F.col("d_tokens"), F.lit(0)))
            .cast("bigint")
            .alias("n_tokens"),
        )
        .filter(F.col("n_docs") > 0)
    )


# --- q144: declarative data-quality gate -------------------------------------
#
# The Deequ-shaped audit a pipeline runs before promoting a dataset:
# a constraint list compiled to ONE aggregation pass (every check a
# sum(case) / count(distinct) column in a single agg — N constraints,
# one scan) plus a left-anti referential check, unioned into one exact
# integer report. Violation counts are hash-verifiable — a gate either
# holds or names its count.

_Q144_LANGS = ("en", "de", "fr", "es", "zh")


@register(
    "q144_data_quality_report",
    driver=True,  # promoted r10: owed rotation for the r9-registered operators
    oracle=f"""
WITH doc_agg AS (
  SELECT
    CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c0,
    CAST(SUM(CASE WHEN doc_id IS NOT NULL THEN 1 ELSE 0 END)
         - COUNT(DISTINCT doc_id) AS BIGINT) AS c1,
    CAST(SUM(CASE WHEN lang NOT IN {_Q144_LANGS!r} THEN 1 ELSE 0 END) AS BIGINT) AS c2,
    CAST(SUM(CASE WHEN COALESCE(n_chars = length(text), FALSE)
             THEN 0 ELSE 1 END) AS BIGINT) AS c3
  FROM documents),
ref AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
SELECT 'not_null(text)' AS check_name, c0 AS violations, c0 = 0 AS passed FROM doc_agg
UNION ALL SELECT 'unique(doc_id)', c1, c1 = 0 FROM doc_agg
UNION ALL SELECT 'in_set(lang)', c2, c2 = 0 FROM doc_agg
UNION ALL SELECT 'satisfies(n_chars_consistent)', c3, c3 = 0 FROM doc_agg
UNION ALL SELECT 'references(orders.o_custkey->customer.c_custkey)', v, v = 0 FROM ref
""",
    description=(
        "declarative data-quality gate: N constraints = one aggregation "
        "scan (null/unique/domain/row-predicate) + a left-anti "
        "referential check; exact integer violation counts under the "
        "hash verdict"
    ),
    tags=("pipeline", "quality", "agg"),
)
def q144_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion-gate report over documents + orders→customer FK.

    Scale shape: the four document constraints share ONE scan/agg
    (each is a codegen'd sum(case) or count-distinct); the FK check is
    a broadcastable left-anti equi-join. Nothing is per-constraint."""
    from pyspark_mrdf_spark.operators.quality import (
        InSet,
        NotNull,
        Satisfies,
        Unique,
        quality_report,
        referential_report,
    )

    d = load_table(spark, sf_dir, "documents")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    doc_checks = quality_report(
        d,
        [
            NotNull("text"),
            Unique("doc_id"),
            InSet("lang", _Q144_LANGS),
            Satisfies("n_chars = length(text)", "n_chars_consistent"),
        ],
    )
    fk = referential_report(
        o, "o_custkey", c, "c_custkey", "orders.o_custkey->customer.c_custkey"
    )
    return doc_checks.unionByName(fk)


# --- q145: personalized PageRank (seed-conditioned quality prior) -----------

_PPR_SEED_MOD = 50  # seeds = doc_id % 50 == 0 (a deterministic "trusted set")


def _ppr_oracle() -> str:
    """q113's unrolled replay with seed-only teleport/init: base and p0
    are nonzero exactly on the seed set, everything else identical."""
    seed = f"node % {_PPR_SEED_MOD} = 0"
    cte = [
        "n AS (SELECT COUNT(*) AS c FROM documents)",
        f"ns AS (SELECT COUNT(*) AS c FROM documents WHERE doc_id % {_PPR_SEED_MOD} = 0)",
        """e AS (
  SELECT doc_id AS src, (7 * doc_id + 1) % c AS dst FROM documents, n
  UNION ALL SELECT doc_id, (13 * doc_id + 2) % c FROM documents, n
    WHERE doc_id % 3 >= 1
  UNION ALL SELECT doc_id, (29 * doc_id + 3) % c FROM documents, n
    WHERE doc_id % 3 = 2)""",
        "deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src)",
        f"""p0 AS (
  SELECT doc_id AS node,
         CASE WHEN doc_id % {_PPR_SEED_MOD} = 0
              THEN {_PR_SCALE} // (SELECT c FROM ns) ELSE 0 END AS p
  FROM documents)""",
    ]
    for i in range(1, _PR_ITER + 1):
        cte.append(
            f"""p{i} AS (
  SELECT x.node,
         CASE WHEN x.{seed}
              THEN ({_PR_SCALE} * 15) // (100 * (SELECT c FROM ns)) ELSE 0 END
         + (85 * COALESCE(s.m, 0)) // 100 AS p
  FROM p0 x LEFT JOIN (
    SELECT e.dst AS node, SUM(p.p // deg.d) AS m
    FROM e JOIN p{i - 1} p ON e.src = p.node JOIN deg ON e.src = deg.src
    GROUP BY e.dst) s ON x.node = s.node)"""
        )
    return (
        "WITH "
        + ",\n".join(cte)
        + f"\nSELECT node AS doc_id, CAST(p AS BIGINT) AS rank_e12 FROM p{_PR_ITER}"
    )


@register(
    "q145_personalized_pagerank",
    driver=True,  # promoted r10: owed rotation for the r9-registered operators
    oracle=_ppr_oracle(),
    description=(
        "personalized PageRank (Haveliwala 2002): teleport + init mass "
        "only on the doc_id%50==0 seed set over q113's citation graph — "
        "rank = integer-exact proximity to the trusted set, the "
        "seed-expansion prior behind 'more like these hosts' corpus "
        "weighting; same per-round plan and arithmetic as q113"
    ),
    tags=("pipeline", "graph", "iteration", "quality"),
)
def q145_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-conditioned rank over the synthesized citation graph.

    Scale shape: identical to q113 (edge⋈rank equi-join + dst-keyed
    sum per round); the seed set adds one broadcastable left join at
    init. Non-seed teleport mass is exactly 0, so ranks decay off the
    seed neighborhood deterministically."""
    from pyspark_mrdf_spark.operators.graph import pagerank

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    did = F.col("doc_id")
    edges = d.select(
        did.alias("src"),
        F.explode(
            F.slice(
                F.array(
                    (did * 7 + 1) % n, (did * 13 + 2) % n, (did * 29 + 3) % n
                ),
                1,
                (did % 3 + 1).cast("int"),
            )
        ).alias("dst"),
    )
    seeds = d.filter(did % _PPR_SEED_MOD == 0).select(did.alias("node"))
    ranks = pagerank(
        edges,
        nodes=d.select(did.alias("node")),
        n_iter=_PR_ITER,
        scale=_PR_SCALE,
        seeds=seeds,
    )
    return ranks.select(F.col("node").alias("doc_id"), F.col("p").alias("rank_e12"))


# --- q147: ORC interchange under the hash verdict ----------------------------
#
# q98's write→read→serve discipline applied to the interchange format:
# the documents table is round-tripped through an ORC sink/scan
# (sources/formats.py) and aggregated AFTER the round trip — per-source
# counts, char sums, and an md5-derived content checksum. The oracle
# computes the same aggregate from the original parquet, so the hash
# verdict proves byte fidelity THROUGH the format change, not just
# "the reader didn't crash".

def _q147_orc_path(spark: SparkSession, sf_dir: str) -> str:
    from pyspark_mrdf_spark.sources.formats import write_orc

    return memoized_path(
        ("q147_orc", sf_dir),
        lambda path: write_orc(load_table(spark, sf_dir, "documents"), path),
    )


@register(
    "q147_orc_roundtrip_stats",
    driver=True,  # promoted r10: owed rotation for the r9-registered operators
    oracle="""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT)
         AS content_checksum
FROM documents GROUP BY source
""",
    description=(
        "ORC interchange fidelity under the hash verdict: documents "
        "written to ORC, read back, and checksummed per source (md5-"
        "derived integer) — the oracle aggregates the ORIGINAL parquet, "
        "so equality proves the sink/scan preserved every byte"
    ),
    tags=("pipeline", "formats", "agg"),
)
def q147_orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source stats computed AFTER an ORC round trip.

    Scale shape: the write is one pass (ORC keeps columnar striping +
    stats, so downstream scans prune like parquet — plan-asserted in
    tests/test_sources.py); the readback aggregate is a plain
    source-keyed hash agg with the checksum computed map-side."""
    from pyspark_mrdf_spark.sources.formats import read_orc

    back = read_orc(spark, _q147_orc_path(spark, sf_dir))
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint"))
        .cast("bigint")
        .alias("content_checksum"),
    )


# --- q148: CSV interchange under the hash verdict ----------------------------
#
# q147's discipline for the row format: documents round-trip through
# the RFC-4180-quoted CSV sink/scan (sources/formats.py — explicit
# schema, corrupt-capture reader) and the checksum aggregate runs on
# the readback. Corpus text exercises the quoting path with real
# commas/quotes; a single mis-escaped byte anywhere flips the checksum.

def _q148_csv_path(spark: SparkSession, sf_dir: str) -> str:
    from pyspark_mrdf_spark.sources.formats import write_documents_csv

    return memoized_path(
        ("q148_csv", sf_dir),
        lambda path: write_documents_csv(load_table(spark, sf_dir, "documents"), path),
    )


@register(
    "q148_csv_roundtrip_stats",
    driver=False,  # r12 rotation: 2x driver-green (r10,r11), cedes its slot to the r11-rewritten q108 (format fidelity keeps q147)
    oracle="""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT)
         AS content_checksum
FROM documents GROUP BY source
""",
    description=(
        "CSV interchange fidelity under the hash verdict: documents "
        "written through the RFC-4180-quoted sink, read back with the "
        "explicit-schema corrupt-capture reader, checksummed per source "
        "— a single mis-escaped byte flips the verdict"
    ),
    tags=("pipeline", "formats", "agg"),
)
def q148_csv_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source stats computed AFTER a CSV round trip (corrupt-
    capture column dropped after asserting emptiness would be a second
    query — the quarantine path is tested in tests/test_sources.py;
    here any corrupt row simply breaks the counts and fails the hash).

    Scale shape: write one pass, readback a single-pass explicit-
    schema scan (no inference), checksum map-side, one source-keyed
    agg."""
    from pyspark_mrdf_spark.sources.formats import read_documents_csv

    back = read_documents_csv(spark, _q148_csv_path(spark, sf_dir)).drop(
        "_corrupt_record"
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint"))
        .cast("bigint")
        .alias("content_checksum"),
    )


# --- q154: MERGE-style upsert under the hash verdict -------------------------
#
# The q147/q148 discipline for the MAINTENANCE primitive: a base
# parquet corpus receives an upsert batch (in-place revisions + new
# docs) through io.upsert_parquet — anti-join + union + rewrite, the
# copy-on-write every table format performs per file group — and the
# checksummed aggregate runs on the REWRITTEN table. The oracle
# computes the post-merge state relationally, so hash equality proves
# the merge semantics (replace on key match, append on new key) and
# the rewrite's byte fidelity at once.

def _q154_out_path(spark: SparkSession, sf_dir: str) -> str:
    from pyspark_mrdf_spark.io import upsert_parquet

    def _build(root: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        base_path = root + "/base"
        out_path = root + "/merged"
        d.write.mode("overwrite").parquet(base_path)
        updates = (
            d.filter(F.col("doc_id") % 7 == 3)
            .select(
                "doc_id",
                F.concat(F.lit("UPD "), F.col("text")).alias("text"),
                "lang", "source", "n_chars",
            )
            .unionByName(
                d.filter(F.col("doc_id") % 11 == 5).select(
                    (-F.col("doc_id") - 1).alias("doc_id"),
                    F.concat(F.lit("INS "), F.col("text")).alias("text"),
                    "lang", "source", "n_chars",
                )
            )
        )
        upsert_parquet(spark, base_path, updates, "doc_id", out_path)

    return memoized_path(("q154_upsert", sf_dir), _build) + "/merged"


@register(
    "q154_upsert_merge_stats",
    driver=True,  # promoted r10: owed rotation for the r9-registered operators
    oracle="""
WITH updates AS (
  SELECT doc_id, 'UPD ' || text AS text, source FROM documents WHERE doc_id % 7 = 3
  UNION ALL
  SELECT -doc_id - 1 AS doc_id, 'INS ' || text AS text, source
  FROM documents WHERE doc_id % 11 = 5),
merged AS (
  SELECT d.doc_id, d.text, d.source FROM documents d
  WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.doc_id = d.doc_id)
  UNION ALL SELECT doc_id, text, source FROM updates)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT)
         AS content_checksum
FROM merged GROUP BY source
""",
    description=(
        "MERGE-style upsert under the hash verdict: revisions replace "
        "matching keys, inserts append, via io.upsert_parquet's "
        "anti-join+union+rewrite (the copy-on-write table formats run "
        "per file group); the checksum aggregate reads the REWRITTEN "
        "parquet while the oracle derives the post-merge state "
        "relationally"
    ),
    tags=("pipeline", "formats", "agg"),
)
def q154_upsert_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source stats of the post-upsert table, read from the
    rewritten files.

    Scale shape: the merge is one key-anti-join + union + rewrite
    (updates side broadcastable at churn-sized batches); the verdict
    aggregate is a source-keyed hash agg with a map-side checksum."""
    out = spark.read.parquet(_q154_out_path(spark, sf_dir))
    return out.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint"))
        .cast("bigint")
        .alias("content_checksum"),
    )


# --- q156: weighted sampling without replacement (A-Res) ---------------------
#
# Quality-weighted corpus subsampling — the "sample 10B tokens
# preferring high-quality docs" step between scoring (q110/q117) and
# training. Efraimidis & Spirakis 2006: key = u^(1/w) with u an
# independent uniform per item; the global (here per-source) top-N by
# key IS an exact weighted sample without replacement. Ordering by
# ln(u)/w is monotone-equivalent and better conditioned. u is the
# repo's portable md5 uniform, so the sample is identical on any
# engine/partitioning; the comparison is float-ORDER-only (the q124
# stance) and ranks/ids are the integers under the hash.

_WSAMPLE_PER_SOURCE = 10
_WSAMPLE_SEED = 23


@register(
    "q156_weighted_sample",
    # promoted r11 (r10 verdict ask #2): takes the slot of the
    # 2x-green q128 (see tests/test_oracle_queries.py DRIVER_SURFACE)
    oracle=f"""
WITH s AS (
  SELECT source, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':{_WSAMPLE_SEED}'), 1, 8)) AS BIGINT)
           / 4294967296.0 AS u
  FROM documents),
k AS (
  SELECT source, doc_id, w,
         ROW_NUMBER() OVER (PARTITION BY source
           ORDER BY ln(greatest(u, 1e-12)) / w DESC, doc_id) AS rank
  FROM s WHERE w > 0)
SELECT source, doc_id, w, CAST(rank AS BIGINT) AS rank
FROM k WHERE rank <= {_WSAMPLE_PER_SOURCE}
""",
    description=(
        "exact weighted sampling WITHOUT replacement (Efraimidis-"
        "Spirakis A-Res): per-source top-N by ln(u)/w with the portable "
        "md5 uniform — heavier (longer) docs proportionally likelier, "
        "reproducible on any engine/partition layout; the per-key top-N "
        "rides the salted two-stage capped_per_key, so one giant source "
        "cannot serialize the ranking"
    ),
    tags=("pipeline", "sampling", "window"),
)
def q156_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weighted sample: N docs, inclusion probability
    proportional to token count (the A-Res exponential-key trick).

    Scale shape: one map-side projection computes (w, u, ln(u)/w) —
    no shuffle until the per-source top-N, which goes through
    ``capped_per_key``'s salted two-stage ranking (stage-1 supersets
    per (source, salt), stage-2 re-ranks O(sources·salts·N) rows)."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id"), F.lit(_WSAMPLE_SEED))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    s = d.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("w"),
        u.alias("u"),
    ).filter(F.col("w") > 0)
    # clamp before the log ON BOTH ENGINES: u = 0 (all-zero md5 head,
    # p ≈ 2^-32/doc) would make Spark's log(0) a NULL (sorts last)
    # while DuckDB's ln(0) errors out — a cross-engine asymmetry, not
    # a shared convention. The smallest nonzero u is 2^-32 ≈ 2.3e-10,
    # so greatest(u, 1e-12) is the identity on every nonzero draw and
    # both engines key u=0 docs by the identical ln(1e-12)/w double.
    s = s.withColumn("key", F.log(F.greatest(F.col("u"), F.lit(1e-12))) / F.col("w"))
    out = capped_per_key(
        s,
        ["source"],
        [F.col("key").desc(), F.col("doc_id")],
        _WSAMPLE_PER_SOURCE,
        "rank",
        id_col="doc_id",
    )
    return out.select("source", "doc_id", "w", F.col("rank").cast("bigint").alias("rank"))


# --- q157: token-budget corpus selection -------------------------------------
#
# The mixture-assembly primitive: fill each source's token budget with
# its best documents (greedy by quality, the standard data-mixing
# recipe). Quality here is the exact-integer type-token ratio — a
# deterministic stand-in for any upstream model score (q110/q117 plug
# in through the same ORDER BY). Everything is integer arithmetic +
# one per-source ordered window, so the verdict is hash-exact.

_TOKEN_BUDGET_PER_SOURCE = 700


@register(
    "q157_token_budget_selection",
    # promoted r11 (r10 verdict ask #2): takes the slot of the
    # 2x-green q132 (see tests/test_oracle_queries.py DRIVER_SURFACE)
    oracle=f"""
WITH s AS (
  SELECT source, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
  FROM documents),
q AS (
  SELECT source, doc_id, n_tok,
         (1000000 * n_distinct) // n_tok AS ttr_e6
  FROM s WHERE n_tok > 0),
c AS (
  SELECT source, doc_id, n_tok, ttr_e6,
         CAST(SUM(n_tok) OVER (PARTITION BY source
           ORDER BY ttr_e6 DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
  FROM q)
SELECT source, doc_id, n_tok, ttr_e6, cum_tok
FROM c WHERE cum_tok <= {_TOKEN_BUDGET_PER_SOURCE}
""",
    description=(
        "greedy token-budget selection per source (the data-mixing "
        "assembly step): rank docs by exact-integer type-token-ratio "
        "quality, keep while the running token sum fits the budget — "
        "one source-keyed ordered window over map-side integer "
        "projections, no corpus-wide sort, hash-exact"
    ),
    tags=("pipeline", "sampling", "window"),
)
def q157_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs selected into each source's token budget, best-first.

    Scale shape: token/distinct counts are per-row map-side exprs
    (text never shuffles — only (source, doc_id, two ints) reach the
    exchange); the cumulative sum is a per-source ROWS window (never
    global); the budget filter is a row predicate on the window
    output. At 100 TB the window partitions by source — bounded by the
    largest single source, the same profile as q114/q135."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    s = d.select(
        "source",
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
    ).filter(F.col("n_tok") > 0)
    q = s.select(
        "source",
        "doc_id",
        "n_tok",
        # `div`, not `/`-then-cast: both engines must floor identically
        F.expr("(CAST(1000000 AS BIGINT) * n_distinct) div n_tok").alias("ttr_e6"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("ttr_e6").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = q.withColumn("cum_tok", F.sum("n_tok").over(w))
    return c.filter(F.col("cum_tok") <= _TOKEN_BUDGET_PER_SOURCE)
