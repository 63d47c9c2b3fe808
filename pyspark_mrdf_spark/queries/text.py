"""Text-analysis query family over the ``documents`` table
(north-star: language-ID, quality scoring, token counting,
fingerprinting — SURVEY.md §2B "Text analysis").

All expressions are JVM-side built-ins (split/size/filter/transform/
md5) — zero Python in the hot path; at 100 TB this family is
embarrassingly parallel per-document map work with one shuffle only
where a groupBy appears.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_mrdf_spark.functions import text as T
from pyspark_mrdf_spark.io import load_table
from pyspark_mrdf_spark.queries import register

_SW_SQL = "['the','a','of','and','to','in','is','for','on','with']"


@register(
    "q30_token_stats",
    driver=False,  # rotated out r3: twice driver-green; slot ceded to q70-q80
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct,
       CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         / len(string_split(text, ' ')) AS ttr
FROM documents
""",
    description="token counting + type-token ratio per document",
    tags=("text",),
)
def q30_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.n_tokens("text").alias("n_tokens"),
        T.n_distinct_tokens("text").alias("n_distinct"),
        (T.n_distinct_tokens("text").cast("double") / T.n_tokens("text")).alias("ttr"),
    )


@register(
    "q31_word_freq",
    driver=False,  # rotated out r3: twice driver-green; slot ceded to q70-q80
    oracle="""
SELECT word, COUNT(*) AS freq
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY word
ORDER BY freq DESC, word
LIMIT 20
""",
    description="global word frequency: explode + groupBy + top-20 (map-side partial agg)",
    tags=("text", "agg", "sort"),
)
def q31_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(T.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "word")
        .limit(20)
    )


@register(
    "q32_quality_score",
    driver=False,  # r8 rotation: 7x driver-green, cedes its slot to q99-q104 (text family keeps q64/q83/q87/q88/q96 driver reps)
    oracle=f"""
SELECT doc_id, lang,
       CAST(len(list_filter(string_split(text, ' '),
                 t -> list_contains({_SW_SQL}, t))) AS DOUBLE)
         / len(string_split(text, ' ')) AS stopword_ratio,
       CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
         / len(string_split(text, ' ')) AS avg_token_len,
       len(string_split(text, ' ')) >= 20 AND
       len(list_filter(string_split(text, ' '),
                 t -> list_contains({_SW_SQL}, t))) > 0 AS quality_pass
FROM documents
""",
    description="document quality scoring: stopword ratio + avg token length + pass flag",
    tags=("text",),
)
def q32_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    nt = T.n_tokens("text")
    hits = T.stopword_hits("text")
    return d.select(
        "doc_id",
        "lang",
        (hits.cast("double") / nt).alias("stopword_ratio"),
        ((F.length("text") - nt + 1).cast("double") / nt).alias("avg_token_len"),
        ((nt >= 20) & (hits > 0)).alias("quality_pass"),
    )


@register(
    "q33_langid_heuristic",
    driver=False,  # demoted r7 after 5 driver-green rounds; slot went to q82 decontamination
    oracle=f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                t -> list_contains({_SW_SQL}, t))) AS DOUBLE)
                / len(string_split(text, ' ')) > 0.05
            THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en
FROM documents
GROUP BY lang
""",
    description="language-ID stopword heuristic vs labeled lang column",
    tags=("text", "agg"),
)
def q33_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ratio = T.stopword_hits("text").cast("double") / T.n_tokens("text")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(ratio > 0.05, 1).otherwise(0)).alias("n_pred_en"),
    )


@register(
    "q34_fingerprint_stats",
    driver=False,  # pytest-only: exact-dup fingerprinting covered by q40
    oracle="""
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS n_unique,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_exact_dups
FROM documents
GROUP BY source
""",
    description="md5 content fingerprinting: exact-duplicate counts per source",
    tags=("text", "dedup", "agg"),
)
def q34_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(T.fingerprint("text")).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(T.fingerprint("text"))).alias("n_exact_dups"),
    )


@register(
    "q35_bpeish_tokens",
    driver=False,  # rotated out r3: twice driver-green; slot ceded to q70-q80
    oracle=r"""
SELECT doc_id,
       len(string_split_regex(trim(regexp_replace(text, '([0-9]+|[^a-zA-Z0-9 ]+)', ' \1 ', 'g')), '\s+')) AS n_subtokens
FROM documents WHERE doc_id % 5 = 0
""",
    description="BPE-ish regex sub-word tokenization (digit/punct boundaries)",
    tags=("text",),
)
def q35_bpeish_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.size(
            F.split(
                F.trim(F.regexp_replace(F.col("text"), r"([0-9]+|[^a-zA-Z0-9 ]+)", r" $1 ")),
                r"\s+",
            )
        ).alias("n_subtokens"),
    )


@register(
    "q36_rolling_fingerprint",
    driver=False,  # demoted r7 after 4 driver-green rounds; slot went to q83 PII scrub
    oracle="""
SELECT doc_id,
       list_min(list_transform(generate_series(1, length(text) - 7),
                i -> CAST(unicode(text[i+0]) AS BIGINT) * 27512614111 + CAST(unicode(text[i+1]) AS BIGINT) * 887503681 + CAST(unicode(text[i+2]) AS BIGINT) * 28629151 + CAST(unicode(text[i+3]) AS BIGINT) * 923521 + CAST(unicode(text[i+4]) AS BIGINT) * 29791 + CAST(unicode(text[i+5]) AS BIGINT) * 961 + CAST(unicode(text[i+6]) AS BIGINT) * 31 + CAST(unicode(text[i+7]) AS BIGINT) * 1)) AS min_rhash,
       CAST(length(text) - 7 AS INT) AS n_windows
FROM documents
WHERE length(text) >= 8
""",
    description="rolling-hash document fingerprint (winnowing-style min of 8-char polynomial window hashes), pure JVM exprs vs DuckDB list oracle",
    tags=("text", "fingerprint"),
)
def q36_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Catalyst higher-order functions are interpreted per element —
    # the transform/aggregate form costs ~8 lambda evals per character
    # (measured 16.7s at sf0.1). The same polynomial is one exact
    # int64 NumPy convolution per document: bytes == code points for
    # this ASCII corpus, weights 31^(7-j), sliding window = convolve.
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    d = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 8)
    w = 31 ** np.arange(7, -1, -1, dtype=np.int64)

    def _fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mins: list[int] = []
            wins: list[int] = []
            for text in pdf["text"]:
                b = np.frombuffer(text.encode("utf-8"), np.uint8).astype(np.int64)
                h = np.convolve(b, w[::-1], mode="valid")
                mins.append(int(h.min()))
                wins.append(len(h))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "min_rhash": mins, "n_windows": wins}
            )

    return d.select("doc_id", "text").mapInPandas(
        _fp, "doc_id long, min_rhash long, n_windows int"
    )


@register(
    "q64_clean_corpus",
    driver=False,  # r8 fourth rotation: 7x driver-green (text keeps q83/q87/q88/q96/q107/q108/q110/q111 driver reps); cedes its slot to q111-q116
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50),
keep_one AS (
  SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
survivors AS (
  SELECT c.doc_id, len(string_split(c.text, ' ')) AS n_tokens
  FROM corpus c JOIN keep_one k ON c.doc_id = k.doc_id)
SELECT doc_id, n_tokens FROM survivors WHERE n_tokens >= 30
""",
    description="end-to-end corpus cleaning composite: exact-dedup (keep lowest id per fingerprint) then token-count quality gate — the filter+dedup shape of a real training-data pass",
    tags=("text", "dedup", "pipeline"),
)
def q64_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = d.unionByName(copies)
    keep = corpus.groupBy(F.md5("text").alias("fp")).agg(F.min("doc_id").alias("doc_id"))
    return (
        corpus.join(keep.select("doc_id"), "doc_id")
        .withColumn("n_tokens", F.size(F.split("text", " ")))
        .filter(F.col("n_tokens") >= 30)
        .select("doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"))
    )


# q83's oracle is GENERATED from functions/text.PII_PATTERNS so the
# DuckDB replace chain cannot drift from the Spark one (same patterns,
# same order — order is semantic, see PII_PATTERNS). The patterns use
# only the Java∩RE2-identical dialect subset, so embedding the same
# string in both engines yields byte-identical masking.
def _pii_scrub_sql_expr(col: str) -> str:
    expr = col
    for kind, pat in T.PII_PATTERNS.items():
        expr = f"regexp_replace({expr}, '{pat}', '<{kind.upper()}>', 'g')"
    return expr


def _pii_count_sql_cols(col: str) -> str:
    return ",\n       ".join(
        f"CAST(len(regexp_extract_all({col}, '{pat}')) AS INT) AS n_{kind}"
        for kind, pat in T.PII_PATTERNS.items()
    )


_CC_DIGITS_SQL = (
    "regexp_replace(regexp_extract(t, '"
    + T.PII_PATTERNS["ccard"]
    + "'), '[^0-9]', '', 'g')"
)

_Q83_ORACLE = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.com or 10.0.'
              || CAST(doc_id % 256 AS VARCHAR) || '.1 or 555-123-4567 card '
              || CASE WHEN doc_id % 2 = 0 THEN '4111 1111 1111 1111'
                      ELSE '4111-1111-1111-1112' END
              || ' ssn 123-45-6789 key sk_AbC123xyz789LMNop456 end' AS t
  FROM documents),
cc AS (
  SELECT doc_id, t, {_CC_DIGITS_SQL} AS ccd FROM aug)
SELECT doc_id,
       {_pii_count_sql_cols('t')},
       (length(ccd) >= 13 AND
        list_sum(list_transform(generate_series(1, length(ccd)),
          i -> CASE WHEN (length(ccd) - i) % 2 = 1
                    THEN 2 * CAST(ccd[i] AS INT)
                         - CASE WHEN CAST(ccd[i] AS INT) > 4 THEN 9 ELSE 0 END
                    ELSE CAST(ccd[i] AS INT) END)) % 10 = 0) AS cc_luhn_ok,
       md5({_pii_scrub_sql_expr('t')}) AS clean_fp
FROM cc
"""


@register(
    "q83_pii_scrub",
    driver=False,  # r9 rotation: 2x driver-green, cedes its slot to q119-q136 (text keeps q96/q107/q108/q110/q111 + the new q136)
    # promoted r7 (VERDICT r6 ask #1): PII scrub needs a hard driver
    # verdict; slot ceded by q36 (4x driver-green)
    oracle=_Q83_ORACLE,
    description=(
        "PII detection + masking (functions/text.pii_counts/scrub_pii/"
        "luhn_valid): pure JVM regexp chain over PII-augmented documents "
        "across SIX kinds (email, api-key, credit-card, SSN, phone, ipv4); "
        "per-kind match counts, a Luhn checksum verdict on the extracted "
        "card (higher-order aggregate, no UDF — even rows carry a valid "
        "4111... card, odd rows an invalid one), AND an md5 fingerprint of "
        "the scrubbed text — masking must agree byte-for-byte with the "
        "oracle's RE2 dialect; the oracle SQL is generated from the same "
        "PII_PATTERNS dict the Spark chain uses, so they cannot drift"
    ),
    tags=("text", "pii", "pipeline"),
)
def q83_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    card = F.when(
        F.col("doc_id") % 2 == 0, F.lit("4111 1111 1111 1111")
    ).otherwise(F.lit("4111-1111-1111-1112"))
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 or 555-123-4567 card "),
            card,
            F.lit(" ssn 123-45-6789 key sk_AbC123xyz789LMNop456 end"),
        ).alias("t"),
    )
    counts = T.pii_counts("t")
    cc_digits = F.regexp_replace(
        F.regexp_extract("t", T.PII_PATTERNS["ccard"], 0), "[^0-9]", ""
    )
    return aug.select(
        "doc_id",
        *[counts[k].cast("int").alias(f"n_{k}") for k in T.PII_PATTERNS],
        T.luhn_valid(cc_digits).alias("cc_luhn_ok"),
        F.md5(T.scrub_pii("t")).alias("clean_fp"),
    )


@register(
    "q87_repetition_filter",
    driver=False,  # r9 rotation: 2x driver-green, cedes its slot to q119-q136 (text keeps q96/q110/q111/q136)
    # new r7, promoted same-round: q10/q13/q27/q65 (6x driver-green) ceded slots
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE len(string_split(text, ' ')) >= 10),
g AS (
  SELECT doc_id,
         len(toks) - 2 AS n_grams,
         len(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                          i -> array_to_string(toks[i:i+2], ' ')))) AS n_distinct
  FROM t),
tc AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2),
m AS (
  SELECT doc_id, MAX(c) AS max_c, CAST(SUM(c) AS BIGINT) AS n_tokens
  FROM tc GROUP BY 1)
SELECT g.doc_id,
       CAST((g.n_grams - g.n_distinct) * 1000000 // g.n_grams AS BIGINT) AS dup_gram_frac_e6,
       CAST(m.max_c * 1000000 // m.n_tokens AS BIGINT) AS top_token_frac_e6,
       ((g.n_grams - g.n_distinct) * 1000000 // g.n_grams <= 300000
        AND m.max_c * 1000000 // m.n_tokens <= 200000) AS quality_pass
FROM g JOIN m USING (doc_id)
""",
    description=(
        "within-document repetition filter (Gopher/MassiveText-style "
        "pretraining quality rule): duplicate 3-gram fraction + most-common-"
        "token fraction per doc, exact integer fixed-point, with the "
        "dup<=0.30 / top-token<=0.20 pass flag. Gram stats are JVM "
        "higher-order exprs (O(n log n) per doc, no shuffle); token-mode "
        "stats explode+groupBy (map-side partial agg) — the shape that "
        "survives 100 TB because every step is per-doc or an equi-key agg"
    ),
    tags=("text", "quality", "pipeline"),
)
def q87_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    d = d.filter(F.size(toks) >= 10)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
    )
    g = d.select(
        "doc_id",
        (F.size(toks) - 2).cast("bigint").alias("n_grams"),
        F.size(F.array_distinct(grams)).cast("bigint").alias("n_distinct"),
    )
    m = (
        d.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_c"), F.sum("c").alias("n_tokens"))
    )
    dup = F.expr("(n_grams - n_distinct) * 1000000 div n_grams")
    top = F.expr("max_c * 1000000 div n_tokens")
    return (
        g.join(m, "doc_id")
        .select(
            "doc_id",
            dup.alias("dup_gram_frac_e6"),
            top.alias("top_token_frac_e6"),
            ((dup <= 300_000) & (top <= 200_000)).alias("quality_pass"),
        )
    )


@register(
    "q88_bm25_retrieval",
    driver=False,  # r9 rotation: 2x driver-green, cedes its slot to q119-q136 (retrieval stays driver-verified via the new q120 hybrid RRF)
    # new r7, promoted same-round: q10/q13/q27/q65 (6x driver-green) ceded slots
    oracle="""
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_toks FROM dl),
tf AS (
  SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
  WHERE tok IN ('vector', 'join', 'spark')
  GROUP BY 1, 2),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
scored AS (
  -- IEEE-double components in PINNED op order (int64->double, *, -,
  -- +, / are all IEEE-determined, so both engines derive bit-identical
  -- values at ANY corpus scale; the previous integer fixed-point form
  -- overflowed int64 once tf*total_toks passed ~2.1e11)
  SELECT tf.doc_id,
         CAST(floor(
           ((2e0 * s.n_docs - 2e0 * df.df + 1e0) / (2e0 * df.df + 1e0))
           * (44e0 * tf.tf * s.total_toks
              / (20e0 * tf.tf * s.total_toks + 6e0 * s.total_toks + 18e0 * dl.dl * s.n_docs))
           * 1000000e0) AS BIGINT) AS term_score_e6
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN s)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
       CAST(SUM(term_score_e6) AS BIGINT) AS bm25_e6
FROM scored GROUP BY doc_id
ORDER BY bm25_e6 DESC, doc_id LIMIT 20
""",
    description=(
        "BM25 top-20 retrieval for the query {vector, join, spark} over the "
        "documents corpus — the text-relevance scorer a curation pipeline "
        "uses to mine topic-matched training data. Engine-portable scoring: "
        "the idf is the rational (N-df+.5)/(df+.5) (no ln) and the "
        "k1=1.2/b=0.75 saturation term is 44·tf·T / (20·tf·T + 6·T + "
        "18·dl·N), both evaluated as IEEE doubles (e-notation literals — `44.0` parses as DECIMAL on both engines, with dialect-divergent arithmetic) in pinned op order — "
        "bit-identical cross-engine at ANY corpus scale (the integer "
        "fixed-point form overflowed int64 past tf·T ~ 2.1e11). "
        "Scale shape: one per-doc tokenize pass, "
        "the explode is pre-filtered to the query's own terms (map-side, "
        "output ~|Q|·n_docs not corpus tokens), df and the corpus stats are "
        "O(|Q|) / O(1) broadcast sides, and the top-20 is orderBy+limit — "
        "Spark's distributed TakeOrdered, never a single-partition window"
    ),
    tags=("text", "retrieval", "pipeline"),
)
def q88_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = ["vector", "join", "spark"]
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("toks"),
    )
    dl = d.select("doc_id", F.size("toks").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_toks"),
    )
    tf = (
        d.select(
            "doc_id",
            F.explode(
                F.filter("toks", lambda t: t.isin(terms))
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(
                "CAST(floor("
                "  ((2e0 * n_docs - 2e0 * df + 1e0) / (2e0 * df + 1e0))"
                "  * (44e0 * tf * total_toks"
                "     / (20e0 * tf * total_toks + 6e0 * total_toks + 18e0 * dl * n_docs))"
                "  * 1000000e0) AS BIGINT)"
            ).alias("term_score_e6"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms_matched"),
            F.sum("term_score_e6").cast("bigint").alias("bm25_e6"),
        )
        .orderBy(F.desc("bm25_e6"), "doc_id")
        .limit(20)
    )


@register(
    "q96_rare_token_filter",
    # promoted r8: rotated into the driver surface for a hard verdict
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
freq AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_occ FROM tok GROUP BY tok)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN f.n_occ <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       CAST(SUM(CASE WHEN f.n_occ <= 2 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
         AS rare_frac_e6,
       CAST(SUM(f.n_occ) // COUNT(*) AS BIGINT) AS mean_tok_freq,
       (SUM(CASE WHEN f.n_occ <= 2 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)) <= 100000
         AS quality_pass
FROM tok t JOIN freq f USING (tok)
GROUP BY t.doc_id
""",
    description=(
        "frequency-dictionary quality filter: per-doc share of CORPUS-rare "
        "tokens (occurring <=2 times overall) and mean corpus frequency of "
        "the doc's tokens, with the <=0.10 rare-share pass flag — the "
        "dictionary-based pass that catches OCR garbage, mojibake, and "
        "gibberish that per-doc heuristics (q32/q87) cannot see, because "
        "its signal is the whole corpus's vocabulary. Exact integers "
        "throughout. Scale shape: one explode pass, a token-keyed count "
        "with map-side partials (vocabulary-sized output), a token-keyed "
        "equi-join back, one doc-keyed agg — every step per-doc or "
        "equi-key, the 100 TB-safe shape"
    ),
    tags=("text", "quality", "pipeline"),
    driver=False,  # r10 rotation: 2x driver-green (r8,r9), cedes its slot to q137-q155 (text quality stays via q117 NB + new q144 gate)
)
def q96_rare_token_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n_occ"))
    j = tok.join(freq, "tok")
    rare = F.sum(F.when(F.col("n_occ") <= 2, 1).otherwise(0))
    frac = F.expr("n_rare * 1000000 div n_tokens")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            rare.cast("bigint").alias("n_rare"),
            F.sum("n_occ").alias("freq_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_rare",
            frac.alias("rare_frac_e6"),
            F.expr("freq_sum div n_tokens").cast("bigint").alias("mean_tok_freq"),
            (frac <= 100_000).alias("quality_pass"),
        )
    )


# q107/q108: BPE tokenizer training + application — the tokenizer half
# of a pretraining pipeline. The pure merge arithmetic lives in
# functions/bpe.py (one source of truth, lloyd_centroids-style); the
# Spark side distributes the corpus-sized passes (word counting,
# re-tokenization) and runs the O(|vocab| * k) merge loop on the
# BOUNDED word-frequency dictionary — exactly how production BPE
# trainers are structured.
BPE_K = 12
# Driver-state bound for tokenizer training: only the exact top-V
# words by count ever reach the driver. On raw web text distinct
# whitespace tokens run to billions (typos, URLs, ids) — an uncapped
# collect is a driver OOM; capping to the head is standard BPE
# practice (min-frequency / vocab-size pruning) and the Zipf tail
# contributes negligible pair mass anyway. The cap is EXACT and
# deterministic — top-V by (count desc, tok asc) — and is applied
# IDENTICALLY in the DuckDB oracle, so hash-exactness is preserved by
# construction. Spark compiles orderBy().limit(V) to
# TakeOrderedAndProject: each partition keeps its local top-V and the
# driver merges O(V)-sized heaps — never O(distinct tokens) driver
# state (gated by tests/test_properties.py::test_bpe_topv_cap_*).
BPE_V = 4096


def _bpe_word_counts_df(d: DataFrame, v: int = BPE_V) -> DataFrame:
    """Exact top-``v`` word counts by (count desc, tok asc); compiles
    to TakeOrderedAndProject, so each partition keeps a local top-v
    and the driver merges O(v) heaps."""
    return (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(v)
    )


def _bpe_word_counts_spark(d: DataFrame, v: int = BPE_V) -> dict[str, int]:
    """The one sanctioned collect in the BPE path — driver state O(v)
    regardless of corpus vocabulary."""
    return {r["tok"]: int(r["c"]) for r in _bpe_word_counts_df(d, v).collect()}


def _bpe_merge_rows(sf_dir: str) -> list[tuple[int, str, str, int]]:
    """Oracle-side replica: word counts via DuckDB (same exact top-V
    cap as the Spark builder), merges via the shared sequential
    core."""
    import duckdb

    from pyspark_mrdf_spark.functions.bpe import bpe_merges

    rows = duckdb.sql(
        f"SELECT tok, COUNT(*) AS c FROM (SELECT unnest(string_split(text, ' ')) AS tok "
        f"FROM '{sf_dir}/documents.parquet') GROUP BY tok "
        f"ORDER BY c DESC, tok ASC LIMIT {BPE_V}"
    ).fetchall()
    merges = bpe_merges({r[0]: r[1] for r in rows}, BPE_K)
    return [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)]


def _q107_oracle(sf_dir: str) -> str:
    vals = ",\n  ".join(
        "({}, '{}', '{}', {})".format(rk, l.replace("'", "''"), r.replace("'", "''"), c)
        for rk, l, r, c in _bpe_merge_rows(sf_dir)
    )
    return f"""
SELECT CAST(rank AS BIGINT) AS rank, left_sym, right_sym, CAST(pair_count AS BIGINT) AS pair_count
FROM (VALUES
  {vals}) AS t(rank, left_sym, right_sym, pair_count)
"""


@register(
    "q107_bpe_train",
    # promoted r8 (third rotation): hard verdict for tokenizer training
    oracle=_q107_oracle,
    description=(
        f"BPE tokenizer training (Sennrich et al. 2016), {BPE_K} merges: "
        "the corpus-sized work is ONE distributed word-count aggregation; "
        "the merge loop then runs on the bounded word-frequency dictionary "
        "(O(|vocab| x k) — how every production BPE trainer is built). "
        "Deterministic tie-break (max count, then lexicographically "
        "smallest pair) makes the merge table bit-identical to the "
        "oracle's sequential replay of the shared functions/bpe.py core "
        "over SQL-computed word counts"
    ),
    tags=("text", "tokenizer", "pipeline"),
)
def q107_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the only collect is the exact top-BPE_V word
    counts via TakeOrderedAndProject (O(V) driver state — never
    O(distinct tokens), which is billions on raw web text); everything
    corpus-sized stays a distributed agg. The identical cap runs in
    the DuckDB oracle, so the merge table stays hash-exact."""
    from pyspark_mrdf_spark.functions.bpe import bpe_merges

    d = load_table(spark, sf_dir, "documents")
    merges = bpe_merges(_bpe_word_counts_spark(d), BPE_K)
    return spark.createDataFrame(
        [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank long, left_sym string, right_sym string, pair_count long",
    )


def _q108_oracle(sf_dir: str) -> str:
    """Independent sequential implementation inlined as literals: BPE
    application is not SQL-expressible (per-word iterative rewriting),
    so the oracle computes the expected per-doc subword stats with the
    shared core over DuckDB-loaded text — an independent replica, the
    same upgrade-from-rows-only pattern as the inlined centroids."""
    import duckdb

    from pyspark_mrdf_spark.functions.bpe import bpe_segment

    merges = [(l, r, c) for _, l, r, c in _bpe_merge_rows(sf_dir)]
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    seg_cache: dict[str, int] = {}
    out = []
    for doc_id, text in rows:
        words = text.split(" ")
        n_sub = 0
        for w in words:
            if w not in seg_cache:
                seg_cache[w] = len(bpe_segment(w, merges))
            n_sub += seg_cache[w]
        out.append((doc_id, len(words), n_sub))
    vals = ",\n  ".join(f"({d}, {w}, {s})" for d, w, s in out)
    return f"""
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, CAST(n_subwords AS BIGINT) AS n_subwords
FROM (VALUES
  {vals}) AS t(doc_id, n_words, n_subwords)
"""


@register(
    "q108_bpe_tokenize",
    # promoted r8 (third rotation): hard verdict for tokenizer application
    oracle=_q108_oracle,
    description=(
        "BPE application: re-tokenize every document with the q107-trained "
        "merge table (broadcast O(k) state, greedy rank-order application "
        "per word, per-word memoized inside each Arrow batch) and emit "
        "per-doc word/subword counts; oracle = the shared sequential core "
        "replayed independently and inlined as literals (BPE application "
        "is per-word iterative rewriting — not SQL-expressible, so the "
        "replica is what upgrades this from a rows-only verdict)"
    ),
    tags=("text", "tokenizer", "pipeline"),
    # re-promoted r12 (r11 verdict ask #2): the r11 top-V cap rewrote
    # this builder while it sat pytest-only — changed code re-earns a
    # driver verdict; q148 (2x-green, format fidelity keeps q147) cedes
    # the slot
    driver=True,
)
def q108_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one mapInPandas over documents with broadcast O(k)
    merge state; per-word segmentation memoizes within each batch, so
    cost tracks DISTINCT words per batch (Zipf ≪ tokens). Zero
    shuffle — output is per-doc."""
    import pandas as pd

    from pyspark_mrdf_spark.functions.bpe import bpe_merges, bpe_segment

    d = load_table(spark, sf_dir, "documents")
    merges = bpe_merges(_bpe_word_counts_spark(d), BPE_K)
    bmerges = spark.sparkContext.broadcast(merges)

    def _tok(batches):
        ms = bmerges.value
        cache: dict[str, int] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            n_words, n_sub = [], []
            for text in pdf["text"]:
                ws = text.split(" ")
                total = 0
                for w in ws:
                    if w not in cache:
                        cache[w] = len(bpe_segment(w, ms))
                    total += cache[w]
                n_words.append(len(ws))
                n_sub.append(total)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": pd.Series(n_words, dtype="int64"),
                    "n_subwords": pd.Series(n_sub, dtype="int64"),
                }
            )

    return d.select("doc_id", "text").mapInPandas(
        _tok, "doc_id long, n_words long, n_subwords long"
    )


# q110's keep threshold: mean per-token backoff score >= 0.02 in e6
# fixed point — the "language-model band" dial a deployment sweeps
_LM_KEEP_E6 = 20_000


# shared LM-scoring CTE chain, parameterized by the TRAINING corpus
# predicate: q110 trains on the full corpus (in-domain self-scoring),
# q111 trains on the lang='en' reference subset and scores everything
# (the actual CCNet configuration). One textual source so the two
# oracles cannot drift.
def _lm_scored_cte(train_pred: str) -> str:
    return f"""toks AS (
  SELECT doc_id, list_concat(['<s>', '<s>'], string_split(text, ' ')) AS t
  FROM documents),
ttoks AS (
  SELECT list_concat(['<s>', '<s>'], string_split(text, ' ')) AS t
  FROM documents WHERE {train_pred}),
uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
  FROM (SELECT unnest(t) AS w FROM ttoks) GROUP BY w),
tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n FROM uni),
bi AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM (
    SELECT t[i] AS w1, t[i + 1] AS w2
    FROM ttoks, UNNEST(generate_series(1, len(t) - 1)) AS g(i))
  GROUP BY w1, w2),
tri AS (
  SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c3 FROM (
    SELECT t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
    FROM ttoks, UNNEST(generate_series(1, len(t) - 2)) AS g(i))
  GROUP BY w1, w2, w3),
grams AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)),
scored AS (
  SELECT s.doc_id,
         CASE WHEN tr.c3 IS NOT NULL THEN (1000000 * tr.c3) // bc.c2
              WHEN b.c2 IS NOT NULL THEN (400000 * b.c2) // u2.c1
              WHEN u3.c1 IS NOT NULL THEN (160000 * u3.c1) // tot.n
              ELSE 0 END AS sc,
         u3.c1 IS NULL AS oov
  FROM grams s
  LEFT JOIN tri tr ON tr.w1 = s.w1 AND tr.w2 = s.w2 AND tr.w3 = s.w3
  LEFT JOIN bi bc ON bc.w1 = s.w1 AND bc.w2 = s.w2
  LEFT JOIN bi b ON b.w1 = s.w2 AND b.w2 = s.w3
  LEFT JOIN uni u2 ON u2.w = s.w2
  LEFT JOIN uni u3 ON u3.w = s.w3
  CROSS JOIN tot)"""


@register(
    "q110_lm_quality_filter",
    # promoted r8 (third rotation): hard verdict for the CCNet-style LM filter
    oracle=f"""
WITH {_lm_scored_cte("TRUE")}
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(sc) AS BIGINT) AS sum_score_e6,
       CAST(SUM(sc) // COUNT(*) AS BIGINT) AS mean_score_e6,
       CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       (SUM(sc) // COUNT(*)) >= {_LM_KEEP_E6} AS keep
FROM scored GROUP BY doc_id
""",
    description=(
        "CCNet-style language-model quality filter (Wenzek et al. 2020), "
        "re-expressed with a trigram STUPID-BACKOFF model (Brants et al. "
        "2007) in integer fixed point: three distributed n-gram count "
        "aggs train the model, per-token scores are single integer "
        "divisions of exact counts with the 0.4-per-backoff-level "
        "penalty premultiplied into the scale (1e6/4e5/1.6e5), and the "
        "per-doc mean score ranks documents by reference-likeness (the "
        "inverse-perplexity band CCNet filters on) — no logs, no "
        "floats, hash-exact across engines"
    ),
    tags=("text", "pipeline", "lm"),
    driver=False,  # r10 rotation: 2x driver-green (r8,r9), cedes its slot to q137-q155 (LM scoring pytest-covered; text keeps q136 + new q144)
)
def q110_lm_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-scoring configuration (model trained on the corpus being
    scored — the in-domain ranking); a production run trains on a
    clean reference corpus and scores the raw crawl, which is the same
    plan with a different `lm_train` input."""
    from pyspark_mrdf_spark.operators.lm import lm_score, lm_train

    d = load_table(spark, sf_dir, "documents")
    tri, bi, uni = lm_train(d)
    return lm_score(d, tri, bi, uni).select(
        "doc_id",
        "n_tokens",
        "sum_score_e6",
        "mean_score_e6",
        "n_oov",
        (F.col("mean_score_e6") >= _LM_KEEP_E6).alias("keep"),
    )


@register(
    "q111_lm_crosscorpus_filter",
    # promoted r8 (fourth rotation): q07/q12/q19/q29/q64/q66 ceded slots
    oracle=f"""
WITH {_lm_scored_cte("lang = 'en'")},
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(sc) // COUNT(*) AS BIGINT) AS mean_score_e6,
         CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
  FROM scored GROUP BY doc_id)
SELECT d.doc_id, d.lang, a.n_tokens, a.mean_score_e6, a.n_oov
FROM documents d JOIN agg a USING (doc_id)
""",
    description=(
        "the actual CCNet deployment shape of q110: the trigram "
        "stupid-backoff model trains on the CLEAN REFERENCE subset "
        "(lang='en') and scores the WHOLE corpus — in-domain documents "
        "outrank out-of-domain ones and OOV counts spike off-reference, "
        "which is the band signal CCNet partitions CommonCrawl by; same "
        "integer fixed-point discipline, so the cross-corpus verdict is "
        "a hash match"
    ),
    tags=("text", "pipeline", "lm"),
    driver=False,  # r10 rotation: 2x driver-green (r8,r9), cedes its slot to q137-q155 (LM scoring pytest-covered; text keeps q136 + new q144)
)
def q111_lm_crosscorpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same operators as q110 with a different `lm_train` input — the
    point of separating train from score in `operators/lm.py`."""
    from pyspark_mrdf_spark.operators.lm import lm_score, lm_train

    d = load_table(spark, sf_dir, "documents")
    tri, bi, uni = lm_train(d.filter(F.col("lang") == "en"))
    return (
        lm_score(d, tri, bi, uni)
        .join(d.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "n_tokens", "mean_score_e6", "n_oov")
    )


# q117: the supervised "quality classifier" of the GPT-3/CCNet data
# pipelines (Brown et al. 2020 §A; Wenzek et al. 2020) — train a
# linear token-weight model on labeled reference data, score every
# candidate document, gate on the score. Training reduces the corpus
# to integer token counts (one distributed groupBy — the only
# corpus-sized pass); the O(vocabulary) weight table is computed once
# driver-side in functions/nb.py (shared with the oracle generator,
# the lloyd_centroids one-source-of-truth discipline) and joined back
# broadcast. Driver state is bounded to the exact top-NB_V tokens by
# training count (TakeOrderedAndProject), so a web-scale vocabulary
# never reaches the driver; at 100 TB the broadcast of the O(V) weight
# table is the plan you'd want anyway.
#
# Labels: the synthetic corpus carries NO organic class signal — every
# lang/source draws from one shared token distribution (measured:
# per-lang unigram frequencies agree to ~1%, same-token bigram rates
# to ~0.1%; a lang-vs-rest NB scored 0.50-0.58 against a 0.64 majority
# baseline). So the classifier is demonstrated the way filter models
# are validated when no labeled quality data exists: a PAIRED corpus
# of clean docs vs boilerplate-injected twins (every 5th token
# replaced — the repetitive-template signature of low-quality crawl
# text). Both engines construct the pair corpus bit-identically; the
# split keys on the SOURCE doc id so a pair never straddles
# train/held-out (that leak measured as a fake 1.0 baseline).
# Measured held-out accuracy: 0.996 vs 0.5 majority baseline.
_NB_TRAIN_PRED = "src_id % 4 <> 0"
_NB_HELD_PRED = "src_id % 4 = 0"
# Driver-state bound for classifier training: only the exact top-V
# tokens by total training count (ca+cb desc, tok asc) reach the
# driver — the same TakeOrderedAndProject shape as BPE_V. On web-scale
# corpora distinct tokens run to billions; real NB/fastText quality
# filters prune to a fixed vocabulary for exactly this reason, and
# dropped tail tokens score 0 via the existing COALESCE. The identical
# cap runs inside the DuckDB oracle, keeping the verdict hash-exact.
NB_V = 4096
_NB_PAIR_SQL = """
  SELECT doc_id * 2 AS doc_id, doc_id AS src_id, TRUE AS clean,
         string_split(text, ' ') AS toks
  FROM {docs}
  UNION ALL
  SELECT doc_id * 2 + 1 AS doc_id, doc_id AS src_id, FALSE AS clean,
         list_transform(generate_series(1, len(string_split(text, ' '))),
                        i -> CASE WHEN i % 5 = 0 THEN 'the'
                                  ELSE string_split(text, ' ')[i] END) AS toks
  FROM {docs}"""


def _nb_model(sf_dir: str) -> tuple[dict[str, int], int]:
    """Oracle-side training replica: exact integer counts via DuckDB,
    weights via the shared core. The Spark builder derives the SAME
    counts distributively; both feed ``nb_weights`` unchanged."""
    import duckdb

    from pyspark_mrdf_spark.functions.nb import nb_prior, nb_weights

    pair = _NB_PAIR_SQL.format(docs=f"'{sf_dir}/documents.parquet'")
    grams = (
        f"SELECT clean, unnest(toks) AS tok FROM ({pair}) "
        f"WHERE {_NB_TRAIN_PRED}"
    )
    # exact top-NB_V tokens by total training count — the identical
    # cap the Spark builder applies before its collect
    rows = duckdb.sql(
        f"SELECT tok, SUM(CASE WHEN clean THEN 1 ELSE 0 END) AS ca, "
        f"SUM(CASE WHEN clean THEN 0 ELSE 1 END) AS cb "
        f"FROM ({grams}) GROUP BY tok "
        f"ORDER BY ca + cb DESC, tok ASC LIMIT {NB_V}"
    ).fetchall()
    ca = {t: int(a) for t, a, b in rows if a}
    cb = {t: int(b) for t, a, b in rows if b}
    na, nb_ = duckdb.sql(
        f"SELECT SUM(CASE WHEN clean THEN 1 ELSE 0 END), "
        f"SUM(CASE WHEN clean THEN 0 ELSE 1 END) FROM ({pair}) "
        f"WHERE {_NB_TRAIN_PRED}"
    ).fetchone()
    return nb_weights(ca, cb), nb_prior(int(na), int(nb_))


def _q117_oracle(sf_dir: str) -> str:
    w, prior = _nb_model(sf_dir)
    values = ", ".join(
        f"('{t.replace(chr(39), chr(39) * 2)}', {wt})" for t, wt in sorted(w.items())
    )
    pair = _NB_PAIR_SQL.format(docs="documents")
    return f"""
WITH w(tok, wt) AS (VALUES {values}),
pair AS ({pair}),
tok AS (
  SELECT doc_id, clean, unnest(toks) AS tok
  FROM pair WHERE {_NB_HELD_PRED}),
s AS (
  SELECT t.doc_id, t.clean,
         CAST(SUM(COALESCE(w.wt, 0)) + {prior} AS BIGINT) AS llr_e6
  FROM tok t LEFT JOIN w ON t.tok = w.tok
  GROUP BY t.doc_id, t.clean)
SELECT doc_id, clean, llr_e6,
       llr_e6 > 0 AS pred_clean,
       (llr_e6 > 0) = clean AS correct
FROM s
"""


def _nb_pair_corpus(d: DataFrame) -> DataFrame:
    """(doc_id, src_id, clean, toks): each source doc paired with its
    boilerplate-injected twin — the same construction as
    ``_NB_PAIR_SQL``, bit-identical strings on both engines."""
    toks = F.split("text", " ")
    clean = d.select(
        (F.col("doc_id") * 2).alias("doc_id"),
        F.col("doc_id").alias("src_id"),
        F.lit(True).alias("clean"),
        toks.alias("toks"),
    )
    corrupted = d.select(
        (F.col("doc_id") * 2 + 1).alias("doc_id"),
        F.col("doc_id").alias("src_id"),
        F.lit(False).alias("clean"),
        F.transform(
            toks,
            lambda x, i: F.when((i + 1) % 5 == 0, F.lit("the")).otherwise(x),
        ).alias("toks"),
    )
    return clean.unionByName(corrupted)


@register(
    "q117_nb_quality_classifier",
    # new r8, promoted same-round (fourth rotation): see DRIVER_SURFACE
    oracle=_q117_oracle,
    description=(
        "supervised Naive-Bayes quality classifier (the GPT-3/CCNet "
        "reference-corpus filter shape): integer token counts from the "
        "75% source-keyed split of a paired clean/boilerplate-injected "
        "corpus (one distributed groupBy), log-likelihood-ratio weights "
        "computed ONCE driver-side in integer micro-units "
        "(functions/nb.py, shared verbatim with the oracle generator), "
        "held-out 25% scored by one explode + broadcast token join + "
        "per-doc int64 sum — hash-exact end to end; measured held-out "
        "accuracy 0.996 vs 0.5 baseline. pred/correct columns make the "
        "verdict check the decision boundary, not just the scores"
    ),
    tags=("text", "pipeline", "classifier", "agg"),
)
def q117_nb_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.functions.nb import nb_prior, nb_weights

    pair = _nb_pair_corpus(load_table(spark, sf_dir, "documents"))
    train = pair.filter(F.expr(_NB_TRAIN_PRED))
    tok = train.select("clean", F.explode("toks").alias("tok"))
    # exact top-NB_V by total count via TakeOrderedAndProject — O(V)
    # driver state regardless of corpus vocabulary (the oracle's
    # _nb_model applies the same cap, so weights stay hash-exact)
    crows = (
        tok.groupBy("tok")
        .agg(
            F.sum(F.when(F.col("clean"), 1).otherwise(0)).alias("ca"),
            F.sum(F.when(~F.col("clean"), 1).otherwise(0)).alias("cb"),
        )
        .orderBy((F.col("ca") + F.col("cb")).desc(), F.col("tok").asc())
        .limit(NB_V)
        .collect()
    )
    ca = {r["tok"]: int(r["ca"]) for r in crows if r["ca"]}
    cb = {r["tok"]: int(r["cb"]) for r in crows if r["cb"]}
    nrow = train.agg(
        F.sum(F.when(F.col("clean"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(~F.col("clean"), 1).otherwise(0)).alias("nb"),
    ).collect()[0]
    w = nb_weights(ca, cb)
    prior = nb_prior(int(nrow["na"]), int(nrow["nb"]))

    wdf = spark.createDataFrame(sorted(w.items()), "tok string, wt long")
    held = pair.filter(F.expr(_NB_HELD_PRED)).select(
        "doc_id", "clean", F.explode("toks").alias("tok")
    )
    scored = (
        held.join(F.broadcast(wdf), "tok", "left")
        .groupBy("doc_id", "clean")
        .agg(
            (F.sum(F.coalesce(F.col("wt"), F.lit(0))) + F.lit(prior))
            .cast("bigint")
            .alias("llr_e6")
        )
    )
    return scored.select(
        "doc_id",
        "clean",
        "llr_e6",
        (F.col("llr_e6") > 0).alias("pred_clean"),
        ((F.col("llr_e6") > 0) == F.col("clean")).alias("correct"),
    )


# q120: hybrid retrieval — the two-leg (lexical BM25 + vector kNN)
# search every production RAG/retrieval stack runs, fused by
# reciprocal-rank fusion (Cormack et al. 2009). RRF is rank-based, so
# the fusion layer is engine-portable by construction: each leg's rank
# comes from a (score, id) window (the q50/q88-proven orderings), and
# the fused score 1/(K+r_lex) + 1/(K+r_vec) is one or two IEEE
# divisions and one addition of the results — bit-identical on any
# engine. Legs are cut at top-50, absent legs contribute 0 (standard
# RRF-with-cutoff over the union).
_RRF_K = 60
_RRF_QIDS = (3, 9, 21)
_RRF_LEG_K = 50


@register(
    "q120_hybrid_rrf_retrieval",
    # promoted r9: takes a slot ceded by the multi-green r9 rotation
    # (see tests/test_oracle_queries.py DRIVER_SURFACE)
    oracle=f"""
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
qterms AS (
  SELECT DISTINCT doc_id AS qid, unnest(toks) AS term
  FROM d WHERE doc_id IN {tuple(_RRF_QIDS)}),
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_toks FROM dl),
tf AS (
  SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
  WHERE tok IN (SELECT term FROM qterms)
  GROUP BY 1, 2),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.qid, tf.doc_id,
         CAST(SUM(CAST(floor(
           ((2e0 * s.n_docs - 2e0 * df.df + 1e0) / (2e0 * df.df + 1e0))
           * (44e0 * tf.tf * s.total_toks
              / (20e0 * tf.tf * s.total_toks + 6e0 * s.total_toks + 18e0 * dl.dl * s.n_docs))
           * 1000000e0) AS BIGINT)) AS BIGINT) AS bm25_e6
  FROM tf JOIN qterms q USING (term) JOIN df USING (term)
  JOIN dl USING (doc_id) CROSS JOIN s
  WHERE tf.doc_id <> q.qid
  GROUP BY 1, 2),
lex AS (
  SELECT qid, doc_id, lrnk FROM (
    SELECT qid, doc_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY bm25_e6 DESC, doc_id) AS lrnk
    FROM scored)
  WHERE lrnk <= {_RRF_LEG_K}),
vec AS (
  SELECT qid, doc_id, vrnk FROM (
    SELECT q.vec_id AS qid, c.vec_id AS doc_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])), c.vec_id) AS vrnk
    FROM (SELECT * FROM embeddings WHERE vec_id IN {tuple(_RRF_QIDS)}) q
    CROSS JOIN embeddings c WHERE q.vec_id <> c.vec_id)
  WHERE vrnk <= {_RRF_LEG_K}),
fused AS (
  SELECT COALESCE(l.qid, v.qid) AS qid,
         COALESCE(l.doc_id, v.doc_id) AS doc_id,
         CAST(COALESCE(l.lrnk, 0) AS BIGINT) AS lex_rnk,
         CAST(COALESCE(v.vrnk, 0) AS BIGINT) AS vec_rnk,
         COALESCE(1e0 / ({_RRF_K} + l.lrnk), 0e0)
           + COALESCE(1e0 / ({_RRF_K} + v.vrnk), 0e0) AS rrf
  FROM lex l FULL OUTER JOIN vec v ON l.qid = v.qid AND l.doc_id = v.doc_id)
SELECT qid, doc_id, lex_rnk, vec_rnk, rrf,
       CAST(frnk AS BIGINT) AS frnk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS frnk
      FROM fused)
WHERE frnk <= 10
""",
    description=(
        "hybrid retrieval with reciprocal-rank fusion (Cormack et al. "
        "2009) — the two-leg production search shape: a BM25 leg (q88's "
        "pinned-op-order scoring, query = the query doc's own distinct "
        "tokens, explode pre-filtered to them) and a vector leg (q50's "
        "blocked exact kNN over the embedding of the same doc id), each "
        "cut at top-50, fused by 1/(60+r_lex) + 1/(60+r_vec) over the "
        "union — rank-based, so the fusion is IEEE-bit-identical cross-"
        "engine; top-10 per query with both leg ranks exposed (0 = "
        "absent from that leg)"
    ),
    tags=("text", "vector", "retrieval", "pipeline"),
)
def q120_hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-leg hybrid retrieval fused by reciprocal-rank fusion.

    PRODUCTION TIER SWAP (the 100 TB note): the vector leg here is the
    EXACT blocked scan — O(n_q·n) by design, because exactness is what
    makes the driver hash verdict meaningful. At corpus scale a caller
    swaps in any quantized tier through the same ``knn_search`` output
    contract ((src, dst, dist_sq, rnk), rnk 1..k by (dist_sq, dst)) —
    ``quantize.search(..., kind="sq8")`` (or ``"ivfpq"``) is a drop-in
    replacement whose only delta is bounded recall loss (SQ8@4k candidates is
    near-exact; SCALABILITY.json: SQ8 serving beats exact at recall 1.0
    up to n=1M). tests/test_similarity_api.py::
    test_q120_vector_leg_tier_swap pins the swap: same schema, same
    contract, leg recall >= 0.9 at the quantized tier."""
    from pyspark.sql import Window

    from pyspark_mrdf_spark.operators.similarity import knn_search_blocked

    qids = list(_RRF_QIDS)
    # Tokenize ONCE (r14, guide §1.2/§2.3): `d` feeds qterms, dl, stats
    # and tf — without the checkpoint each reference re-scanned and
    # re-regexp-tokenized the corpus (7 document scans in the before
    # plan, the regexp being the dominant expression cost). spread
    # first: an under-partitioned scan would run the whole tokenize in
    # one task (no-op when the scan already has cluster parallelism).
    from pyspark_mrdf_spark.operators.util import checkpoint, spread

    d = (
        spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
        .select(
            "doc_id",
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("toks"),
        )
        .transform(checkpoint)
    )
    qterms = (
        d.filter(F.col("doc_id").isin(qids))
        .select(F.col("doc_id").alias("qid"), F.explode("toks").alias("term"))
        .distinct()
    )
    dl = d.select("doc_id", F.size("toks").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_toks"),
    )
    terms_union = qterms.select("term").distinct()
    # tf is referenced twice (the scoring join and df_t): checkpoint so
    # the corpus-wide explode+filter+agg runs once, not per reference
    tf = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .join(F.broadcast(terms_union), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .transform(checkpoint)
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    term_score = F.expr(
        "CAST(floor("
        "  ((2e0 * n_docs - 2e0 * df + 1e0) / (2e0 * df + 1e0))"
        "  * (44e0 * tf * total_toks"
        "     / (20e0 * tf * total_toks + 6e0 * total_toks + 18e0 * dl * n_docs))"
        "  * 1000000e0) AS BIGINT)"
    )
    wl = Window.partitionBy("qid").orderBy(F.col("bm25_e6").desc(), "doc_id")
    lex = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .filter(F.col("doc_id") != F.col("qid"))
        .select("qid", "doc_id", term_score.alias("ts"))
        .groupBy("qid", "doc_id")
        .agg(F.sum("ts").cast("bigint").alias("bm25_e6"))
        .withColumn("lrnk", F.row_number().over(wl))
        .filter(F.col("lrnk") <= _RRF_LEG_K)
        .select("qid", "doc_id", "lrnk")
    )
    e = load_table(spark, sf_dir, "embeddings")
    vec = (
        knn_search_blocked(
            e.filter(F.col("vec_id").isin(qids)), e, _RRF_LEG_K,
            include_self=False,
        )
        .select(
            F.col("src").alias("qid"),
            F.col("dst").alias("doc_id"),
            F.col("rnk").cast("int").alias("vrnk"),
        )
    )
    fused = (
        lex.join(vec, ["qid", "doc_id"], "full_outer")
        .select(
            "qid",
            "doc_id",
            F.coalesce("lrnk", F.lit(0)).cast("bigint").alias("lex_rnk"),
            F.coalesce("vrnk", F.lit(0)).cast("bigint").alias("vec_rnk"),
            (
                F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("lrnk")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("vrnk")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    wf = Window.partitionBy("qid").orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.withColumn("frnk", F.row_number().over(wf).cast("bigint"))
        .filter(F.col("frnk") <= 10)
    )


# --- q136: per-language TF-IDF top terms --------------------------------------

_TFIDF_TOP = 5


@register(
    "q136_tfidf_top_terms",
    # r14 is an OPTIMIZATION round: the declared surface is frozen to the
    # r13 set, so the planned q164 rotation is deferred; q164 runs in the
    # pytest oracle gate instead.
    oracle=f"""
WITH tok AS (
  SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tf AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY lang, tok),
df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
s AS (
  SELECT lang, tok, tf,
         CAST(tf * ((1000000 * (n_docs + 1)) // (df + 1)) AS BIGINT) AS score_e6
  FROM tf JOIN df USING (tok) CROSS JOIN nd),
r AS (
  SELECT lang, tok, tf, score_e6,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY score_e6 DESC, tok) AS term_rank
  FROM s)
SELECT lang, tok, tf, score_e6, CAST(term_rank AS BIGINT) AS term_rank
FROM r WHERE term_rank <= {_TFIDF_TOP}
""",
    description=(
        f"per-language TF-IDF top-{_TFIDF_TOP} terms (corpus exploration "
        "— what characterizes each language slice): integer rational idf "
        "(1e6·(N+1) DIV (df+1), q88's discipline) times the group term "
        "frequency, so every score is exact int64 and the ranking "
        "hash-matches; two token-keyed aggs + one broadcast-size join, "
        "top-k per group via the q126 salted two-stage helper"
    ),
    tags=("text", "agg", "window"),
)
def q136_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most characteristic terms per language by exact-integer TF-IDF.

    Scale shape: the two corpus-sized passes are token-keyed hash aggs
    (tf by (lang, tok), df by tok — map-side combined); the tf⋈df join
    is on tok (df is vocabulary-sized and would broadcast at sf); the
    per-lang top-k goes through ``capped_per_key`` so one dominant
    language cannot serialize the ranking."""
    from pyspark_mrdf_spark.queries.pipeline import capped_per_key

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("lang", "doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()
    s = tf.join(df_, "tok").select(
        "lang",
        "tok",
        "tf",
        # CAST to BIGINT before the multiply: with a plain int32 literal,
        # ANSI mode throws ARITHMETIC_OVERFLOW once n_docs >= 2147
        # (1000000 * 2148 > INT32_MAX) — i.e. exactly at sf0.1+ scale
        # while passing at the sf0.01 correctness gate (round-9 verdict).
        (F.col("tf") * F.expr(f"(CAST(1000000 AS BIGINT) * ({n_docs} + 1)) DIV (df + 1)"))
        .cast("bigint")
        .alias("score_e6"),
    )
    return capped_per_key(
        s,
        ["lang"],
        [F.col("score_e6").desc(), F.col("tok")],
        _TFIDF_TOP,
        "term_rank",
        id_col="tok",
    )


# --- q137: exact heavy hitters, bounded-shuffle tier -------------------------
#
# The groupBy in q31 shuffles one partial count per distinct key per map
# task — the right plan for bounded vocabularies, the wrong one when key
# cardinality approaches row count (shingle/n-gram keys at 100 TB, where
# map-side combine stops combining). operators/sketch.py bounds the
# shuffle to a parameter-sized candidate set and recounts exactly; the
# output is IDENTICAL to the full groupBy (superset-guarantee proof in
# the module docstring), which is what the oracle runs.

_HH_K = 50  # report tokens with frequency > N/50 (2% of the stream)


@register(
    "q137_heavy_hitters",
    driver=True,  # promoted r10: owed rotation for the r9-registered operators
    oracle=f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
FROM tok
GROUP BY token
HAVING COUNT(*) * {_HH_K} > (SELECT COUNT(*) FROM tok)
""",
    description=(
        "exact heavy hitters (freq > N/50) via per-partition top-m "
        "candidates + broadcast recount — the bounded-shuffle tier for "
        "massive-cardinality keys; provably identical to the full "
        "groupBy the oracle runs"
    ),
    tags=("text", "sketch", "agg"),
)
def q137_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens covering >2% of the corpus token stream, exactly.

    Scale shape: one mapInPandas scan emits ≤ parts·4k candidate keys
    + per-batch totals; the only corpus shuffle is the recount groupBy
    over candidate-matching rows (broadcast semi-join pre-filters the
    map side). No full-vocabulary shuffle ever materializes."""
    from pyspark_mrdf_spark.operators.sketch import heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(T.tokens("text")).alias("token"))
    return heavy_hitters(tok, "token", _HH_K)
