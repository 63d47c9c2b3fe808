"""Text-analysis column expressions (all JVM-side built-ins — these run
inside whole-stage codegen, no Python in the hot path).

Capabilities (north-star text analysis over ``documents``):
 - tokenization (whitespace + BPE-ish regex splitting)
 - token / distinct-token counting
 - quality scoring (length, stopword ratio, type-token ratio)
 - language-ID n-gram/stopword heuristic
 - document fingerprinting (md5 content hash — portable across
   engines, used for exact dedup and as a shingle hash for MinHash)

Every expression here has an exact DuckDB-SQL equivalent so the whole
family is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Stopword sets for the tiny language-ID heuristic. Deterministic and
# mirrored literally in oracle SQL — keep them short.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")


def tokens(col: str | Column = "text") -> Column:
    """Whitespace tokenization."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def n_tokens(col: str | Column = "text") -> Column:
    return F.size(tokens(col))


def n_distinct_tokens(col: str | Column = "text") -> Column:
    return F.size(F.array_distinct(tokens(col)))


def stopword_hits(col: str | Column = "text", stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Number of tokens that are stopwords (array intersection-free:
    per-token membership via filter, counts duplicates)."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(sw, t)))


def fingerprint(col: str | Column = "text") -> Column:
    """Deterministic 128-bit content fingerprint (md5 hex).

    Portable across engines (DuckDB md5 produces identical hex), unlike
    Spark's xxhash64/hash. The reference had no fingerprinting; this is
    the exact-dedup/LSH building block (north star)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def shingles(col: str | Column = "text", n: int = 3) -> Column:
    """Word n-gram shingle set (distinct), as an array of
    space-joined strings: the MinHash/Jaccard unit.

    CHANGE-LOCKSTEP: ``operators.dedup._py_shingles`` is this
    expression's hand-maintained Python kernel twin — any edit here
    must be mirrored there, and ``tests/test_dedup_kernels.py`` pins
    the bit-equivalence (the DuckDB oracles replay shingle-derived
    md5 values through every dedup consumer)."""
    toks = tokens(col)
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )
    # guard: Spark's sequence(0, negative) counts DOWN — short texts
    # must yield an empty shingle set, not garbage
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


# PII patterns — one regex dialect subset that Java (Spark) and RE2
# (DuckDB) interpret identically: character classes, bounded repeats,
# non-capturing groups, alternation, \d and ASCII \b only. Masking must
# agree byte-for-byte across engines (the q83 oracle fingerprints the
# scrubbed text). Dict order IS scrub order and it matters: email and
# api-key masking run before the digit patterns so a digit-bearing
# local-part or key is consumed whole; card (4-4-4-4 groups OR a bare
# 13-19 digit run) runs before ssn/phone so a long digit run is never
# partially eaten as a phone number; ipv4 last (needs dots the digit
# patterns never consume).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "apikey": r"\b(?:sk|pk|api|token|key)_[A-Za-z0-9]{16,}\b",
    "ccard": r"\b\d{4}(?:[- ]\d{4}){3}\b|\b\d{13,19}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def luhn_valid(col: str | Column) -> Column:
    """Luhn checksum over the digits of ``col`` (a digits-only string):
    from the rightmost digit, every second digit doubles (−9 if >9);
    valid when the sum divides 10 and the run is plausibly card-length
    (≥13 digits). Pure JVM higher-order aggregate — no UDF — with an
    exact DuckDB ``list_sum``/``list_transform`` twin, so the check is
    oracle-verifiable. The ≥13 guard also dodges Spark's descending
    ``sequence(1, 0)`` on empty input."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    ds = F.split(c, "")
    total = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            ((n - i) % 2) == 1,
            F.element_at(ds, i).cast("int") * 2
            - F.when(F.element_at(ds, i).cast("int") > 4, 9).otherwise(0),
        ).otherwise(F.element_at(ds, i).cast("int")),
    )
    return F.when(n >= 13, (total % 10) == 0).otherwise(F.lit(False))


def pii_counts(col: str | Column = "text") -> dict[str, Column]:
    """Per-kind PII match counts (JVM regexp, codegen-friendly) —
    the detection half of the content-filter pass a training corpus
    runs before release."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        kind: F.size(F.regexp_extract_all(c, F.lit(pat), 0))
        for kind, pat in PII_PATTERNS.items()
    }


def scrub_pii(col: str | Column = "text") -> Column:
    """Masked text: every PII match replaced by its <KIND> tag, in the
    fixed PII_PATTERNS order (email → apikey → ccard → ssn → phone →
    ipv4). The order is load-bearing for byte-identical masking:
    email/apikey run first so a digit-bearing local-part or key is
    consumed whole; ccard before ssn/phone so a long digit run is
    never partially eaten as a phone; ipv4 last (needs dots the digit
    patterns never consume) — see the PII_PATTERNS comment. Pure JVM
    regexp_replace chain: no UDF, full codegen."""
    c = F.col(col) if isinstance(col, str) else col
    for kind, pat in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, f"<{kind.upper()}>")
    return c
