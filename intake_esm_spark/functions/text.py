"""Text-analysis column functions for large-scale training-data pipelines.

Every function here returns a Catalyst Column built from pyspark.sql.functions
primitives — JVM-side, whole-stage-codegen'd, no Python in the hot path — so
they run at full scan speed over a 100 TB documents table. (Single documented
exception: ``compression_ratio``, which needs a codec no JVM expression
provides and is an Arrow-batched pandas UDF.)

Provided surface:
* token counting (whitespace + BPE-ish word/punct regex)
* quality scoring (length / punctuation / stopword / digit ratios)
* language ID (stopword-hit heuristic over a small per-language lexicon)
* document fingerprinting (normalized md5 + rolling-window shingle hashes)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# A compact stopword lexicon per language — enough signal for a coarse
# n-gram/stopword language-ID heuristic. Public common-word lists.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "sie"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "des", "dans", "que"],
    "es": ["el", "la", "los", "las", "es", "y", "en", "que", "por", "con"],
}


def ws_token_count(text: Column) -> Column:
    """Whitespace token count: split on runs of whitespace, ignoring
    leading/trailing whitespace. Empty/blank text counts 0."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored token count: words, numbers, and punctuation runs each
    count as one token (a regex approximation of byte-pair pre-tokenization).
    """
    # count matches of word / number / single non-space punctuation
    tokens = F.regexp_extract_all(text, F.lit(r"([A-Za-z]+|[0-9]+|[^\sA-Za-z0-9])"), 1)
    return F.size(tokens)


# ASCII punctuation as an explicit range class — identical in Java regex and
# RE2 (Java's \p{Punct} has no RE2 equivalent, so oracles couldn't match it)
_PUNCT_CLASS = r"[!-/:-@\[-`{-~]"


def punct_ratio(text: Column) -> Column:
    """Punctuation characters / total characters (0 for empty text)."""
    n = F.length(text)
    punct = n - F.length(F.regexp_replace(text, _PUNCT_CLASS, ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct / n)


def digit_ratio(text: Column) -> Column:
    n = F.length(text)
    digits = n - F.length(F.regexp_replace(text, r"[0-9]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(digits / n)


def mean_word_length(text: Column) -> Column:
    words = F.split(F.trim(text), r"\s+")
    n = F.size(words)
    total = F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.when(n <= 0, F.lit(0.0)).otherwise(total.cast("double") / n)


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    """Fraction of whitespace tokens that are stopwords of ``lang``."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n = F.size(words)
    sw = F.array([F.lit(w) for w in STOPWORDS[lang]])
    hit_count = F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc + F.when(F.array_contains(sw, w), 1).otherwise(0),
    )
    return F.when(n <= 0, F.lit(0.0)).otherwise(hit_count.cast("double") / n)


def quality_score(text: Column) -> Column:
    """A composite [0,1] heuristic quality score: long-enough text with
    moderate punctuation, few digits, and some stopwords scores high.
    Deterministic, built-in-only — the shape of C4/Gopher-style rules."""
    length_term = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * 4, F.lit(1.0))
    digit_term = F.lit(1.0) - F.least(digit_ratio(text) * 5, F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * 3, F.lit(1.0))
    return (length_term + punct_term + digit_term + stop_term) / 4


def _stopword_hit_counter(sw: Column):
    # bind the stopword array without adding lambda parameters (PySpark
    # derives the higher-order function's arity from the lambda signature)
    def _count(acc: Column, w: Column) -> Column:
        return acc + F.when(F.array_contains(sw, w), 1).otherwise(0)

    return _count


def lang_id(text: Column) -> Column:
    """Coarse language ID: the language whose stopword lexicon hits the most
    tokens; 'und' (undetermined) when nothing hits."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    scores = []
    for lang, sw_list in STOPWORDS.items():
        sw = F.array([F.lit(w) for w in sw_list])
        hit_count = F.aggregate(words, F.lit(0), _stopword_hit_counter(sw))
        scores.append(F.struct(hit_count.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def normalized_text(text: Column) -> Column:
    """Dedup normalization: lowercase, collapse whitespace, strip."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint_md5(text: Column) -> Column:
    """Deterministic document fingerprint over normalized text."""
    return F.md5(normalized_text(text))


HASH_SPACE_60 = float(2**60)
"""Exclusive upper bound of :func:`portable_hash60` — THE definition of
the 60-bit hash range (hash-uniform u = hash / HASH_SPACE_60). Sampling
and sketch operators import it so a hash-width change has one home."""


def portable_hash60(col: Column) -> Column:
    """60-bit engine-portable string hash: first 15 hex chars of md5 as a
    non-negative bigint. The SAME value is computable in any engine with
    md5 — Spark ``conv(substring(md5(x),1,15),16,10)``, DuckDB
    ``('0x' || substring(md5(x),1,15))::BIGINT`` — which is what lets the
    MinHash/SimHash dedup operators be hash-checked against a SQL oracle
    (same trick as ``operators.sampling.hash_bucket``). 15 hex chars keep
    the value < 2^60, safely inside bigint range in every engine."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def salted_hash60(key: Column, salt: str = "") -> Column:
    """Salted 60-bit engine-portable hash: ``portable_hash60(salt | key)``
    with a ``|`` delimiter so shifted salt/key boundaries can't collide.
    THE single definition of the salted-md5 construction — sampling
    buckets (``operators.sampling.hash_bucket``) and the packing shuffle
    key (``operators.packing.shuffle_key``) both derive from it, and the
    SQL oracles replay the same formula, so there is exactly one place
    the determinism contract can change."""
    return portable_hash60(F.concat(F.lit(salt), F.lit("|"), key.cast("string")))


def words_array(text: Column) -> Column:
    """Normalized word array — materialize this in its OWN projection before
    building shingles: expressions inlined into a higher-order lambda are
    re-evaluated per array element (no CSE inside lambdas), which turns the
    shingle walk into O(words^2 x text_len) if the split is inlined."""
    return F.split(normalized_text(text), " ")


def shingles_of_words(words: Column, n: int = 5) -> Column:
    """Word n-gram shingles from an ALREADY-MATERIALIZED word-array column
    (see ``words_array``). Documents shorter than n words yield a single
    shingle with the whole text."""
    k = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(k - n, F.lit(0)))
    return F.when(k <= n, F.array(F.concat_ws(" ", words))).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    )


def shingles(text: Column, n: int = 5) -> Column:
    """Word n-gram shingles (array<string>) over normalized text — the input
    to MinHash / Jaccard dedup.

    Implemented as ONE codegen'd regex extraction: a lookahead capture
    anchored at each word start pulls every overlapping n-gram in a single
    pass (``(?:^|(?<= ))(?=(\\S+(?: \\S+){n-1}))``) — no higher-order
    lambdas (interpreted per element), no window/sort, no shuffle. Output
    strings are identical to joining ``words_array`` slices with a single
    space, since normalization collapses whitespace. Documents shorter
    than n words yield a single shingle with the whole (normalized) text,
    matching ``shingles_of_words``."""
    norm = normalized_text(text)
    pat = r"(?:^|(?<= ))(?=(\S+(?: \S+){%d}))" % (n - 1)
    arr = F.regexp_extract_all(norm, F.lit(pat), 1)
    return F.when(F.size(arr) == 0, F.array(norm)).otherwise(arr)


def hashed_bow_weights(n_buckets: int = 256, salt: str = "qw") -> list[float]:
    """Deterministic md5-derived pseudo-weights in [-1, 1] for the hashed
    bag-of-words scorer — a STAND-IN for a trained linear model's weight
    vector (CCNet-style quality filtering trains a fastText/logistic model
    offline; this engine's job is the SCORING plumbing, which is identical
    whatever the weights are). The construction regenerates the same
    constants in any engine/process (no RNG state — same trick as the LSH
    hyperplanes), so the scoring pipeline is exactly replayable by a SQL
    oracle. Swap in real trained weights by passing your own list to
    :func:`hashed_bow_logit`."""
    import hashlib

    def _u(tag: str) -> float:
        h = int.from_bytes(hashlib.md5(tag.encode()).digest()[:8], "big")
        return (h / float(1 << 64)) * 2.0 - 1.0

    return [_u(f"{salt}|{b}") for b in range(n_buckets)]


def hashed_bow_logit(
    words: Column, weights: list[float], salt: str = "qf"
) -> Column:
    """fastText-style hashed bag-of-words linear score (the logit):
    every word is hashed into one of ``len(weights)`` buckets with the
    engine-portable salted md5 (``salted_hash60 % n_buckets``), and the
    score is the MEAN of the bucket weights over the document's words —
    the standard model-based quality-filter scoring pass, 100% in-row:
    one codegen'd fold over an already-materialized word array (pass
    ``words_array(text)`` materialized in its own projection — no CSE
    inside lambdas), a literal weight array, zero shuffle, no Python.

    Classification is ``hashed_bow_logit(...) >= threshold`` (keep the
    comparison on the 6dp-rounded logit when an oracle must agree with
    it). The sigmoid is deliberately NOT applied: it is monotone — the
    threshold moves instead — and cross-engine ``exp`` differs in the
    last ulp, which would make a boolean gate flap on borderline docs."""
    n = len(weights)
    if n == 0:
        raise ValueError("weights must be non-empty")
    wts = F.array(*[F.lit(float(w)) for w in weights])
    bucket = lambda w: F.pmod(salted_hash60(w, salt), F.lit(n))  # noqa: E731
    total = F.aggregate(
        words,
        F.lit(0.0),
        lambda acc, w: acc + F.element_at(wts, bucket(w).cast("int") + 1),
    )
    return total / F.size(words)


def rolling_hashes(text: Column, n: int = 5) -> Column:
    """Rolling-window fingerprint: portable 60-bit hash of each word n-gram
    shingle (array<bigint>) — the document's hash sketch, recomputable by
    any md5-capable engine (see ``portable_hash60``)."""
    return F.transform(shingles(text, n), portable_hash60)


# -- PII-style redaction -----------------------------------------------------
# Patterns are kept to the RE2 ∩ Java-regex portable subset (character
# classes, bounded quantifiers, alternation — no lookarounds/backrefs),
# so the SAME pattern strings run in Spark's rlike/regexp_replace AND in
# a DuckDB oracle. Shorthand classes are AVOIDED where the engines'
# definitions differ: Java's \s includes U+000B (vertical tab), RE2's
# does not, so whitespace is spelled as an explicit class. Order
# matters: URLs first (they may contain '@' and digits), then emails,
# then phone-like runs.
#
# Phone shapes require either a leading '+' or a separator after the
# first 2-4 digits, so pure digit runs (IDs, '12345678') and decimals
# with a short integer part ('3.14159265') pass through unredacted.
# Residual false positives are numbers formatted exactly like phones
# (e.g. space-grouped dates) — indistinguishable without context; the
# redaction_counts audit view exists to quantify exactly this.

_WS = r" \t\n\x0B\f\r"  # explicit whitespace: identical in Java and RE2

REDACTION_PATTERNS: list[tuple[str, str, str]] = [
    ("url", rf"https?://[^{_WS}]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (
        "phone",
        r"\+[0-9][0-9()\-\. ]{6,14}[0-9]|[0-9]{2,4}[()\-\. ][0-9()\-\. ]{3,11}[0-9]",
        "<PHONE>",
    ),
]


def redact_pii(text: Column) -> Column:
    """Replace URL / email / phone-shaped spans with typed placeholder
    tokens — the standard scrub pass before training-data release. A
    chain of built-in regexp_replace calls: JVM-side, codegen, zero
    Python."""
    out = text
    for _, pattern, token in REDACTION_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def redaction_counts(text: Column) -> Column:
    """struct(url, email, phone) match counts per document — the audit
    view of the scrub pass (how much PII-shaped content a source emits).
    Counted sequentially on the same intermediate strings as redact_pii,
    so counts and replacements can never disagree."""
    fields = []
    cur = text
    for name, pattern, token in REDACTION_PATTERNS:
        fields.append(
            F.size(F.regexp_extract_all(cur, F.lit(f"({pattern})"), 1)).alias(name)
        )
        cur = F.regexp_replace(cur, pattern, token)
    return F.struct(*fields)


def compression_ratio(text: Column, level: int = 6) -> Column:
    """zlib-compressed-size / raw-size ratio of the UTF-8 text — the
    Gopher-style repetitiveness signal (template/boilerplate documents
    compress dramatically; natural prose sits much higher, so a low-ratio
    gate complements the n-gram ``repetition_stats``, catching long-range
    repetition that a top-2-gram fraction misses).

    The one text function here that is NOT a JVM expression: there is no
    built-in compression expression, so this is an Arrow-batched pandas
    UDF (the sanctioned Python boundary — vectorized transfer, one Python
    worker per partition, still a pure in-row projection with zero
    shuffle). Deterministic: zlib with a fixed ``level`` is a stable
    codec. Null and empty text yield null (ratio undefined). No SQL
    oracle exists for zlib, so this signal is test-verified rather than
    driver-oracled — keep it out of hash-compared query surfaces."""
    import zlib

    @F.pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        def one(t):
            if t is None or len(t) == 0:
                return None
            b = t.encode("utf-8")
            return len(zlib.compress(b, level)) / len(b)

        return s.map(one)

    return _ratio(text)
