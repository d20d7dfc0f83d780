"""Text-analysis column expressions for training-data curation.

All JVM-side (no UDFs): token counting, quality scoring, language-ID
heuristic, fingerprinting. Deliberately written so the exact same
computation is expressible in ANSI SQL (the DuckDB oracle reproduces each
one bit-for-bit — see ``queries.py``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

STOPWORDS_EN = ("the", "a", "and", "of", "to")


def tokens(col: str | F.Column = "text") -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count(col: str | F.Column = "text") -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNull() | (F.length(F.trim(c)) == 0), F.lit(0)).otherwise(
        F.size(tokens(c))
    )


def stopword_count(col: str | F.Column = "text", stopwords=STOPWORDS_EN) -> F.Column:
    toks = tokens(col)
    return F.size(F.filter(toks, lambda w: F.lower(w).isin(*stopwords)))


def stopword_ratio(col: str | F.Column = "text", stopwords=STOPWORDS_EN) -> F.Column:
    n = token_count(col)
    return F.when(n > 0, stopword_count(col, stopwords) / n).otherwise(F.lit(0.0))


def punct_ratio(col: str | F.Column = "text") -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[\.,;:!\?]", ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def quality_score(col: str | F.Column = "text") -> F.Column:
    """Composite doc-quality score in [0,1]: length saturation + stopword
    presence + moderate punctuation (the reference's tiered-scoring idea,
    ``utils/data_quality.py:34-96`` in /root/reference, applied to text)."""
    length_component = F.least(token_count(col) / F.lit(100.0), F.lit(1.0)) * 0.5
    stop_component = F.least(stopword_ratio(col) * F.lit(5.0), F.lit(1.0)) * 0.3
    punct_component = (F.lit(1.0) - F.least(punct_ratio(col) * F.lit(10.0), F.lit(1.0))) * 0.2
    # round at 6 decimals: component arithmetic can land exactly on a
    # 5-at-5th-decimal (e.g. 0.53375) where Spark's HALF_UP-on-decimal-
    # string and binary-double rounding (DuckDB, numpy) disagree
    return F.round(length_component + stop_component + punct_component, 6)


def lang_id_heuristic(col: str | F.Column = "text") -> F.Column:
    """Deterministic marker-word language guess. With real corpora the
    marker lists would be per-language stopword sets; the rule form (ratio
    thresholds over marker hits) is the standard n-gram/stopword LID
    shape, and — by design — is reproducible in plain SQL."""
    ratio = stopword_ratio(col)
    return (
        F.when(ratio >= 0.10, F.lit("en_high"))
        .when(ratio >= 0.04, F.lit("en_like"))
        .otherwise(F.lit("unknown"))
    )


def rolling_fingerprint(col: str | F.Column = "text") -> F.Column:
    """Order-sensitive document fingerprint: md5 of the normalized text
    (md5 rather than xxhash64 so external engines can verify it)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))


# GPT-style pre-tokenizer shape (cl100k-ish): letter runs, digit groups
# of at most 3, single punctuation marks. Deliberately lookaround-free
# (Java regex ∩ RE2) so external engines count identically; a real BPE
# vocab only subdivides these pieces, so this is the standard cheap
# upper-structure proxy for "model tokens" in curation budgeting.
BPE_PIECE_RE = r"[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]"


def bpe_token_count(col: str | F.Column = "text") -> F.Column:
    """Pre-tokenizer piece count — the 'BPE-ish' token estimate used for
    sequence budgeting when exact tokenizer vocabularies are out of
    band. Pure regexp_count (a JVM expression, no Python rows), no
    shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_PIECE_RE)).cast("long")
