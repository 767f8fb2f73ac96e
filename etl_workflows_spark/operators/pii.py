"""PII detection and redaction for training-corpus curation.

Pure Catalyst regex expressions (``regexp_count`` / ``regexp_replace``) —
JVM-side, whole-stage-codegen, no Python in the hot path, so redaction is
a single linear scan per document at any corpus size; documents with no
ASCII digit and no ``@`` (most prose) cost one cheap probe instead of five
replace scans.

Every pattern is restricted to the regex subset Java (Spark) and RE2
(DuckDB oracle) interpret identically: character classes, bounded repeats,
non-capturing groups, ``\\b`` word boundaries — no lookaround, no
backreferences. Redaction order is fixed from most- to least-specific
pattern (credit card before phone, etc.) so a longer match is never
partially consumed by a shorter one.

Net-new vs the reference (SURVEY.md §2.7): the reference delegates all
text processing to BigQuery SQL; this is the Spark-native equivalent of
the standard corpus PII scrub.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (name, pattern, replacement) — ORDER MATTERS for redaction: most-specific
# first so e.g. a credit card is never half-eaten by the phone pattern.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("credit_card", r"\b(?:\d{4}[- ]){3}\d{4}\b", "[CC]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
)


def pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append one ``n_<kind>`` LONG column per PII pattern.

    Counts are taken on the *original* text (before any redaction), so the
    per-kind tallies are independent of redaction order.
    """
    c = F.col(text_col)
    return df.select(
        "*",
        *[
            F.regexp_count(c, F.lit(pat)).cast("long").alias(f"n_{name}")
            for name, pat, _ in PII_PATTERNS
        ],
    )


# Every pattern in PII_PATTERNS needs an ASCII digit or a literal "@" to
# match (Java's \d is [0-9]); tests/test_curation_properties.py pins that
# premise per pattern.
PII_GUARD = "[0-9@]"


def redact_col(text_col: Column) -> Column:
    """The redaction expression: sequential global regexp_replace, in
    PII_PATTERNS order, behind one ``rlike(PII_GUARD)`` probe — a text
    with no ASCII digit and no ``@`` cannot hold a match, so it skips the
    five replace scans unchanged (exact: same output, NULL stays NULL)."""
    out = text_col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return F.when(text_col.rlike(PII_GUARD), out).otherwise(text_col)


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "clean_text"
) -> DataFrame:
    """Replace every PII match with its ``[KIND]`` token in ``out_col``."""
    return df.withColumn(out_col, redact_col(F.col(text_col)))


def pii_report(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Counts + redacted text in one pass — the curation-pipeline shape:
    keep the clean text, log the tallies."""
    return redact_pii(pii_counts(df, text_col), text_col)


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list,
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over quasi-identifier columns: every combination
    of ``quasi_cols`` values shared by FEWER than ``k`` rows re-identifies
    its members. Returns the violating groups with their sizes — the
    release gate is ``report.count() == 0``.

    One map-side-combined groupBy on the quasi-identifier tuple; NULLs
    group together (a NULL combination can re-identify too). Scale: the
    aggregation carries one row per distinct combination — the quasi-
    identifier cardinality, not the corpus size.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < k)
    )
