"""Benchmark decontamination: flag training documents whose n-grams overlap
a held-out evaluation set.

The standard LLM-pipeline contamination check (n-gram collision against
benchmark text, as popularized by the GPT-3/PaLM data cards): build the
distinct n-gram set of the benchmark, then for every training document
measure what fraction of its distinct n-grams appear in that set.

Scale design (100 TB corpus, small benchmark):

* n-grams are compared as ``xxhash64`` values, never as strings — the
  shuffle/broadcast payload is 8 bytes per gram regardless of n.
* The benchmark gram set is **broadcast** (it is the small side by
  construction — benchmarks are MBs, corpora are TBs), so the check is a
  map-side hash-join over the corpus: one scan, zero shuffle of the
  training side; only the per-doc aggregation shuffles, keyed by doc id.
* Everything is Catalyst expressions with generated code (split /
  regexp_extract_all / array_distinct / explode / xxhash64) — no Python
  UDFs and no lambda: a higher-order function (``transform``) is a
  ``CodegenFallback`` that Spark evaluates interpreted, row by row.

Net-new vs the reference (SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ngram_hash_set(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 5
) -> DataFrame:
    """(id, gram_h) — one row per distinct n-gram per document, hashed.

    Tokens are the fields of ``split(text, " ")`` (so a space run yields
    empty tokens, and ``\\n``/``\\t`` are token characters). One
    ``regexp_extract_all`` builds every window: the pattern matches, with
    zero width, at each token start (the text start or just after a
    space), and its lookahead captures that token plus the next n-1 —
    the window ``concat_ws(" ", toks[i:i+n])`` without materializing the
    token array or running a lambda. A document with fewer than ``n``
    tokens (or NULL text) has no window, so it yields no row (no
    well-defined overlap). Distinctness is array-local
    (``array_distinct`` before the explode) — no shuffle.
    """
    if n < 1:
        # a window of n < 1 tokens is empty: decontamination would
        # silently flag nothing
        raise ValueError(f"n must be >= 1, got {n}")
    # possessive runs: a token never gives characters back (the next one
    # must start at a space), so a short tail fails without backtracking
    windows = F.regexp_extract_all(
        F.col(text_col),
        F.lit(f"(?<![^ ])(?=([^ ]*+(?: [^ ]*+){{{n - 1}}}))"),
        1,
    )
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(windows)).alias("gram")
    ).select(id_col, F.xxhash64("gram").alias("gram_h"))


def contamination_report(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Per-training-document n-gram overlap against the benchmark set.

    Returns (id_col, n_grams, n_matched, overlap_ratio, contaminated) for
    every training doc with at least one n-gram. ``overlap_ratio`` is
    matched/total over the document's *distinct* grams; ``contaminated``
    is ``overlap_ratio >= threshold``. ``n < 1`` raises ``ValueError``.
    """
    train_g = ngram_hash_set(train, id_col, text_col, n)
    bench_g = F.broadcast(
        ngram_hash_set(benchmark, id_col, text_col, n)
        .select("gram_h")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    joined = train_g.join(bench_g, "gram_h", "left")
    report = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("hit").alias("n_matched"),
    )
    ratio = F.col("n_matched") / F.col("n_grams")
    return report.select(
        id_col,
        "n_grams",
        "n_matched",
        ratio.alias("overlap_ratio"),
        (ratio >= F.lit(threshold)).alias("contaminated"),
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Drop contaminated training docs (the apply-side of the report).

    Anti-joins the training set against the flagged ids — docs too short
    to form an n-gram are KEPT (they cannot be meaningfully matched).
    ``n < 1`` raises ``ValueError`` (it would otherwise flag nothing and
    silently keep every row).
    """
    flagged = contamination_report(
        train, benchmark, id_col, text_col, n, threshold
    ).where("contaminated")
    return train.join(flagged.select(id_col), id_col, "left_anti")


def canary_scan(
    docs: DataFrame,
    canaries: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring canary detection: which documents contain any of
    the known canary strings (eval-set markers, deliberately planted
    leak detectors, secrets patterns rendered literal).

    One codegen scan — each row evaluates a chain of ``contains`` against
    literal canaries (no join, no regex engine); output is one row per
    (doc, canary) hit, so a doc holding two canaries reports both.
    Canary lists are small by construction (they're curated markers);
    for thousands of patterns switch to the n-gram machinery in
    ``contamination_report``.
    """
    if not canaries:
        raise ValueError("canaries must be a non-empty list of strings")
    # ONE scan: per row, build the array of matched canaries and explode
    # the non-null entries — a union of per-canary filters would plan one
    # FileScan of the corpus PER canary (file scans are not deduplicated
    # by exchange reuse), N× the promised I/O
    matches = F.array_compact(
        F.array(
            *[
                F.when(F.col(text_col).contains(c), F.lit(c))
                for c in canaries
            ]
        )
    )
    return docs.select(
        F.col(id_col), F.explode(matches).alias("canary")
    )
