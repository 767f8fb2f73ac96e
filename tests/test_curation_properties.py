"""Differential checks of the curation operators' fast forms against
their plain definitions: the regex n-gram windows against Python
``str.split(" ")`` sliding windows, and the guarded PII scrub against the
unguarded five-step ``regexp_replace`` chain."""

from __future__ import annotations

import re

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_workflows_spark.operators import decontam, pii

_SPARK_SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _docs(spark, texts, first_id=0):
    # from pandas: an Arrow local relation, no Python worker per action
    return spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": range(first_id, first_id + len(texts)), "text": texts}
        ),
        "doc_id long, text string",
    )


# --- n-gram windows --------------------------------------------------------

# single and double spaces plus characters split(" ") must keep inside a
# token: newline, tab, NEL (a Java line terminator), NBSP, a non-ASCII letter
_PIECE = st.sampled_from(["a", "b", "\xe9", "\n", "\t", "\x85", "\xa0", " ", "  "])
_text = st.lists(_PIECE, max_size=14).map("".join)


def _py_grams(text: str, n: int) -> set[str]:
    """Distinct ``str.split(" ")`` windows of n tokens (none if shorter)."""
    toks = text.split(" ")
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _hashes(spark, grams: set[str]) -> dict[str, int]:
    """Spark's xxhash64 of each gram (the oracle shares only the hash)."""
    if not grams:
        return {}
    df = spark.createDataFrame(pd.DataFrame({"g": sorted(grams)}), "g string")
    return dict(df.select("g", F.xxhash64("g")).collect())


@_SPARK_SETTINGS
@given(texts=st.lists(_text, min_size=1, max_size=10), n=st.integers(1, 6))
@example(texts=[""], n=1)  # empty text: one empty token
@example(texts=[" a b", "a b ", " "], n=2)  # leading / trailing space
@example(texts=["a  b", "a  b\tc"], n=3)  # a double space: an empty token
@example(texts=["a b c", "a b"], n=3)  # exactly n tokens; n-1 tokens
def test_ngram_hash_set_matches_split_windows(spark, texts, n):
    want = {(i, g) for i, t in enumerate(texts) for g in _py_grams(t, n)}
    h = _hashes(spark, {g for _, g in want})
    got = sorted(
        (r.doc_id, r.gram_h)
        for r in decontam.ngram_hash_set(_docs(spark, texts), n=n).collect()
    )
    # one row per distinct gram per document
    assert got == sorted((i, h[g]) for i, g in want)


@_SPARK_SETTINGS
@given(
    train=st.lists(_text, min_size=1, max_size=8),
    bench=st.lists(_text, min_size=1, max_size=3),
    n=st.integers(1, 6),
)
@example(train=["a b c", "a b", "b c a b c"], bench=["a b c"], n=3)
@example(train=["", " ", "a"], bench=[""], n=1)
def test_contamination_report_counts_match_split_windows(spark, train, bench, n):
    bench_grams = set().union(*(_py_grams(t, n) for t in bench))
    want = {}
    for i, t in enumerate(train):
        grams = _py_grams(t, n)
        if grams:
            want[i] = (len(grams), len(grams & bench_grams))
    rep = decontam.contamination_report(
        _docs(spark, train), _docs(spark, bench, first_id=1000), n=n
    )
    got = {r.doc_id: (r.n_grams, r.n_matched) for r in rep.collect()}
    assert got == want


def test_ngram_hash_set_plan_has_no_lambda(spark):
    df = _docs(spark, ["a b c d e f"])
    plan = decontam.ngram_hash_set(df, n=3)._jdf.queryExecution()
    assert "lambdafunction" not in plan.optimizedPlan().toString().lower()


# --- the PII guard ---------------------------------------------------------


def _unguarded(c):
    for _, pat, repl in pii.PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


# digits, '@' and the punctuation the patterns key on, letters, and
# non-ASCII digits (Arabic-Indic three, fullwidth five) that Java's \d
# does not match
_PII_PIECE = st.sampled_from(
    list("0123456789@-._ abzAZ\n") + ["٣", "５", "com", "555-"]
)
_pii_text = st.lists(_PII_PIECE, max_size=30).map("".join)


@_SPARK_SETTINGS
@given(texts=st.lists(_pii_text, min_size=1, max_size=20))
@example(texts=["call 555-123-4567", "x@y.io", "٣٣٣-５", ""])
def test_guarded_redaction_equals_unguarded_chain(spark, texts):
    df = _docs(spark, texts + [None])
    t = F.col("text")
    rows = df.select(
        pii.redact_col(t).alias("got"), _unguarded(t).alias("want")
    ).collect()
    assert [r.got for r in rows] == [r.want for r in rows]


@pytest.mark.parametrize("name,pat", [(n, p) for n, p, _ in pii.PII_PATTERNS])
@settings(max_examples=100, deadline=None)
@given(data=st.data())
def test_pii_pattern_needs_a_digit_or_at(name, pat, data):
    """The guard's premise, per pattern: every string the pattern matches
    holds an ASCII digit or an '@', so a text without one cannot match.
    A pattern that breaks this must widen ``pii.PII_GUARD``."""
    rx = re.compile(pat, re.ASCII)
    guard = re.compile(pii.PII_GUARD)
    matched = data.draw(st.from_regex(rx, fullmatch=True), label="matched")
    assert guard.search(matched), f"{name} matches {matched!r}"
    free = data.draw(
        st.text(st.characters(blacklist_characters="0123456789@")), label="free"
    )
    assert rx.search(free) is None, f"{name} matches {free!r}"
