"""Unit tests for PII redaction, benchmark decontamination, context-window
chunking, and the quality gate (the sf0.01 oracle parity runs in
tools/oracle_check.py; these pin operator semantics on crafted inputs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_workflows_spark.operators import decontam, pii, text


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- PII -------------------------------------------------------------------


def test_pii_redaction_all_kinds(spark):
    df = _docs(
        spark,
        [
            (
                1,
                "mail a@b.io or bob.smith+x@corp.example.org "
                "call 555-123-4567 or 555.987.6543 "
                "ip 192.168.0.1 ssn 123-45-6789 card 4111-1111-1111-1111",
            )
        ],
    )
    row = pii.pii_report(df).collect()[0]
    assert row.n_email == 2
    assert row.n_phone == 2
    assert row.n_ipv4 == 1
    assert row.n_ssn == 1
    assert row.n_credit_card == 1
    assert row.clean_text == (
        "mail [EMAIL] or [EMAIL] call [PHONE] or [PHONE] "
        "ip [IP] ssn [SSN] card [CC]"
    )


def test_pii_no_false_positives(spark):
    # Plain numbers, versions, decimals, at-signs without domains.
    df = _docs(spark, [(1, "v1.2 costs 12.50 at 5 pm; see @handle and 1234")])
    row = pii.pii_report(df).collect()[0]
    assert (
        row.n_email == row.n_phone == row.n_ipv4 == row.n_ssn == row.n_credit_card == 0
    )
    assert row.clean_text == "v1.2 costs 12.50 at 5 pm; see @handle and 1234"


def test_pii_redaction_order_credit_card_wins(spark):
    # The CC must be redacted as ONE token, not partially eaten by the
    # phone/SSN patterns.
    df = _docs(spark, [(1, "pay 4111 1111 1111 1111 now")])
    row = pii.pii_report(df).collect()[0]
    assert row.n_credit_card == 1
    assert row.clean_text == "pay [CC] now"


# --- decontamination -------------------------------------------------------


def test_contamination_exact_copy_flagged(spark):
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon zeta")])
    train = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # verbatim copy
            (2, "one two three four five six seven"),  # disjoint
        ],
    )
    rep = {
        r.doc_id: r
        for r in decontam.contamination_report(train, bench, n=5).collect()
    }
    assert rep[1].overlap_ratio == 1.0 and rep[1].contaminated
    assert rep[2].overlap_ratio == 0.0 and not rep[2].contaminated
    kept = decontam.decontaminate(train, bench, n=5)
    assert [r.doc_id for r in kept.collect()] == [2]


def test_contamination_partial_overlap_ratio(spark):
    # Train doc = 6 tokens -> two distinct 5-grams; exactly one appears in
    # the benchmark -> ratio 0.5 (>= default threshold -> contaminated).
    bench = _docs(spark, [(100, "a b c d e")])
    train = _docs(spark, [(1, "a b c d e f")])
    row = decontam.contamination_report(train, bench, n=5).collect()[0]
    assert row.n_grams == 2 and row.n_matched == 1
    assert row.overlap_ratio == 0.5 and row.contaminated


def test_contamination_short_docs_kept(spark):
    bench = _docs(spark, [(100, "a b c d e")])
    train = _docs(spark, [(1, "a b")])  # < n tokens: no grams, no row
    assert decontam.contamination_report(train, bench, n=5).count() == 0
    assert decontam.decontaminate(train, bench, n=5).count() == 1


def test_contamination_rejects_n_below_one(spark):
    import pytest as _pytest

    bench = _docs(spark, [(100, "a b c d e")])
    train = _docs(spark, [(1, "a b c d e")])
    for n in (0, -1):
        with _pytest.raises(ValueError, match="n must be >= 1"):
            decontam.ngram_hash_set(train, n=n)
        with _pytest.raises(ValueError, match="n must be >= 1"):
            decontam.contamination_report(train, bench, n=n)
        with _pytest.raises(ValueError, match="n must be >= 1"):
            decontam.decontaminate(train, bench, n=n)


# --- chunking --------------------------------------------------------------


def test_chunk_documents_overlap_and_coverage(spark):
    toks = [f"t{i}" for i in range(75)]
    df = _docs(spark, [(1, " ".join(toks))])
    chunks = (
        text.chunk_documents(df, window=32, overlap=8)
        .orderBy("chunk_id")
        .collect()
    )
    # starts 1, 25, 49, 73 -> 4 chunks; last has 75-72=3 tokens
    assert [c.chunk_start for c in chunks] == [1, 25, 49, 73]
    assert [c.n_chunk_tokens for c in chunks] == [32, 32, 27, 3]
    # consecutive chunks share exactly `overlap` tokens (when long enough)
    a, b = chunks[0].chunk_text.split(" "), chunks[1].chunk_text.split(" ")
    assert a[-8:] == b[:8]
    # stride-prefixes reconstruct the document exactly
    rebuilt = []
    for c in chunks:
        rebuilt.extend(c.chunk_text.split(" ")[:24])
    assert rebuilt == toks


def test_chunk_documents_short_doc_single_chunk(spark):
    df = _docs(spark, [(1, "x y z")])
    chunks = text.chunk_documents(df, window=32, overlap=8).collect()
    assert len(chunks) == 1
    assert chunks[0].chunk_text == "x y z" and chunks[0].n_chunk_tokens == 3


def test_chunk_documents_rejects_bad_overlap(spark):
    df = _docs(spark, [(1, "x")])
    try:
        text.chunk_documents(df, window=8, overlap=8)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


# --- quality gate ----------------------------------------------------------


def test_quality_gate_rules(spark):
    good = "the cat sat on the mat and then the dog ran off to bed again"
    df = _docs(
        spark,
        [
            (1, good),
            (2, "too short"),  # fails ok_n_tokens
            (3, " ".join(["spam"] * 40)),  # fails ok_stop_ratio (no stopwords)
            (4, " ".join(["the"] * 50)),  # stopwords ok but uniq_ratio fails
        ],
    )
    rows = {r.doc_id: r for r in text.quality_gate(df).collect()}
    assert rows[1].passes and rows[1].fail_reason is None
    assert not rows[2].passes and rows[2].fail_reason == "ok_n_tokens"
    assert not rows[3].passes and rows[3].fail_reason == "ok_stop_ratio"
    assert not rows[4].passes and rows[4].fail_reason == "ok_uniq_ratio"


def test_k_anonymity_report(spark):
    from etl_workflows_spark.operators.pii import k_anonymity_report

    rows = (
        [(i, "US", "a") for i in range(10)]      # safe group (10 >= 5)
        + [(100, "FR", "b"), (101, "FR", "b")]   # size 2 → violation
        + [(200, None, "c")]                     # NULL quasi → size 1
    )
    df = spark.createDataFrame(rows, "id long, country string, plan string")
    viol = {
        (r["country"], r["plan"]): r["group_size"]
        for r in k_anonymity_report(df, ["country", "plan"], k=5).collect()
    }
    assert viol == {("FR", "b"): 2, (None, "c"): 1}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must"):
        k_anonymity_report(df, ["country"], k=1)
    with _pytest.raises(ValueError, match="quasi_cols"):
        k_anonymity_report(df, [], k=5)
