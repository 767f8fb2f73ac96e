"""Distributed Bloom filter (operators/bloom.py): no false negatives
ever, false-positive rate near theory, shuffle-free probe plan."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from etl_workflows_spark.operators import bloom


def _keys(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], ["key"])


def test_no_false_negatives_ever(spark):
    inserted = [f"doc-{i}" for i in range(500)]
    built = bloom.bloom_build(_keys(spark, inserted), "key", m_bits=1 << 12, k=4)
    probed = bloom.bloom_probe(
        _keys(spark, inserted), built, "key", m_bits=1 << 12, k=4
    )
    assert probed.filter(~F.col("bloom_maybe")).count() == 0


def test_false_positive_rate_near_theory(spark):
    n, m, k = 400, 1 << 13, 5
    built = bloom.bloom_build(
        _keys(spark, [f"in-{i}" for i in range(n)]), "key", m_bits=m, k=k
    )
    absent = _keys(spark, [f"out-{i}" for i in range(2000)])
    fp = (
        bloom.bloom_probe(absent, built, "key", m_bits=m, k=k)
        .filter(F.col("bloom_maybe"))
        .count()
    )
    theory = (1 - math.exp(-k * n / m)) ** k  # ~0.022 at these params
    assert fp / 2000 < max(4 * theory, 0.05)


def test_definitely_new_partitions_arrivals(spark):
    built = bloom.bloom_build(_keys(spark, ["a", "b", "c"]), "key")
    arrivals = _keys(spark, ["a", "x", "y", "z"])
    new = {r["key"] for r in bloom.bloom_definitely_new(arrivals, built, "key").collect()}
    assert "a" not in new  # inserted key can never be "definitely new"
    assert new <= {"x", "y", "z"}


def test_probe_plan_is_shuffle_free_on_probe_side(spark):
    """The firewall property: k broadcast joins, no Exchange introduced
    by the probe itself (the probed relation never shuffles)."""
    built = bloom.bloom_build(_keys(spark, ["a", "b"]), "key").localCheckpoint()
    probed = bloom.bloom_probe(_keys(spark, ["a", "q"]), built, "key", k=3)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_word_table_is_bounded_by_filter_size(spark):
    m = 1 << 10
    built = bloom.bloom_build(
        _keys(spark, [f"k{i}" for i in range(5000)]), "key", m_bits=m
    )
    assert built.count() <= m // bloom.BITS_PER_WORD
    # masks never touch the sign bit: all words non-negative
    assert built.filter(F.col("word") < 0).count() == 0


def test_bloom_sidecar_equivalence(spark, tmp_path):
    """dedup_incremental with the bloom sidecar returns EXACTLY the same
    surviving rows as without it (no false negatives ⇒ the filter only
    short-circuits index reads, never changes the answer)."""
    from etl_workflows_spark.operators import dedup

    spark.sql("CREATE DATABASE IF NOT EXISTS bloomtest")
    corpus = spark.createDataFrame(
        [(i, f"resident text {i % 40}") for i in range(100)], ["doc_id", "text"]
    )
    dedup.build_fingerprint_index(corpus, "bloomtest.fp_idx")
    dedup.build_bloom_sidecar(corpus, "bloomtest.fp_bloom", m_bits=1 << 12, k=4)
    arrivals = spark.createDataFrame(
        # 3 resident dups, 2 in-batch dups, 3 genuinely new
        [(200, "resident text 0"), (201, "resident text 1"),
         (202, "resident text 2"), (203, "brand new A"), (204, "brand new A"),
         (205, "brand new B"), (206, "brand new C"), (207, "brand new B")],
        ["doc_id", "text"],
    )
    plain = sorted(
        map(tuple, dedup.dedup_incremental(arrivals, "bloomtest.fp_idx").collect())
    )
    with_bloom = sorted(
        map(
            tuple,
            dedup.dedup_incremental(
                arrivals, "bloomtest.fp_idx", bloom_table="bloomtest.fp_bloom"
            ).collect(),
        )
    )
    assert plain == with_bloom
    assert [d for d, _ in plain] == [203, 205, 206]
    # sidecar append keeps the metadata row and stays idempotent-sized
    dedup.append_bloom_sidecar(
        spark.createDataFrame([(208, "brand new D")], ["doc_id", "text"]),
        "bloomtest.fp_bloom",
    )
    sidecar = spark.table("bloomtest.fp_bloom")
    m_bits, k = dedup._bloom_sidecar_params(sidecar)
    assert (m_bits, k) == (1 << 12, 4)
    probe = bloom.bloom_probe(
        spark.createDataFrame([("x", "brand new D")], ["k_", "text"]).selectExpr(
            "md5(text) AS fp"
        ),
        sidecar.filter(F.col("word_idx") != dedup._BLOOM_META_IDX),
        "fp",
        m_bits,
        k,
    )
    assert probe.collect()[0]["bloom_maybe"] is True


def test_hashlib_positions_match_spark(spark):
    """The driver-side twin places every key exactly where the Spark
    expression does: empty, ASCII, multi-byte UTF-8 and integer keys
    rendered as strings."""
    keys = ["", "a", "hello world", "x" * 100, "méßage-ünïcode-𝕏", "-1", "42"]
    df = _keys(spark, keys)
    for m_bits in (1024, 1 << 16):
        cols = [
            F.expr(bloom._pos_expr("key", i, m_bits)).alias(f"p{i}")
            for i in range(4)
        ]
        for key, row in zip(keys, df.select(*cols).collect()):
            assert list(row) == [bloom._pos_py(key, i, m_bits) for i in range(4)]


def test_validation(spark):
    with pytest.raises(ValueError):
        bloom.bloom_build(_keys(spark, ["a"]), "key", k=0)
    with pytest.raises(ValueError):
        bloom.bloom_build(_keys(spark, ["a"]), "key", m_bits=8)


def test_simhash_pairs_no_nested_loop_join(spark):
    """Scale contract: banded candidate generation must be equi-joins
    (hash/SMJ-able), never a BroadcastNestedLoopJoin from an OR of band
    equalities."""
    from etl_workflows_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"tok{i} shared common words here") for i in range(30)],
        ["doc_id", "text"],
    )
    pairs = dedup.near_dup_pairs_simhash(docs, max_hamming=1)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # exact-recall sanity at radius 1: identical docs always pair
    dup = spark.createDataFrame(
        [(1, "aa bb cc dd"), (2, "aa bb cc dd"), (3, "zz yy xx ww vv uu tt")],
        ["doc_id", "text"],
    )
    got = {(r["doc_a"], r["doc_b"]) for r in
           dedup.near_dup_pairs_simhash(dup, max_hamming=0).collect()}
    assert (1, 2) in got
