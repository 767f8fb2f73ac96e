"""Edit-distance similarity join (operators/fuzzy.py): deletion-variant
candidates must be COMPLETE (pairs equal the naive quadratic
levenshtein join), the verify exact, and the clustering transitive."""

from __future__ import annotations

import pytest

from etl_workflows_spark.operators.fuzzy import (
    deletion_variants,
    fuzzy_dedup,
    fuzzy_join,
    fuzzy_self_pairs,
)

NAMES = [
    (1, "jonathan"),
    (2, "jonathon"),   # sub → d1 of 1
    (3, "jonatha"),    # del → d1 of 1, d2 of 2
    (4, "jjonathan"),  # ins → d1 of 1
    (5, "smith"),
    (6, "smyth"),      # sub → d1 of 5
    (7, "smythe"),     # ins of 6, d2 of 5
    (8, "completely"),
    (9, ""),           # empty string edge
    (10, "a"),         # d1 of 9
]


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _naive_pairs(rows, d):
    return sorted(
        (ia, ib, _lev(sa, sb))
        for ia, sa in rows
        for ib, sb in rows
        if ia < ib and _lev(sa, sb) <= d
    )


@pytest.mark.parametrize("d", [1, 2])
def test_self_pairs_match_naive(spark, d):
    df = spark.createDataFrame(NAMES, ["id", "name"])
    got = sorted(
        tuple(r) for r in fuzzy_self_pairs(df, "id", "name", d).collect()
    )
    assert got == _naive_pairs(NAMES, d)


def test_bipartite_join_matches_naive(spark):
    left = spark.createDataFrame(NAMES[:5], ["id", "name"])
    right = spark.createDataFrame(NAMES[3:], ["id", "name"])
    got = sorted(
        tuple(r)
        for r in fuzzy_join(left, right, "id", "name", "id", "name", 1).collect()
    )
    want = sorted(
        (ia, ib, _lev(sa, sb))
        for ia, sa in NAMES[:5]
        for ib, sb in NAMES[3:]
        if _lev(sa, sb) <= 1
    )
    assert got == want


def test_variant_counts_are_bounded(spark):
    # d=1 on an n-char string: at most n+1 distinct variants
    df = spark.createDataFrame([("abcdef",)], ["s"])
    from pyspark.sql import functions as F

    n = df.select(
        F.size(deletion_variants(F.col("s"), 1)).alias("n")
    ).first()["n"]
    assert n == 7


def test_max_dist_validation(spark):
    from pyspark.sql import functions as F

    with pytest.raises(ValueError):
        deletion_variants(F.lit("x"), 3)
    # the Arrow-kernel entry points must refuse too: a silent max_dist=3
    # would return an incomplete pair set
    df = spark.createDataFrame(NAMES, ["id", "name"])
    for bad in (0, 3):
        with pytest.raises(ValueError, match="max_dist"):
            fuzzy_self_pairs(df, "id", "name", bad)
        with pytest.raises(ValueError, match="max_dist"):
            fuzzy_join(df, df, "id", "name", "id", "name", bad)


def test_fuzzy_dedup_is_transitive(spark):
    # chain a-b-c where ed(a,c)=2 > 1: all three must still collapse to
    # one cluster through the shared middle (connected components)
    rows = [(1, "abcd"), (2, "abce"), (3, "abcf"), (4, "zzzz")]
    df = spark.createDataFrame(rows, ["id", "name"])
    kept = sorted(r["id"] for r in fuzzy_dedup(df, "id", "name", 1).collect())
    assert kept == [1, 4]


def test_golden_record_survivorship(spark):
    from etl_workflows_spark.operators.fuzzy import golden_record

    rows = [
        # cluster 1: three partial records at different recencies
        (1, "Jon Doe", None, 100.0, 3),
        (1, None, "jon@a.com", 50.0, 5),
        (1, "Jonathan Doe", "old@b.com", 75.0, 1),
        # cluster 2: single record
        (2, "Ada", "ada@c.com", 10.0, 7),
        # cluster 3: every recency NULL → first_non_null falls back
        (3, None, "z@d.com", 1.0, None),
        (3, "Zed", None, 2.0, None),
    ]
    df = spark.createDataFrame(
        rows, "cluster long, name string, email string, spend double, v int"
    )
    out = {
        r["cluster"]: r
        for r in golden_record(
            df,
            "cluster",
            {
                "name": "first_non_null",
                "email": "latest",
                "spend": "sum",
            },
            recency_col="v",
        ).collect()
    }
    g1 = out[1]
    assert g1["name"] == "Jon Doe"        # non-null with highest v (3)
    assert g1["email"] == "jon@a.com"     # row with highest v overall (5)
    assert g1["spend"] == 225.0
    assert g1["n_members"] == 3
    assert out[2]["name"] == "Ada" and out[2]["n_members"] == 1
    g3 = out[3]
    assert g3["name"] == "Zed"            # all recencies NULL → min fallback
    assert g3["email"] is None            # 'latest' has no non-NULL recency


def test_golden_record_validates_rules(spark):
    from etl_workflows_spark.operators.fuzzy import golden_record

    df = spark.createDataFrame([(1, "a")], "cluster long, name string")
    with pytest.raises(ValueError, match="unknown survivorship rule"):
        golden_record(df, "cluster", {"name": "mode"})
    with pytest.raises(ValueError, match="recency_col"):
        golden_record(df, "cluster", {"name": "latest"})


def test_python_variants_match_expression(spark):
    """The Arrow kernel's variant generator must produce the same
    distinct sets as the in-plan ``deletion_variants`` expression it
    replaced in ``_keyed`` (same keys ⇒ same candidates ⇒ same pairs)."""
    from pyspark.sql import functions as F

    from etl_workflows_spark.operators.fuzzy import _variants_py

    words = ["", "a", "ab", "kitten", "héllo wörld", "x" * 12, "a b"]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    for d in (1, 2):
        got = {
            r["s"]: r["v"]
            for r in df.select(
                "s", deletion_variants(F.col("s"), d).alias("v")
            ).collect()
        }
        for w in words:
            assert sorted(got[w]) == sorted(_variants_py(w, d)), (w, d)


def test_keyed_kernel_drops_null_strings_only(spark):
    """NULL strings contribute no candidate rows (their NULL key could
    never match the equi-join); everything else keys as before."""
    from etl_workflows_spark.operators.fuzzy import _keyed

    df = spark.createDataFrame(
        [(1, "ab"), (2, None), (3, "")], "id long, s string"
    )
    rows = _keyed(df, "id", "s", 1).collect()
    assert {r["id"] for r in rows} == {1, 3}
    assert {r["key"] for r in rows if r["id"] == 1} == {"ab", "a", "b"}
    assert {r["key"] for r in rows if r["id"] == 3} == {""}
