"""Edit-distance similarity join — exact fuzzy matching without O(n²).

Entity resolution's core primitive: all pairs of strings within
Levenshtein distance ``d`` (typo'd names, OCR'd ids, mis-keyed codes).
A naive implementation is a cross join with a quadratic verify; the
scale shape here is the deletion-neighborhood scheme (FastSS,
Bocek et al. 2007; popularized as SymSpell): every string generates its
variants with at most ``d`` characters deleted, and

  ed(a, b) <= d  ⟹  del<=d(a) ∩ del<=d(b) ≠ ∅

(an optimal alignment's substitutions delete one char on each side,
its insertions/deletions one char on one side — so both strings reach
a common subsequence within d deletions each).  The converse is weaker
(a shared variant only bounds ed <= 2d), so candidates from the
variant equi-join are verified with the engine-native ``levenshtein``.
Recall is exactly 1 — a theorem, not a probability.

Cost: O(len^d) keys per string (len+1 at d=1, ~len²/2 at d=2 — why
``max_dist`` is capped at 2; beyond that q-gram/PassJoin schemes win),
one equi-join on short string keys, verify only on candidates.  All
JVM-side Catalyst expressions (char-array slice/flatten — no UDFs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _delete_one(chars: Column) -> Column:
    """array of char-arrays: ``chars`` with each single position removed.
    Guarded for empty input — Spark's ``sequence(1, 0)`` is a DESCENDING
    [1, 0], not empty, and index 0 makes ``slice`` throw."""
    n = F.size(chars)
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.concat(
            F.slice(chars, F.lit(1), i - 1), F.slice(chars, i + 1, n)
        ),
    )


def deletion_variants(s: Column, max_dist: int) -> Column:
    """Distinct strings reachable from ``s`` by deleting at most
    ``max_dist`` characters (``s`` itself included)."""
    if max_dist not in (1, 2):
        raise ValueError(f"max_dist must be 1 or 2, got {max_dist}")
    chars = F.split(s, "")
    one = _delete_one(chars)
    variants = F.concat(F.array(chars), one)
    if max_dist == 2:
        variants = F.concat(variants, F.flatten(F.transform(one, _delete_one)))
    return F.array_distinct(
        F.transform(variants, lambda c: F.array_join(c, ""))
    )


def _variants_py(s: str, max_dist: int) -> list:
    """Python twin of ``deletion_variants`` — same distinct set in the
    same first-occurrence order (itself, then single deletions in
    position order, then their deletions)."""
    out = dict.fromkeys((s,))
    one = [s[:i] + s[i + 1 :] for i in range(len(s))]
    for v in one:
        out[v] = None
    if max_dist == 2:
        for v in one:
            for i in range(len(v)):
                out[v[: i] + v[i + 1 :]] = None
    return list(out)


def _keyed(df: DataFrame, id_col: str, str_col: str, max_dist: int) -> DataFrame:
    from pyspark.sql import types as T

    if max_dist not in (1, 2):
        # _variants_py only branches on max_dist == 2: any other value
        # would silently generate distance-1 keys and miss pairs
        raise ValueError(f"max_dist must be 1 or 2, got {max_dist}")

    from etl_workflows_spark.operators.parallelism import widen

    renamed = widen(df).select(
        F.col(id_col).alias("id"), F.col(str_col).alias("s")
    )
    # variant generation as an Arrow kernel with a per-task memo, not
    # the in-plan slice/concat transform: the expression form pays
    # O(len²) interpreted array slices PER ROW (at d=2, ~len²/2 variants
    # each built from three slices + a join), while Python string
    # slicing is C-speed and duplicate strings within a task hit the
    # memo (guide §4.2/§4.5 — the bpe_encode recipe). The emitted
    # (id, s, key) rows equal the old explode's output except rows with
    # NULL s, whose NULL key could never match the downstream equi-join
    # anyway. ``deletion_variants`` stays the Column form for callers
    # that need an in-plan expression; test_fuzzy pins the kernel's
    # variant sets against it. Memory assumption: the memo is unbounded
    # for the task's life — one variant list (~len²/2 strings at d=2)
    # per DISTINCT string of the partition, sized for short, repetitive
    # keys (names, titles), not for a partition of long unique strings.
    id_type = renamed.schema["id"].dataType
    schema = T.StructType(
        [
            T.StructField("id", id_type, True),
            T.StructField("s", T.StringType(), True),
            T.StructField("key", T.StringType(), True),
        ]
    )

    def gen(batches):
        import pandas as pd

        memo: dict = {}
        for pdf in batches:
            ids: list = []
            ss: list = []
            keys: list = []
            for i, s in zip(pdf["id"], pdf["s"]):
                if not isinstance(s, str):
                    continue  # a NULL key never matches the equi-join
                ks = memo.get(s)
                if ks is None:
                    ks = _variants_py(s, max_dist)
                    memo[s] = ks
                ids.extend([i] * len(ks))
                ss.extend([s] * len(ks))
                keys.extend(ks)
            yield pd.DataFrame({"id": ids, "s": ss, "key": keys})

    return renamed.mapInPandas(gen, schema)


def fuzzy_self_pairs(
    df: DataFrame, id_col: str, str_col: str, max_dist: int = 1
) -> DataFrame:
    """All (id_a, id_b, dist) pairs with Levenshtein(str_a, str_b) <=
    ``max_dist``, id_a < id_b.  Exact — deletion-variant candidates are
    complete, the levenshtein verify is the decision.

    ``id_col`` MUST be a unique, non-NULL row key: the strings re-attach
    to candidate id pairs by equi-join, so a repeated id multiplies rows
    (``(1, "smith"), (2, "smyth"), (2, "smith")`` returns the pair (1, 2)
    twice, at dist 1 and dist 0) and a NULL id never re-attaches."""
    # ID-ONLY candidate join (guide §2.3/§8: shuffle keys, not payloads;
    # the same recipe similarity.py's banded LSH keeps): both join sides
    # and the dropDuplicates exchange carry 16-byte id pairs instead of
    # dragging the string payload through every shuffle twice — the
    # strings re-attach to the ~small post-distinct candidate set via two
    # equi-joins on the base relation. Measured 26% faster at d=2 on the
    # sf0.1 customer corpus (7.8 → 5.7 s noop), outputs identical.
    k = _keyed(df, id_col, str_col, max_dist)
    a = k.select("id", "key").alias("a")
    b = k.select("id", "key").alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    base = df.select(F.col(id_col).alias("__fid"), F.col(str_col).alias("__fs"))
    withs = cands.join(
        base.select(F.col("__fid").alias("id_a"), F.col("__fs").alias("s_a")),
        "id_a",
    ).join(
        base.select(F.col("__fid").alias("id_b"), F.col("__fs").alias("s_b")),
        "id_b",
    )
    return (
        # length prefilter (|len difference| > d disqualifies for free),
        # then the threshold-bounded levenshtein — the 3-arg form exits
        # the DP early and returns -1 past the bound
        withs.filter(
            F.abs(F.length("s_a") - F.length("s_b")) <= max_dist
        )
        .withColumn("dist", F.levenshtein("s_a", "s_b", max_dist))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select("id_a", "id_b", "dist")
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_str: str,
    right_id: str,
    right_str: str,
    max_dist: int = 1,
) -> DataFrame:
    """Bipartite form: (left_id, right_id, dist) for every cross-side
    pair within ``max_dist`` — the record-linkage join (match a dirty
    feed against a master table without a cross join).

    ``left_id`` and ``right_id`` MUST each be a unique, non-NULL key of
    their side, for the reason ``fuzzy_self_pairs`` gives."""
    # id-only candidate join — see fuzzy_self_pairs for the shape note
    ka = _keyed(left, left_id, left_str, max_dist).select("id", "key")
    kb = _keyed(right, right_id, right_str, max_dist).select("id", "key")
    cands = (
        ka.alias("a")
        .join(kb.alias("b"), F.col("a.key") == F.col("b.key"))
        .select(
            F.col("a.id").alias("left_id"),
            F.col("b.id").alias("right_id"),
        )
        .dropDuplicates(["left_id", "right_id"])
    )
    withs = cands.join(
        left.select(
            F.col(left_id).alias("left_id"), F.col(left_str).alias("s_a")
        ),
        "left_id",
    ).join(
        right.select(
            F.col(right_id).alias("right_id"), F.col(right_str).alias("s_b")
        ),
        "right_id",
    )
    return (
        withs.filter(
            F.abs(F.length("s_a") - F.length("s_b")) <= max_dist
        )
        .withColumn("dist", F.levenshtein("s_a", "s_b", max_dist))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select("left_id", "right_id", "dist")
    )


def golden_record(
    df: DataFrame,
    cluster_col: str,
    rules: dict[str, str],
    recency_col: str | None = None,
) -> DataFrame:
    """Survivorship: collapse each entity cluster (from ``fuzzy_dedup``
    clustering, exact-dup groups, CDC key groups …) into ONE record by
    per-column rules — the step after matching that record-linkage
    pipelines need.

    ``rules`` maps column → one of:

    * ``'max'`` / ``'min'``        — extreme value in the cluster;
    * ``'latest'``                 — value from the row with the highest
      ``recency_col`` (requires it; rows with NULL recency are ignored,
      ties break by value so the merge is deterministic);
    * ``'first_non_null'``         — the most recent NON-NULL value when
      ``recency_col`` is given (falling back to the smallest non-null
      if every recency is NULL), else simply the smallest non-null;
    * ``'sum'`` / ``'count'``      — additive merges.

    One groupBy over the cluster key — no window, no self-join; every
    rule is an algebraic aggregate with map-side partial aggregation.
    """
    aggs = []
    for col, rule in rules.items():
        if rule == "max":
            aggs.append(F.max(col).alias(col))
        elif rule == "min":
            aggs.append(F.min(col).alias(col))
        elif rule == "sum":
            aggs.append(F.sum(col).alias(col))
        elif rule == "count":
            aggs.append(F.count(col).alias(col))
        elif rule == "latest":
            if recency_col is None:
                raise ValueError(
                    f"rule 'latest' for {col!r} needs recency_col"
                )
            ord_ = F.when(
                F.col(recency_col).isNotNull(),
                F.struct(F.col(recency_col), F.col(col)),
            )
            aggs.append(F.max_by(col, ord_).alias(col))
        elif rule == "first_non_null":
            if recency_col:
                ord_ = F.when(
                    F.col(col).isNotNull() & F.col(recency_col).isNotNull(),
                    F.struct(F.col(recency_col), F.col(col)),
                )
                aggs.append(
                    F.coalesce(F.max_by(col, ord_), F.min(col)).alias(col)
                )
            else:
                # min/max already skip NULLs — smallest non-null value
                aggs.append(F.min(col).alias(col))
        else:
            raise ValueError(
                f"unknown survivorship rule {rule!r} for column {col!r}"
            )
    return df.groupBy(cluster_col).agg(
        *aggs, F.count(F.lit(1)).alias("n_members")
    )


def fuzzy_dedup(
    df: DataFrame, id_col: str, str_col: str, max_dist: int = 1
) -> DataFrame:
    """Entity-resolution keep-one: cluster rows whose ``str_col`` values
    are within ``max_dist`` of each other (transitively — connected
    components over the pair graph), keep each cluster's min-id row.
    The fuzzy twin of ``dedup.dedup_near_duplicates``."""
    from etl_workflows_spark.operators.dedup import cluster_duplicates

    pairs = fuzzy_self_pairs(df, id_col, str_col, max_dist).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    clusters = cluster_duplicates(pairs)
    losers = (
        clusters.groupBy("cluster")
        .agg(F.min("doc_id").alias("keeper"))
        .join(clusters, "cluster")
        .filter(F.col("doc_id") != F.col("keeper"))
        .select(F.col("doc_id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")
