"""Distributed Bloom filter: the corpus-dedup firewall primitive.

At 100 TB the cheapest "have we seen this document before?" check is not
a join against the fingerprint index — it's a Bloom filter over the
fingerprints (the design public pipelines like Dolma use for paragraph/
document dedup): a few KB..GB of bits answer "definitely new" for the
vast majority of arrivals, and only the "maybe seen" minority pays the
exact index lookup (operators/dedup.py:dedup_incremental).

Representation: the filter IS a DataFrame of packed words —
(word_idx BIGINT, word BIGINT) with 32 payload bits per word (32, not
64, so masks stay clear of the sign bit in every engine's BIGINT; the
2× row count is noise — the table is m/32 rows). Build is one explode +
groupBy-bit_or shuffle over k·n positions; probe is k BROADCAST joins —
zero shuffles on the probed side, which is the property that makes it a
firewall rather than a join in disguise.

Determinism contract: position i of key x is
``int(md5('bloom' i ':' x)[:12], 16) % m_bits`` — md5 prefixes parse
identically in Spark (``conv(_, 16, 10)``), DuckDB
(``('0x' || _)::BIGINT``) and Python's ``hashlib`` (``_pos_py``, the
snapshot manifests' planning-time probe), so build and probe are
exact-oracle-checkable
(no false negatives BY CONSTRUCTION is also asserted property-style in
tests). 48-bit prefixes keep modulo bias ≤ m/2^48.

Guarantee: a key inserted at build time ALWAYS probes maybe=true; a
never-inserted key probes true with probability ≈ (1 - e^{-kn/m})^k
(classic bound) — size m_bits ≈ 10·n for ~1% at k=5.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BITS_PER_WORD = 32


def _pos_expr(key_expr: str, i: int, m_bits: int) -> str:
    """Spark SQL: position i of the key in [0, m_bits)."""
    return (
        f"cast(conv(substr(md5(concat('bloom', '{i}', ':', {key_expr})), 1, 12), "
        f"16, 10) as bigint) % {m_bits}"
    )


def _pos_sql(key_expr: str, i: int, m_bits: int) -> str:
    """DuckDB twin of :func:`_pos_expr` — same md5 bytes, same modulus."""
    return (
        f"('0x' || SUBSTR(MD5(CONCAT('bloom', '{i}', ':', {key_expr})), 1, 12))"
        f"::BIGINT % {m_bits}"
    )


def _pos_py(key: str, i: int, m_bits: int) -> int:
    """hashlib twin of :func:`_pos_expr` for a key already rendered as the
    string Spark's ``concat`` sees — position i with no Spark job."""
    digest = hashlib.md5(f"bloom{i}:{key}".encode("utf-8")).hexdigest()
    return int(digest[:12], 16) % m_bits


def bloom_build(
    df: DataFrame, key_col: str, m_bits: int = 1 << 16, k: int = 5
) -> DataFrame:
    """Build the filter: (word_idx, word) with ≤ ceil(m_bits/32) rows.
    One narrow explode (k positions per key) + one groupBy-bit_or whose
    key space is the word index — bounded by the filter size, never by
    corpus cardinality."""
    if k < 1 or m_bits < BITS_PER_WORD:
        raise ValueError(f"need k >= 1 and m_bits >= {BITS_PER_WORD}")
    positions = df.select(
        F.explode(
            F.array(*[F.expr(_pos_expr(key_col, i, m_bits)) for i in range(k)])
        ).alias("pos")
    )
    return (
        positions.select(
            F.expr(f"pos div {BITS_PER_WORD}").alias("word_idx"),
            F.expr(
                f"shiftleft(cast(1 as bigint), cast(pos % {BITS_PER_WORD} as int))"
            ).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("word"))
    )


def bloom_probe(
    keys: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    k: int = 5,
    out_col: str = "bloom_maybe",
) -> DataFrame:
    """Tag every row with ``out_col`` = true iff ALL k bits are set
    ("maybe seen") — false means DEFINITELY never inserted.

    Plan shape: k broadcast left joins against the (tiny) word table —
    the probed relation is never shuffled; a missing word row reads as
    an all-zero word."""
    out = keys
    present = None
    for i in range(k):
        w = bloom.select(
            F.col("word_idx").alias(f"__wi{i}"), F.col("word").alias(f"__w{i}")
        )
        out = out.withColumn(f"__p{i}", F.expr(_pos_expr(key_col, i, m_bits)))
        out = out.withColumn(f"__wi{i}", F.expr(f"__p{i} div {BITS_PER_WORD}"))
        out = out.join(F.broadcast(w), f"__wi{i}", "left")
        bit = F.expr(
            f"coalesce(__w{i}, 0L) & shiftleft(cast(1 as bigint), "
            f"cast(__p{i} % {BITS_PER_WORD} as int))"
        ) != 0
        present = bit if present is None else (present & bit)
    drop = [c for i in range(k) for c in (f"__p{i}", f"__wi{i}", f"__w{i}")]
    # NULL key ⇒ NULL bit tests ⇒ NULL verdict, which BOTH filter sides
    # of a firewall split would drop, silently losing the row. A NULL
    # fingerprint can't certify absence, so it reads "maybe" — the exact
    # path downstream decides (preserves the no-false-negative contract).
    verdict = F.when(F.col(key_col).isNull(), F.lit(True)).otherwise(present)
    return out.withColumn(out_col, verdict).drop(*drop)


def bloom_definitely_new(
    arrivals: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    k: int = 5,
) -> DataFrame:
    """Rows guaranteed absent from the built corpus (the fast path that
    skips the exact index); the complement ("maybe") goes to
    dedup_incremental's exact check."""
    return bloom_probe(arrivals, bloom, key_col, m_bits, k).filter(
        ~F.col("bloom_maybe")
    ).drop("bloom_maybe")


def bloom_oracle_sql(
    build_sql: str,
    probe_sql: str,
    key_expr: str = "key",
    m_bits: int = 1 << 16,
    k: int = 5,
) -> str:
    """DuckDB twin of build+probe: ``build_sql`` selects the inserted
    keys (column named by ``key_expr``), ``probe_sql`` the probed rows
    (any columns + the key). Returns probe rows + bloom_maybe."""
    pos_union = " UNION ALL ".join(
        f"SELECT {_pos_sql(key_expr, i, m_bits)} AS pos FROM build" for i in range(k)
    )
    joins, conds = [], []
    for i in range(k):
        p = _pos_sql(key_expr, i, m_bits)
        joins.append(
            f"LEFT JOIN bloom b{i} ON b{i}.word_idx = ({p}) // {BITS_PER_WORD}"
        )
        conds.append(
            f"(COALESCE(b{i}.word, 0) & (1::BIGINT << "
            f"CAST(({p}) % {BITS_PER_WORD} AS INTEGER))) != 0"
        )
    return f"""
WITH build AS ({build_sql}),
probe AS ({probe_sql}),
positions AS ({pos_union}),
bloom AS (
  SELECT pos // {BITS_PER_WORD} AS word_idx,
         BIT_OR(1::BIGINT << CAST(pos % {BITS_PER_WORD} AS INTEGER)) AS word
  FROM positions GROUP BY 1)
SELECT probe.*,
       CASE WHEN {key_expr} IS NULL THEN TRUE
            ELSE ({" AND ".join(conds)}) END AS bloom_maybe
FROM probe {" ".join(joins)}
"""
