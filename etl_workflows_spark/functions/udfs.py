"""Custom-UDF surface: the blessed patterns for logic Catalyst can't express.

The reference exposes BigQuery UDFs but ships none (SURVEY.md §2.4 —
"expose but deprioritize"). On Spark the custom-function ladder, fastest
first:

1. built-in expressions (everything in this repo's operators),
2. ``@pandas_udf`` — Arrow-batched, vectorized, ~10-100× faster than
   row-at-a-time ``udf``; shown here,
3. ``applyInPandas`` / ``mapInPandas`` for grouped/streamed shapes
   (see operators/multimodal.py),
4. row-at-a-time ``F.udf`` — last resort only, never in a hot path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


# Type object, not a DDL string: string types parse lazily against an
# active session, which breaks importing this module before get_spark().
@pandas_udf(DoubleType())
def zscore_in_batch(v: pd.Series) -> pd.Series:
    """Example vectorized scalar UDF: per-Arrow-batch z-score.

    Batch-local statistics — for global z-scores compute mean/std with
    built-in aggregates and broadcast them into an expression instead
    (no UDF needed); this exists to demonstrate the vectorized signature.
    """
    std = v.std(ddof=0)
    if std == 0 or pd.isna(std):
        return pd.Series([0.0] * len(v))
    return (v - v.mean()) / std


def global_zscore(df: DataFrame, col: str) -> DataFrame:
    """The UDF-free way to do the same thing globally: two built-in
    aggregates broadcast into a codegen'd expression — this is the pattern
    to prefer over pandas_udf whenever the math is expressible."""
    stats = df.agg(
        F.avg(col).alias("mu"), F.stddev_pop(col).alias("sigma")
    )
    return df.crossJoin(F.broadcast(stats)).withColumn(
        f"{col}_z",
        F.when(F.col("sigma") != 0, (F.col(col) - F.col("mu")) / F.col("sigma"))
        .otherwise(0.0),
    ).drop("mu", "sigma")


def ngram_udtf():
    """Example Python UDTF (Spark 3.5+): one input row → many output rows.

    Registered per-session: ``spark.udtf.register("ngrams", ngram_udtf())``
    then ``SELECT n.* FROM documents, LATERAL ngrams(text, 2) n``. Built-in
    explode+transform covers this exact case faster (see operators/
    dedup.shingles) — the UDTF exists to expose the table-function surface
    the reference's SQL dialect offers.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="ngram: string, pos: int")
    class NGrams:
        def eval(self, text: str, n: int = 2):
            if not text:
                return
            toks = text.split(" ")
            for i in range(max(0, len(toks) - n + 1)):
                yield " ".join(toks[i : i + n]), i

    return NGrams


def grouped_demean(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Example ``applyInPandas`` grouped-map shape: subtract the group mean.

    (Also expressible with a window — the point is the signature: one
    pandas DataFrame per group in, one out, schema declared up front.)
    """

    def demean(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        pdf[value_col + "_demeaned"] = pdf[value_col] - pdf[value_col].mean()
        return pdf

    # Fresh StructType: StructType.add mutates in place, and df.schema is a
    # cached reference — never .add() onto it.
    from pyspark.sql.types import StructField, StructType

    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(value_col + "_demeaned", DoubleType(), True)]
    )
    return df.groupBy(group_col).applyInPandas(demean, schema=out_schema)
