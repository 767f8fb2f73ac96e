"""Raw CSV reader replicating the reference's wire format and row discipline.

Wire format (reference functions/load_csv/main.py:23,92-96):
  * delimiter ``;``
  * NO quoting (``csv.QUOTE_NONE``) with backslash escape
  * encoding ISO-8859-1
  * transparent gzip by ``.gz`` extension
  * optional header line, which is *discarded* — column binding is purely
    positional against the declared schema order (SURVEY.md §1.3)

Row discipline (main.py:101-103): a row whose field count differs from the
declared schema's field count is silently dropped; surviving rows keep every
cell as a raw string for expression-level coercion (operators/coerce.py).

Two stages, both on the JVM:

1. **Line scan** — Spark's CSV reader with a separator byte that never
   occurs in text data (``\\x01``), so each physical line arrives as one
   string column. This keeps gzip decompression, ISO-8859-1 decoding,
   per-file header skipping, file-glob parallelism, and line-level split
   parallelism on the JVM fast path.
2. **Tokenize (Catalyst expressions)** — ``tokenize_lines`` splits each
   line exactly as a line-at-a-time ``csv.reader`` with the reference
   dialect (``delimiter=';', QUOTE_NONE, escapechar='\\'``) does. Spark's
   univocity parser cannot express "unquoted empty token is an empty
   string but a *missing* token is an arity violation" — both parse to
   NULL — and the arity filter (field count != n → drop) is the
   reference's core row discipline. Lines without a backslash are a plain
   ``split``; lines with one go through one possessive regex that keeps
   ``\\x`` pairs inside a field, then an unescape. The arity comes from
   delimiter counts, never from the split array, so the filter pushed
   below the projection does not split every line twice.

Batch, audit and streaming ingestion all call ``tokenize_lines``, so the
dialect has one definition, and the whole CSV path stays inside
whole-stage codegen: no Python worker, no Arrow round trip.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ENCODING = "ISO-8859-1"
# Never appears in ISO-8859-1 text data → whole line parses as one token.
_LINE_SEP = "\x01"

# Tokenizer regexes. (?s) everywhere: without it '.' misses line
# terminators such as NEL (\x85), which ISO-8859-1 data carries; \z, not
# $, because '$' also matches before a trailing line terminator.

# an odd run of backslashes at the end of the line: csv.reader reads the
# dangling escape as an escaped '\n'
_DANGLING_ESCAPE = r"(?s)(?<!\\)(?:\\\\)*\\\z"
# one field and its terminating ';' (the caller appends a sentinel ';').
# A match always consumes a ';', so no empty match can make find() skip
# a leading empty field.
_FIELD = r"(?s)((?:[^;\\]|\\.)*+);"
_ESCAPED_CHAR = r"(?s)\\(.)"
# everything that is not an unescaped ';'
_NOT_A_SEPARATOR = r"(?s)\\.|[^;]"


LINE_SCHEMA = T.StructType([T.StructField("line", T.StringType(), True)])


def line_reader_options(skip_header: bool = True) -> dict[str, str]:
    """The line-scan reader options, shared by batch and streaming reads —
    one definition so the two paths can never drift."""
    return {
        "sep": _LINE_SEP,
        "quote": "",
        "escape": _LINE_SEP,  # neutralized: nothing on the wire matches
        "encoding": ENCODING,
        "header": str(skip_header).lower(),
        "enforceSchema": "true",
        "mode": "PERMISSIVE",
    }


def _arity(line: Column) -> Column:
    """The field count ``csv.reader`` gives ``line``, from its unescaped
    ``;`` count (an empty line is an empty row). Byte lengths: ``;`` is
    one byte, and ``octet_length`` does not walk the string as
    ``length`` does."""
    plain = F.octet_length(line) - F.octet_length(
        F.replace(line, F.lit(";"), F.lit(""))
    )
    escaped = F.octet_length(F.regexp_replace(line, _NOT_A_SEPARATOR, ""))
    return (
        F.when(line == "", 0)
        .when(line.contains("\\"), escaped + 1)
        .otherwise(plain + 1)
    )


def _fields(line: Column) -> Column:
    """``line``'s fields as an array, by the reference dialect; the fields
    of a line with a backslash still hold their ``\\x`` escape pairs."""
    closed = F.when(
        line.rlike(_DANGLING_ESCAPE), F.concat(line, F.lit("\n"))
    ).otherwise(line)
    escaped = F.regexp_extract_all(F.concat(closed, F.lit(";")), F.lit(_FIELD), 1)
    return F.when(line.contains("\\"), escaped).otherwise(F.split(line, ";", -1))


def tokenize_lines(lines: DataFrame, n_fields: int) -> DataFrame:
    """``n_fields`` raw string columns ``c0..c{n-1}`` from the ``line``
    column, dropping lines whose field count differs from ``n_fields``
    (and NULL lines) — the single definition of the reference dialect
    (reference main.py:93) and arity filter (main.py:101-103)."""
    line = F.col("line")
    split = lines.filter(_arity(line) == n_fields).select(
        _fields(line).alias("fields"), line.contains("\\").alias("escaped")
    )
    # unescape per field rather than transform() over the array: a lambda
    # is not code-generated and would cut the stage in two
    return split.select(
        *[
            F.when(
                F.col("escaped"),
                F.regexp_replace(F.col("fields")[i], _ESCAPED_CHAR, "$1"),
            )
            .otherwise(F.col("fields")[i])
            .alias(f"c{i}")
            for i in range(n_fields)
        ]
    )


def read_raw_csv_audited(
    spark: SparkSession,
    path: str,
    n_fields: int,
    skip_header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """(clean, rejects): clean equals ``read_raw_csv``'s output exactly;
    rejects is one ``line`` column of the arity-violating raw lines. The
    reference's contract is the silent drop (main.py:101-103) and
    ``read_raw_csv`` preserves it; this answers what the silent drop
    cannot — WHAT was dropped, and did the rate spike. Both sides derive
    from one line scan — persist it upstream if both will be consumed, or
    accept the double scan."""
    lines = read_lines(spark, path, skip_header=skip_header)
    rejects = lines.filter(_arity(F.col("line")) != n_fields)
    return tokenize_lines(lines, n_fields), rejects


def read_lines(
    spark: SparkSession, path: str, skip_header: bool = True
) -> DataFrame:
    """Read physical lines of ``path`` (or glob) as a one-column DataFrame.

    Uses the CSV datasource (not ``text``) because only it supports
    ``encoding`` and per-file header skipping.
    """
    return spark.read.schema(LINE_SCHEMA).options(
        **line_reader_options(skip_header)
    ).csv(path)


def read_raw_csv(
    spark: SparkSession,
    path: str,
    n_fields: int,
    skip_header: bool = True,
) -> DataFrame:
    """Read ``path`` as ``n_fields`` raw string columns ``c0..c{n-1}``,
    dropping rows whose token count differs from ``n_fields``."""
    return tokenize_lines(read_lines(spark, path, skip_header=skip_header), n_fields)
