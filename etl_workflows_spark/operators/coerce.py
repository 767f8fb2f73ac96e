"""Per-cell safe type coercion — pure Catalyst expressions, no Python UDFs.

Replicates the reference cleaner ``fix_csv_row`` (functions/load_csv/
main.py:109-131) + the downstream load's parse, as one in-engine step:

* INTEGER: cell coerces iff Python ``int(cell)`` would succeed — i.e. an
  optionally-signed all-digit string, surrounding whitespace allowed.
  ``int("12.5")`` FAILS (→ NULL); Spark's plain ``try_cast('12.5' AS
  BIGINT)`` would truncate to 12, so we regex-guard (main.py:111-115).
  A guarded literal outside the INT64 range is NULL (``try_cast``), under
  ANSI mode or not — one such cell never aborts the load.
* FLOAT: cell coerces iff Python ``float(cell)`` would succeed. That
  includes scientific notation, ``inf``/``Infinity``/``nan`` in any case
  with optional sign (main.py:116-120). One case-insensitive guard admits
  exactly those spellings; Spark's ``try_cast`` to double parses all of
  them (``inf``, ``-INFINITY``, ``+NaN``) except ``-nan``, which the
  ``coalesce`` maps to NaN.
* TIMESTAMP: try formats in declared order, first match wins; no match →
  NULL (main.py:121-130). Formats (main.py:30-35, strptime → Spark pattern,
  single-letter fields because strptime accepts non-zero-padded components):

      %Y-%m-%d %H:%M:%S  →  yyyy-M-d H:m:s
      %Y-%m-%d           →  yyyy-M-d
      %d/%m/%Y           →  d/M/yyyy     (day-first!)
      %Y%m%d             →  yyyyMMdd

  Each format is guarded by a digit-shape regex (``TIMESTAMP_SHAPES``),
  for two reasons. Spark's single-letter fields are laxer than strptime:
  they take any number of digits, so ``2021-006-12``, ``001/06/2021`` and
  ``2021-06-12 008:30:00`` parse where strptime refuses them (1-2 digits
  for %m/%d/%H/%M/%S, exactly 4 for %Y). And a failed parse is a thrown
  and caught ``DateTimeParseException`` inside the JVM; the shape check
  costs a fraction of that, and a cell that passes it almost always
  parses. Shapes keep only layouts both parsers accept; strptime's
  space-padded day (``2021-06- 5``), ``\\s+`` date/time separator and
  6-7 digit compact dates (``2021612``) never parse in Spark, with or
  without the guard.

* STRING: identity — the reference has no STRING branch, empty string
  stays ``''`` (main.py:109-131, SURVEY.md T5/T6).

Every branch compiles to built-in expressions (``rlike``/``try_cast``/
``try_to_timestamp``/``coalesce``), so coercion stays inside whole-stage
codegen and scales linearly with executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Whitespace Python's int()/float() strip at the edges, restricted to what
# ISO-8859-1 wire data can actually carry: ASCII whitespace + NBSP (\xa0).
# Known unreachable divergence: Python also accepts Unicode decimal digits
# (int('١٢') == 12) and exotic Unicode spaces — none of which
# exist in ISO-8859-1, the pipeline's declared encoding (S6).
# Deliberate divergence: underscore-grouped literals ('1_000'). Python's
# int() accepts them, but the reference passes the raw cell to BigQuery,
# whose CSV loader rejects it — i.e. the reference's END-TO-END behavior
# is a failed load job, not 1000. NULLing the cell (like every other
# unparseable value) is the robust reading of that contract.
# every char Python's int()/float() edge-strip (str.isspace()) that is
# representable in ISO-8859-1: ASCII whitespace, the \x1c-\x1f separator
# controls, NEL (\x85), NBSP (\xa0) — omitting any of them NULLs a cell
# the reference parses
_WS_CHARS = " \t\r\n\x0b\x0c\x1c\x1d\x1e\x1f\x85\xa0"
# After edge-stripping: optional sign, digits.
_INT_RE = r"^[+-]?[0-9]+$"
# After edge-stripping: sign, then decimal/scientific ("1", "1.", ".5",
# "1e3", "1.2E-4") or inf/infinity/nan, in any case.
_FLOAT_RE = r"(?i)^[+-]?(([0-9]+(\.[0-9]*)?|\.[0-9]+)(e[+-]?[0-9]+)?|inf|infinity|nan)$"

# Declared order matters: first matching format wins (main.py:123-129).
TIMESTAMP_FORMATS = ["yyyy-M-d H:m:s", "yyyy-M-d", "d/M/yyyy", "yyyyMMdd"]
# The digit layout each format's strptime twin accepts (less the layouts
# Spark never parses, see above), in the same order; \z, not $: '$' also
# matches before a trailing line terminator (NEL).
_D12 = "[0-9]{1,2}"
TIMESTAMP_SHAPES = [
    rf"^[0-9]{{4}}-{_D12}-{_D12} {_D12}:{_D12}:{_D12}\z",
    rf"^[0-9]{{4}}-{_D12}-{_D12}\z",
    rf"^{_D12}/{_D12}/[0-9]{{4}}\z",
    r"^[0-9]{8}\z",
]


def _stripped(c: Column) -> Column:
    """Edge-strip exactly the whitespace Python's parsers strip."""
    return F.btrim(c, F.lit(_WS_CHARS))


def safe_int(c: Column) -> Column:
    """NULL unless the cell is an integer literal by Python ``int`` rules."""
    s = _stripped(c)
    return F.when(s.rlike(_INT_RE), s.try_cast("long"))


def safe_float(c: Column) -> Column:
    """NULL unless the cell is a float literal by Python ``float`` rules."""
    s = _stripped(c)
    return F.when(
        s.rlike(_FLOAT_RE),
        F.coalesce(s.try_cast("double"), F.lit(float("nan"))),
    )


def safe_timestamp(c: Column) -> Column:
    """First-match-wins multi-format parse; NULL when no format matches.
    A format is only tried on a cell of its shape."""
    return F.coalesce(
        *[
            F.when(c.rlike(shape), F.try_to_timestamp(c, F.lit(fmt)))
            for shape, fmt in zip(TIMESTAMP_SHAPES, TIMESTAMP_FORMATS)
        ]
    )


def coercion_expr(c: Column, bq_type: str) -> Column:
    t = bq_type.upper()
    if t in ("INTEGER", "INT64"):
        return safe_int(c)
    if t in ("FLOAT", "FLOAT64"):
        return safe_float(c)
    if t in ("TIMESTAMP", "DATETIME"):
        return safe_timestamp(c)
    if t == "DATE":
        return safe_timestamp(c).cast("date")
    if t in ("BOOLEAN", "BOOL"):
        return F.trim(c).try_cast("boolean")
    # STRING and everything else: verbatim passthrough (T5).
    return c


def coerce_columns(df: DataFrame, schema_doc: dict) -> DataFrame:
    """Bind positional raw columns ``c0..cN`` to the declared fields and
    coerce each by its declared type. Output column names/order come from
    the schema document (positional binding, SURVEY.md §1.3)."""
    fields = schema_doc["fields"]
    return df.select(
        *[
            coercion_expr(F.col(f"c{i}"), fields[i]["type"]).alias(fields[i]["name"])
            for i in range(len(fields))
        ]
    )
