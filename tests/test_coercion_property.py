"""Property-based parity: the coercion expressions must agree with the
reference's Python semantics (``int()``/``float()``/``strptime`` per
fix_csv_row, reference load_csv/main.py:109-131) on arbitrary cell text.

Strategy: generate adversarial cell strings, compute the reference's
expected value in pure Python, run the Catalyst expressions over the whole
batch at once, compare row-for-row.
"""

from __future__ import annotations

import math
import random
import re
from datetime import datetime, timedelta

import pandas as pd
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_workflows_spark.operators.coerce import (
    TIMESTAMP_FORMATS,
    safe_float,
    safe_int,
    safe_timestamp,
)

# Mix of structured near-misses and raw text; the weird corners that
# motivated the regex guards are always included via examples below.
_cell = st.one_of(
    st.integers(-(10**12), 10**12).map(str),
    st.floats(allow_nan=True, allow_infinity=True, width=64).map(repr),
    st.sampled_from(
        [
            "12.5", " 12 ", "+7", "-0", "1e3", "1E-2", ".5", "5.", "inf",
            "-inf", "Infinity", "nan", "NaN", "-nan", "", " ", "abc",
            "12abc", "0x1A", "1_000", "12.0.1", "--5", "+-3", "1 2",
            "2021-06-12", "2021-6-1", "12/06/2021", "20210612",
            "2021-06-12 08:30:00", "junk", "\xa012\xa0", "\t7\n",
            "99999999999999999999",
        ]
    ),
    st.text(
        alphabet="0123456789.,-+eE infatyINF/:_ ", min_size=0, max_size=16
    ),
)

_PY_DATE_FORMATS = ["%Y-%m-%d %H:%M:%S", "%Y-%m-%d", "%d/%m/%Y", "%Y%m%d"]


def _cells_df(spark, cells: list[str]):
    # from pandas: an Arrow-backed local relation, no Python worker per job
    return spark.createDataFrame(pd.DataFrame({"c": cells}))


def _py_int(cell: str):
    # values outside the INT64 range cannot land in a BIGINT column:
    # they are expected to be NULL, like any other unparseable cell
    try:
        v = int(cell)
    except Exception:
        return None
    return v if -(2**63) <= v < 2**63 else None


def _py_float(cell: str):
    try:
        return float(cell)
    except Exception:
        return None


def _py_ts(cell: str):
    for fmt in _PY_DATE_FORMATS:
        try:
            return datetime.strptime(cell, fmt)
        except Exception:
            continue
    return None


def _eq(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    return a == b


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cells=st.lists(_cell, min_size=1, max_size=60))
@example(cells=["99999999999999999999", "-99999999999999999999", "-nan"])
def test_int_float_parity_with_python(spark, cells):
    df = _cells_df(spark, cells)
    got = df.select(
        safe_int(F.col("c")).alias("i"), safe_float(F.col("c")).alias("f")
    ).collect()
    for cell, row in zip(cells, got):
        expected_i = _py_int(cell)
        # Known documented divergence: Python int()/float() accept numeric
        # underscores ("1_000"); the wire format (and BigQuery) do not.
        if "_" in cell:
            continue
        assert _eq(row["i"], expected_i), f"int({cell!r}): {row['i']} != {expected_i}"
        assert _eq(row["f"], _py_float(cell)), (
            f"float({cell!r}): {row['f']} != {_py_float(cell)}"
        )


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cells=st.lists(
        st.one_of(
            st.datetimes(
                min_value=datetime(1900, 1, 1), max_value=datetime(2100, 1, 1)
            ).map(lambda d: d.strftime("%Y-%m-%d %H:%M:%S")),
            # years < 1000 strftime to <4 digits, where strptime's
            # backtracking re-segments compact strings ('9990101' ->
            # 9990-10-01) — a lax-parse corner Spark's fixed-width pattern
            # intentionally doesn't replicate; real wire data is 4-digit.
            *[
                st.dates(min_value=datetime(1000, 1, 1).date()).map(
                    lambda d, f=f: d.strftime(f)
                )
                for f in ["%Y-%m-%d", "%d/%m/%Y", "%Y%m%d"]
            ],
            st.sampled_from(["junk", "2021-13-01", "32/01/2021", "", "2021-6-1"]),
        ),
        min_size=1,
        max_size=40,
    )
)
# Spark's lax single-letter fields take 3+ digits where strptime does not
@example(cells=["001/06/2021", "2021-006-12", "2021-06-12 008:30:00"])
# unpadded and compact layouts strptime accepts keep parsing
@example(cells=["2021-6-1 7:5:3", "1/6/2021", "20210612"])
def test_timestamp_parity_with_strptime(spark, cells):
    df = _cells_df(spark, cells)
    got = df.select(safe_timestamp(F.col("c")).alias("t")).collect()
    for cell, row in zip(cells, got):
        expected = _py_ts(cell)
        assert _eq(row["t"], expected), f"ts({cell!r}): {row['t']} != {expected}"


def _gen_like_timestamps(seed: int) -> list[str]:
    """Cells shaped like the benchmark export's TIMESTAMP column: all four
    declared formats (some non-zero-padded) and the dirty spellings."""
    rng = random.Random(seed)
    out = ["", "?", "not a date", "2021/06/12", "12-06-2021", "yesterday"]
    for _ in range(400):
        t = datetime(2019, 1, 1) + timedelta(seconds=rng.randrange(3 * 365 * 86400))
        kind = rng.randrange(4)
        if kind == 0:
            out.append(
                f"{t.year}-{t.month}-{t.day} {t.hour}:{t.minute}:{t.second}"
                if rng.random() < 0.3
                else t.strftime("%Y-%m-%d %H:%M:%S")
            )
        else:
            out.append(t.strftime(["%Y-%m-%d", "%d/%m/%Y", "%Y%m%d"][kind - 1]))
    return out


def _zero_padded(cell: str) -> list[str]:
    """The cell with one extra leading zero on each numeric field in turn
    (``2021-06-12`` → ``02021-06-12``, ``2021-006-12``, ``2021-06-012``)."""
    runs = [m.span() for m in re.finditer("[0-9]+", cell)]
    return [cell[:a] + "0" + cell[a:] for a, _ in runs]


def test_shape_guard_only_moves_cells_to_strptime(spark):
    """The guarded parse differs from the bare first-match parse only
    where the guarded result is strptime's."""
    clean = _gen_like_timestamps(7)
    cells = clean + [p for c in clean[6:40] for p in _zero_padded(c)]
    df = _cells_df(spark, cells)
    bare = F.coalesce(
        *[F.try_to_timestamp(F.col("c"), F.lit(f)) for f in TIMESTAMP_FORMATS]
    )
    got = df.select(
        safe_timestamp(F.col("c")).alias("guarded"), bare.alias("bare")
    ).collect()
    moved = []
    for cell, row in zip(cells, got):
        if not _eq(row["guarded"], row["bare"]):
            assert _eq(row["guarded"], _py_ts(cell)), cell
            moved.append(cell)
    # only zero-padded cells move, and the clean pool parses exactly
    assert moved and not set(moved) & set(clean)
    assert all(_eq(g["guarded"], _py_ts(c)) for c, g in zip(clean, got))


def test_format_order_is_declared_order():
    assert TIMESTAMP_FORMATS == ["yyyy-M-d H:m:s", "yyyy-M-d", "d/M/yyyy", "yyyyMMdd"]
