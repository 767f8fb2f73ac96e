"""The Catalyst CSV tokenizer against the reference dialect, and the
ingest path's plan: no Python stage anywhere between file and table.

The oracle is what the reference runs (load_csv/main.py:93): a
line-at-a-time ``csv.reader`` with ``delimiter=';'``, ``QUOTE_NONE`` and
``escapechar='\\'``, keeping the rows of the declared arity.
"""

from __future__ import annotations

import csv
import uuid

import pandas as pd
import yaml
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql.streaming import DataStreamWriter

from etl_workflows_spark.operators.coerce import coerce_columns
from etl_workflows_spark.schema.registry import parse_schema_doc
from etl_workflows_spark.sources.csv_source import (
    read_lines,
    read_raw_csv,
    read_raw_csv_audited,
    tokenize_lines,
)
from etl_workflows_spark.streaming.incremental import incremental_csv_load

# the dialect's own characters plus what ISO-8859-1 data carries and
# regexes trip on: NEL (\x85, a Java line terminator), NUL, quotes that
# QUOTE_NONE must ignore, a non-ASCII letter, a separator control, NBSP
_ALPHABET = "a;\\ \t\x85\x00\"'\xe9\x1c\xa0"
_line = st.text(alphabet=_ALPHABET, max_size=12)

_PYTHON_NODES = ("MapInPandas", "PythonUDF", "ArrowEvalPython", "BatchEvalPython")


def _reference_rows(line: str) -> list[str]:
    return next(
        csv.reader([line], delimiter=";", quoting=csv.QUOTE_NONE, escapechar="\\"),
        [],
    )


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lines=st.lists(_line, min_size=1, max_size=80),
    n_fields=st.integers(1, 4),
)
# a leading ';', an escaped backslash before a ';', an escaped ';', a
# dangling '\', a trailing escaped backslash
@example(
    lines=[";", ";a", "\\\\;", "a\\;b", "a\\;b;c", "a;\\", "a\\\\;\\\\", "x;a\\\x85"],
    n_fields=2,
)
@example(lines=["", " ", "\x00", "a\\", "\\", "a\\\\", "a\\\\\\"], n_fields=1)
def test_tokenizer_matches_csv_reader(spark, lines, n_fields):
    # from pandas: an Arrow-backed local relation, no Python worker per job
    df = spark.createDataFrame(pd.DataFrame({"line": lines}))
    got = [list(r) for r in tokenize_lines(df, n_fields).collect()]
    expected = [
        row for row in map(_reference_rows, lines) if len(row) == n_fields
    ]
    assert got == expected


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lines=st.lists(_line, min_size=1, max_size=30),
    n_fields=st.integers(1, 4),
)
@example(lines=["a;b", "a\\;b", "a;b;c", ";", "a\\"], n_fields=2)
def test_audited_sides_split_the_lines(spark, tmp_path, lines, n_fields):
    path = tmp_path / f"{uuid.uuid4().hex}.csv"
    path.write_bytes("\n".join(lines).encode("ISO-8859-1"))
    # the line scan decides what a line is (it skips blank ones); the
    # tokenizer must account for every line it yields
    scanned = [r["line"] for r in read_lines(spark, str(path), False).collect()]
    clean, rejects = read_raw_csv_audited(spark, str(path), n_fields, False)
    clean_rows = [list(r) for r in clean.collect()]
    reject_lines = [r["line"] for r in rejects.collect()]

    parsed = [(s, _reference_rows(s)) for s in scanned if s is not None]
    assert clean_rows == [row for _, row in parsed if len(row) == n_fields]
    assert reject_lines == [s for s, row in parsed if len(row) != n_fields]
    assert len(clean_rows) + len(reject_lines) == len(parsed)
    silent = read_raw_csv(spark, str(path), n_fields, False)
    assert [list(r) for r in silent.collect()] == clean_rows


_SCHEMA_YAML = (
    "fields:\n"
    "  - {name: s, type: STRING, mode: NULLABLE}\n"
    "  - {name: i, type: INTEGER, mode: NULLABLE}\n"
    "  - {name: f, type: FLOAT, mode: NULLABLE}\n"
    "  - {name: t, type: TIMESTAMP, mode: NULLABLE}\n"
)
_DIRTY = "s;i;f;t\nx;1;1.5;2021-06-12\ny\\;z;2;x;junk\nw;12.5;inf;1/6/2021\nshort;1\n"


def _python_nodes(plan: str) -> list[str]:
    return [node for node in _PYTHON_NODES if node in plan]


def test_batch_ingest_plan_has_no_python(spark, tmp_path):
    path = tmp_path / "dirty.csv"
    path.write_text(_DIRTY, encoding="ISO-8859-1")
    doc = parse_schema_doc(yaml.safe_load(_SCHEMA_YAML))
    out = coerce_columns(read_raw_csv(spark, str(path), 4), doc)
    assert len(out.collect()) == 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FileScan csv" in plan
    assert _python_nodes(plan) == [], plan


def test_streaming_ingest_plan_has_no_python(spark, tmp_path, monkeypatch):
    src = tmp_path / "incoming"
    src.mkdir()
    (src / "d1.csv").write_text(_DIRTY, encoding="ISO-8859-1")
    schema = tmp_path / "s.yaml"
    schema.write_text(_SCHEMA_YAML)

    started = []
    to_table = DataStreamWriter.toTable

    def capture(self, *args, **kwargs):
        started.append(to_table(self, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "toTable", capture)
    spark.sql("CREATE DATABASE IF NOT EXISTS stream")
    spark.sql("DROP TABLE IF EXISTS stream.no_python")
    incremental_csv_load(
        spark, str(src), str(schema), str(tmp_path / "ckpt"), "stream.no_python"
    )
    rows = sorted(spark.table("stream.no_python").collect())
    assert [r["s"] for r in rows] == ["w", "x", "y;z"]

    [query] = started
    plan = query._jsq.explainInternal(False)
    assert "FileScan csv" in plan or "Scan csv" in plan, plan
    assert _python_nodes(plan) == [], plan
