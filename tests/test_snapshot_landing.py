"""One landing path and one manifest rule for every snapshot write
(sinks/snapshots.py): WAP publishes get the same append schema guard and
Bloom entries as ``commit``, and Bloom entries of an unrecorded hash
scheme never skip a file."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import Row

from etl_workflows_spark.sinks import snapshots as S


def _b(spark, rows, cols=("id", "tag")):
    return spark.createDataFrame(rows, list(cols)).coalesce(1)


def _planned_paths(out) -> int:
    plan = out._jdf.queryExecution().executedPlan().toString()
    loc = re.search(r"InMemoryFileIndex\((\d+) paths?\)", plan)
    return int(loc.group(1)) if loc else 0


def test_staged_append_schema_guard(spark, tmp_path):
    """A staged append that drops or retypes a head column is refused at
    publish: no version is published and the table stays readable."""
    d = str(tmp_path / "t")
    S.commit(_b(spark, [(1, "a")]), d)
    S.stage(spark.createDataFrame([(2,)], "id long").coalesce(1), d, "dropped")
    with pytest.raises(ValueError, match="drops column 'tag'"):
        S.publish_staged(d, "dropped")
    retyped = spark.createDataFrame([(2, 3)], "id long, tag long").coalesce(1)
    S.stage(retyped, d, "retyped")
    with pytest.raises(ValueError, match="changes column 'tag'"):
        S.publish_staged(d, "retyped")
    assert S.versions(d) == [1]
    assert S.read_snapshot(spark, d).collect() == [Row(id=1, tag="a")]
    # adding a column is still an allowed evolution
    wider = spark.createDataFrame([(3, "c", 1.5)], "id long, tag string, w double")
    S.stage(wider.coalesce(1), d, "wider")
    assert S.publish_staged(d, "wider") == 2
    rows = {r["id"]: (r["tag"], r["w"]) for r in S.read_snapshot(spark, d).collect()}
    assert rows == {1: ("a", None), 3: ("c", 1.5)}


def test_staged_append_gets_head_bloom_entries(spark, tmp_path):
    """Staging into a Bloom-indexed table builds Bloom entries under the
    head's conf, so an equality lookup skips the staged file when its
    Bloom excludes the value."""
    d = str(tmp_path / "t")
    S.commit(_b(spark, [(i, f"a{i}") for i in range(20)]), d, bloom_cols=["tag"])
    S.stage(_b(spark, [(100 + i, f"b{i}") for i in range(20)]), d, "b")
    v = S.publish_staged(d, "b")
    m = S._load_manifest(d, v)
    assert len(m["files"]) == 2
    for f in m["files"]:
        entry = m["blooms"][f]["tag"]
        assert (entry["scheme"], entry["m"], entry["k"]) == ("md5", 1024, 3)
    head_hit = S.read_snapshot(spark, d, equals={"tag": "a3"})
    assert [r["id"] for r in head_hit.collect()] == [3]
    assert _planned_paths(head_hit) == 1
    staged_hit = S.read_snapshot(spark, d, equals={"tag": "b7"})
    assert [r["id"] for r in staged_hit.collect()] == [107]
    assert _planned_paths(staged_hit) == 1


def test_bloom_entry_without_scheme_never_skips(spark, tmp_path):
    """Entries written before Blooms recorded their hash scheme cannot
    be probed: they must keep every file, whatever their bits say."""
    d = str(tmp_path / "t")
    S.commit(_b(spark, [(1, "x"), (2, "y")]), d, bloom_cols=["tag"])
    S.commit(_b(spark, [(3, "z")]), d, bloom_cols=["tag"])
    p = os.path.join(d, "_snapshots", "v00000002.json")
    with open(p) as f:
        m = json.load(f)
    for per_file in m["blooms"].values():
        per_file["tag"] = {"m": 1024, "k": 3, "bits": [0]}
    with open(p, "w") as f:
        json.dump(m, f)
    out = S.read_snapshot(spark, d, equals={"tag": "y"})
    assert [r["id"] for r in out.collect()] == [2]
    assert _planned_paths(out) == 2
    assert S.read_snapshot(spark, d, equals={"tag": "none"}).count() == 0


def test_commit_without_bloom_cols_keeps_head_conf(spark, tmp_path):
    """A commit naming no bloom_cols indexes its files under the head's
    Bloom conf; an overwrite that drops the column just stops indexing."""
    d = str(tmp_path / "t")
    S.commit(_b(spark, [(1, "x")]), d, bloom_cols=["tag"], bloom_bits=2048)
    v = S.commit(_b(spark, [(2, "y")]), d)
    m = S._load_manifest(d, v)
    assert [m["blooms"][f]["tag"]["m"] for f in m["files"]] == [2048, 2048]
    out = S.read_snapshot(spark, d, equals={"tag": "y"})
    assert out.count() == 1 and _planned_paths(out) == 1
    v = S.commit(spark.range(3).coalesce(1), d, mode="overwrite")
    m = S._load_manifest(d, v)
    assert all(not b for b in m["blooms"].values())
    assert S.read_snapshot(spark, d).count() == 3
