"""Snapshot-versioned tables (sinks/snapshots.py): atomic publish, time
travel, rollback, idempotent commit keys, vacuum."""

from __future__ import annotations

import json
import os

import pytest

from etl_workflows_spark.sinks import snapshots as S


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_append_and_time_travel(spark, tmp_path):
    d = str(tmp_path / "t")
    v1 = S.commit(_df(spark, 0, 5), d, mode="append")
    v2 = S.commit(_df(spark, 5, 8), d, mode="append")
    assert (v1, v2) == (1, 2)
    assert S.read_snapshot(spark, d).count() == 8
    assert S.read_snapshot(spark, d, version=1).count() == 5
    assert {r["id"] for r in S.read_snapshot(spark, d).collect()} == set(range(8))


def test_overwrite_keeps_history(spark, tmp_path):
    d = str(tmp_path / "t")
    S.commit(_df(spark, 0, 5), d)
    S.commit(_df(spark, 100, 102), d, mode="overwrite")
    assert S.read_snapshot(spark, d).count() == 2
    assert S.read_snapshot(spark, d, version=1).count() == 5


def test_rollback_is_append_only(spark, tmp_path):
    d = str(tmp_path / "t")
    S.commit(_df(spark, 0, 5), d)
    S.commit(_df(spark, 100, 102), d, mode="overwrite")
    v3 = S.rollback(d, 1)
    assert v3 == 3
    assert S.versions(d) == [1, 2, 3]  # the bad snapshot stays auditable
    assert {r["id"] for r in S.read_snapshot(spark, d).collect()} == set(range(5))


def test_commit_key_is_idempotent(spark, tmp_path):
    d = str(tmp_path / "t")
    v1 = S.commit(_df(spark, 0, 5), d, commit_key="batch-7")
    v2 = S.commit(_df(spark, 0, 5), d, commit_key="batch-7")  # retry
    assert v1 == v2 == 1
    assert S.read_snapshot(spark, d).count() == 5
    v3 = S.commit(_df(spark, 5, 6), d, commit_key="batch-8")
    assert v3 == 2
    assert S.read_snapshot(spark, d).count() == 6


def test_concurrent_publish_chains_onto_winner(spark, tmp_path):
    """A competing writer publishes v2 between our parent read and our
    create: the commit must land as v3 CHAINED ON v2's files."""
    d = str(tmp_path / "t")
    S.commit(_df(spark, 0, 5), d)
    # competing writer: copy v1's manifest as a published v2
    m = json.load(open(os.path.join(d, "_snapshots", "v00000001.json")))
    m.update(version=2, parent=1)
    with open(os.path.join(d, "_snapshots", "v00000002.json"), "w") as f:
        json.dump(m, f)
    v = S.commit(_df(spark, 100, 103), d, mode="append")
    assert v == 3
    assert S.read_snapshot(spark, d).count() == 5 + 3


def test_lost_race_retries(spark, tmp_path, monkeypatch):
    d = str(tmp_path / "t")
    S.commit(_df(spark, 0, 5), d)
    real_open = os.open
    fails = {"n": 1}

    def flaky_open(path, flags, *a, **kw):
        if "_snapshots" in str(path) and os.O_EXCL & flags and fails["n"]:
            fails["n"] -= 1
            raise FileExistsError(path)
        return real_open(path, flags, *a, **kw)

    monkeypatch.setattr(S.os, "open", flaky_open)
    assert S.commit(_df(spark, 5, 7), d) == 2
    assert S.read_snapshot(spark, d).count() == 7


def test_empty_commit_reads_back_typed(spark, tmp_path):
    d = str(tmp_path / "t")
    S.commit(_df(spark, 0, 0), d)
    out = S.read_snapshot(spark, d)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "v"]


def test_vacuum_drops_dead_files_and_orphans(spark, tmp_path):
    d = str(tmp_path / "t")
    S.commit(_df(spark, 0, 5), d)
    S.commit(_df(spark, 100, 102), d, mode="overwrite")
    # orphan from a crashed commit: written to data/ but never published
    orphan = os.path.join(d, "data", "deadbeef-part-orphan.parquet")
    open(orphan, "wb").close()
    deleted = S.vacuum(d, keep_last=1, min_age_seconds=0)
    assert "data/deadbeef-part-orphan.parquet" in deleted
    assert len(deleted) >= 2  # v1's file(s) + the orphan
    assert S.read_snapshot(spark, d).count() == 2
    assert S.versions(d) == [2]
    with pytest.raises(ValueError):
        S.read_snapshot(spark, d, version=1)


def test_diff_snapshots_incremental_read(spark, tmp_path):
    d = str(tmp_path / "t")
    S.commit(_df(spark, 0, 5), d)
    S.commit(_df(spark, 5, 8), d)
    S.commit(_df(spark, 8, 10), d)
    delta = S.diff_snapshots(spark, d, 1)  # v1 -> latest
    assert {r["id"] for r in delta.collect()} == set(range(5, 10))
    assert S.diff_snapshots(spark, d, 2, 3).count() == 2
    assert S.diff_snapshots(spark, d, 3, 3).count() == 0  # typed empty
    S.commit(_df(spark, 0, 1), d, mode="overwrite")
    with pytest.raises(ValueError, match="not append-only"):
        S.diff_snapshots(spark, d, 1)


def test_stream_to_snapshots_exactly_once(spark, tmp_path):
    """foreachBatch + commit_key: one snapshot per micro-batch, and a
    re-delivered batch id (fresh checkpoint, same query name) publishes
    NOTHING — the at-least-once stream becomes exactly-once at the table."""
    from etl_workflows_spark.streaming.incremental import stream_to_snapshots

    src = tmp_path / "src"
    src.mkdir()
    d = str(tmp_path / "t")
    chk = str(tmp_path / "chk")

    def run(checkpoint):
        stream = spark.readStream.schema("k bigint, v string").parquet(str(src))
        stream_to_snapshots(stream, d, checkpoint)

    spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]).coalesce(
        1
    ).write.mode("append").parquet(str(src))
    run(chk)
    assert S.versions(d) == [1]
    assert S.read_snapshot(spark, d).count() == 2

    spark.createDataFrame([(3, "c"), (4, "d")], ["k", "v"]).coalesce(
        1
    ).write.mode("append").parquet(str(src))
    run(chk)
    assert S.versions(d) == [1, 2]
    assert S.read_snapshot(spark, d).count() == 4

    # no new input: zero batches, zero snapshots
    run(chk)
    assert S.versions(d) == [1, 2]

    # crash-replay: a fresh checkpoint re-delivers batch 0 over the whole
    # source — its commit_key is already published, so nothing lands
    run(str(tmp_path / "chk2"))
    assert S.versions(d) == [1, 2]
    assert S.read_snapshot(spark, d).count() == 4


def _batch(spark, lo, hi):
    return (
        spark.range(lo, hi).selectExpr("id", "id * 2 AS v").coalesce(1)
    )


def test_merge_rewrites_only_overlapping_files(spark, tmp_path):
    """COW MERGE prunes off manifest stats: three disjoint-range files,
    an upsert hitting the middle range rewrites exactly one of them."""
    d = str(tmp_path / "t")
    for lo in (0, 100, 200):
        S.commit(_batch(spark, lo, lo + 100), d, stat_cols=["id"])
    src = spark.createDataFrame(
        [(i, -1) for i in range(150, 161)] + [(1000, -1)], ["id", "v"]
    )
    res = S.merge_into_snapshot(spark, src, d, ["id"])
    assert res["files_rewritten"] == 1, res
    assert res["files_total"] == 3
    assert res["matched"] == 11 and res["inserted"] == 1
    out = S.read_snapshot(spark, d)
    assert out.count() == 301
    got = {r["id"]: r["v"] for r in out.filter("id IN (150, 99, 1000)").collect()}
    assert got == {150: -1, 99: 198, 1000: -1}
    # pre-merge snapshot still readable with pre-merge values
    old = S.read_snapshot(spark, d, version=3)
    assert old.count() == 300
    assert old.filter("id = 150").collect()[0]["v"] == 300


def test_merge_pure_insert_reads_no_files(spark, tmp_path):
    d = str(tmp_path / "t")
    S.commit(_batch(spark, 0, 100), d, stat_cols=["id"])
    src = spark.createDataFrame([(500, 1), (501, 2)], ["id", "v"])
    res = S.merge_into_snapshot(spark, src, d, ["id"])
    assert res["files_rewritten"] == 0
    assert res["matched"] == 0 and res["inserted"] == 2
    assert S.read_snapshot(spark, d).count() == 102


def test_merge_without_stats_is_conservative(spark, tmp_path):
    """Files committed with no stat_cols can't be excluded — MERGE must
    treat them all as affected and still produce exact results."""
    d = str(tmp_path / "t")
    S.commit(_batch(spark, 0, 100), d)  # no stats
    src = spark.createDataFrame([(5, -1)], ["id", "v"])
    res = S.merge_into_snapshot(spark, src, d, ["id"])
    assert res["files_rewritten"] == 1  # the one (statless) file
    out = S.read_snapshot(spark, d)
    assert out.count() == 100
    assert out.filter("id = 5").collect()[0]["v"] == -1


def test_merge_rejects_ambiguous_source(spark, tmp_path):
    d = str(tmp_path / "t")
    S.commit(_batch(spark, 0, 10), d, stat_cols=["id"])
    src = spark.createDataFrame([(1, 1), (1, 2)], ["id", "v"])
    with pytest.raises(ValueError, match="multiple rows per merge key"):
        S.merge_into_snapshot(spark, src, d, ["id"])


def test_read_snapshot_pruned(spark, tmp_path):
    """predicates= skips files by manifest stats before planning the scan
    (exactly like a partition-pruned read) and still filters rows exactly."""
    d = str(tmp_path / "t")
    for lo in (0, 100, 200):
        S.commit(_batch(spark, lo, lo + 100), d, stat_cols=["id"])
    out = S.read_snapshot(spark, d, predicates={"id": (150, 160)})
    assert out.count() == 11
    # the scan must touch only the one surviving file
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    locs = re.findall(r"InMemoryFileIndex\((\d+) paths?\)", plan)
    assert locs and int(locs[0]) == 1, plan
    # out-of-range predicate: zero files, still typed
    empty = S.read_snapshot(spark, d, predicates={"id": (9000, 9999)})
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["id", "v"]


def test_as_of_timestamp_and_retention(spark, tmp_path):
    import json as _json
    import os as _os
    import time as _time

    d = str(tmp_path / "t")
    S.commit(_df(spark, 0, 3), d)
    S.commit(_df(spark, 3, 5), d)
    S.commit(_df(spark, 100, 101), d, mode="overwrite")

    def _set_age(v, age_s):
        p = _os.path.join(d, "_snapshots", f"v{v:08d}.json")
        m = _json.load(open(p))
        m["created_at"] = _time.time() - age_s
        _json.dump(m, open(p, "w"))

    _set_age(1, 3600)
    _set_age(2, 1800)  # v3 stays fresh
    # AS OF between v1 and v2
    assert S.read_snapshot(spark, d, as_of=_time.time() - 2000).count() == 3
    assert S.read_snapshot(spark, d, as_of=_time.time() - 100).count() == 5
    assert S.read_snapshot(spark, d, as_of=_time.time()).count() == 1
    with pytest.raises(ValueError, match="existed at"):
        S.read_snapshot(spark, d, as_of=_time.time() - 7200)
    with pytest.raises(ValueError, match="not both"):
        S.read_snapshot(spark, d, version=1, as_of=0)
    # retention: 1h window keeps v2+v3; v1's manifest goes
    S.vacuum_expired(d, retain_seconds=3000, min_age_seconds=0)
    assert S.versions(d) == [2, 3]
    assert S.read_snapshot(spark, d, version=2).count() == 5
    # tiny window: head only survives
    S.vacuum_expired(d, retain_seconds=0.0, min_age_seconds=0)
    assert S.versions(d) == [3]
    assert S.read_snapshot(spark, d).count() == 1


def _planned_paths(out):
    import re

    plan = out._jdf.queryExecution().executedPlan().toString()
    loc = re.search(r"InMemoryFileIndex\((\d+) paths?\)", plan)
    return int(loc.group(1)) if loc else 0


def test_bloom_pruned_point_lookup(spark, tmp_path):
    """equals= skips files whose manifest Bloom excludes the value — the
    point-lookup tool for unordered columns where min/max can't help.
    Each batch gets interleaved ids (every file's range spans the whole
    domain) but disjoint tag values."""
    d = str(tmp_path / "t")
    for part in range(3):
        rows = [
            (part + 3 * j, f"tag_{part}_{j}") for j in range(40)
        ]  # interleaved ids: range pruning useless by construction
        S.commit(
            spark.createDataFrame(rows, ["id", "tag"]).coalesce(1),
            d,
            stat_cols=["id"],
            bloom_cols=["tag"],
        )
    # ranges overlap totally: a range predicate on id prunes nothing
    assert _planned_paths(
        S.read_snapshot(spark, d, predicates={"id": (50, 52)})
    ) == 3
    # the Bloom prunes the tag lookup to (almost surely) one file
    out = S.read_snapshot(spark, d, equals={"tag": "tag_1_7"})
    assert out.count() == 1
    assert out.collect()[0]["id"] == 1 + 3 * 7
    assert _planned_paths(out) <= 2  # 1 + possible false positive
    # absent value: every file excluded, still typed
    miss = S.read_snapshot(spark, d, equals={"tag": "tag_9_9"})
    assert miss.count() == 0
    assert [f.name for f in miss.schema.fields] == ["id", "tag"]


def test_bloom_survives_compact_and_merge(spark, tmp_path):
    d = str(tmp_path / "t")
    for part in range(3):
        rows = [(part + 3 * j, f"tag_{part}_{j}") for j in range(40)]
        S.commit(
            spark.createDataFrame(rows, ["id", "tag"]).coalesce(1),
            d,
            stat_cols=["id"],
            bloom_cols=["tag"],
        )
    # merge rewrites one region; blooms rebuilt for the new files
    src = spark.createDataFrame([(1, "tag_new")], ["id", "tag"])
    S.merge_into_snapshot(spark, src, d, ["id"])
    hit = S.read_snapshot(spark, d, equals={"tag": "tag_new"})
    assert hit.count() == 1
    assert _planned_paths(hit) <= 2
    # compaction regenerates blooms on the compacted layout
    S.compact_snapshot(spark, d, target_file_mb=1024)
    m = S._load_manifest(d, S.versions(d)[-1])
    assert m["blooms"] and all("tag" in b for b in m["blooms"].values())
    assert S.read_snapshot(spark, d, equals={"tag": "tag_new"}).count() == 1
    assert (
        S.read_snapshot(spark, d, equals={"tag": "tag_0_0"}).count() == 1
    )


def test_delete_from_snapshot(spark, tmp_path):
    d = str(tmp_path / "t")
    for lo in (0, 100, 200):
        S.commit(_batch(spark, lo, lo + 100), d, stat_cols=["id"])
    keys = spark.createDataFrame([(150,), (151,), (9999,)], ["id"])
    res = S.delete_from_snapshot(spark, keys, d, ["id"])
    assert res["deleted"] == 2 and res["files_rewritten"] == 1
    out = S.read_snapshot(spark, d)
    assert out.count() == 298
    assert out.filter("id IN (150, 151)").count() == 0
    # pre-delete version still readable (erasure completes at vacuum)
    assert S.read_snapshot(spark, d, version=3).count() == 300
    # no-overlap delete publishes nothing
    res2 = S.delete_from_snapshot(
        spark, spark.createDataFrame([(5000,)], ["id"]), d, ["id"]
    )
    assert res2["files_rewritten"] == 0 and res2["version"] == res["version"]


def test_append_schema_evolution_adds_nullable_column(spark, tmp_path):
    """Appending a frame with a NEW column evolves the table: old files
    read as null for it; time travel still returns the old shape."""
    d = str(tmp_path / "t")
    S.commit(_batch(spark, 0, 3), d)
    evolved = spark.range(3, 5).selectExpr(
        "id", "id * 2 AS v", "CAST(id AS STRING) AS tag"
    )
    S.commit(evolved.coalesce(1), d)
    out = S.read_snapshot(spark, d)
    assert [f.name for f in out.schema.fields] == ["id", "v", "tag"]
    rows = {r["id"]: r["tag"] for r in out.collect()}
    assert rows[0] is None and rows[4] == "4"
    assert [f.name for f in S.read_snapshot(spark, d, version=1).schema.fields] == [
        "id",
        "v",
    ]


def test_compact_snapshot(spark, tmp_path):
    d = str(tmp_path / "t")
    for lo in range(0, 50, 10):
        S.commit(_batch(spark, lo, lo + 10), d, stat_cols=["id"])
    assert len(S._load_manifest(d, 5)["files"]) == 5
    res = S.compact_snapshot(spark, d, target_file_mb=1024)
    assert res["files_before"] == 5 and res["files_after"] == 1
    assert S.read_snapshot(spark, d).count() == 50
    # stats regenerated on the compacted file: pruning still works
    src = spark.createDataFrame([(999, -1)], ["id", "v"])
    assert S.merge_into_snapshot(spark, src, d, ["id"])["files_rewritten"] == 0
    # old (pre-compaction) version still readable until vacuum
    assert S.read_snapshot(spark, d, version=5).count() == 50


def test_wap_stage_audit_publish(spark, tmp_path):
    """Write-Audit-Publish: staged data is invisible, the audit gate
    (operators/expectations.py) decides publish vs drop, and a dropped
    batch's files are vacuum-swept as if it never existed."""
    from etl_workflows_spark.operators.expectations import (
        Expectation,
        check_expectations,
        violations,
    )

    d = str(tmp_path / "t")
    S.commit(_batch(spark, 0, 10), d)

    # bad batch: negative ids violate the audit rule
    bad = spark.createDataFrame([(-1, 0), (11, 22)], ["id", "v"]).coalesce(1)
    S.stage(bad, d, "b1")
    assert S.read_snapshot(spark, d).count() == 10  # invisible while staged
    rules = [Expectation(name="ids_ok", kind="between", column="id", lo=0)]
    report = check_expectations(S.read_staged(spark, d, "b1"), rules)
    assert violations(report) == ["ids_ok"]
    S.drop_staged(d, "b1")
    swept = S.vacuum(d, keep_last=1, min_age_seconds=0)
    assert len(swept) >= 1  # the bad batch's file(s)
    assert S.read_snapshot(spark, d).count() == 10

    # good batch: audit passes, publish is a metadata flip
    good = _batch(spark, 10, 15)
    S.stage(good, d, "b2")
    assert not violations(
        check_expectations(S.read_staged(spark, d, "b2"), rules)
    )
    v = S.publish_staged(d, "b2")
    assert v == 2
    assert S.read_snapshot(spark, d).count() == 15
    with pytest.raises(ValueError, match="no staged batch"):
        S.read_staged(spark, d, "b2")  # marker consumed by publish


def test_wap_staged_files_survive_vacuum_until_dropped(spark, tmp_path):
    d = str(tmp_path / "t")
    S.commit(_batch(spark, 0, 5), d)
    S.stage(_batch(spark, 5, 8), d, "pending")
    assert S.vacuum(d, keep_last=1, min_age_seconds=0) == []  # staged files are live
    assert S.publish_staged(d, "pending") == 2
    assert S.read_snapshot(spark, d).count() == 8


def test_wap_publish_preserves_concurrent_appends(spark, tmp_path):
    """An append that lands BETWEEN stage and publish must survive the
    publish (append-mode staging folds onto the publish-time head)."""
    d = str(tmp_path / "t")
    S.commit(_batch(spark, 0, 5), d)
    S.stage(_batch(spark, 100, 103), d, "b")
    S.commit(_batch(spark, 5, 7), d)  # concurrent writer
    S.publish_staged(d, "b")
    assert S.read_snapshot(spark, d).count() == 5 + 2 + 3


def test_wap_duplicate_stage_name_rejected(spark, tmp_path):
    d = str(tmp_path / "t")
    S.commit(_batch(spark, 0, 2), d)
    S.stage(_batch(spark, 2, 3), d, "x")
    with pytest.raises(ValueError, match="already exists"):
        S.stage(_batch(spark, 3, 4), d, "x")
    with pytest.raises(ValueError, match="staged name"):
        S.stage(_batch(spark, 3, 4), d, "bad/name")


def test_zorder_commit_prunes_on_both_dimensions(spark, tmp_path):
    """Z-order clustering (sinks/layout.py) + manifest stats = 2-D file
    skipping: after cluster_by_zorder on (x, y), a box predicate on
    EITHER dimension prunes most files from the snapshot read."""
    from etl_workflows_spark.sinks.layout import cluster_by_zorder

    d = str(tmp_path / "t")
    df = spark.range(4096).selectExpr(
        "CAST(id % 64 AS LONG) AS x", "CAST(CAST(id / 64 AS LONG) AS LONG) AS y", "id"
    )
    S.commit(cluster_by_zorder(df, ["x", "y"], 16), d, stat_cols=["x", "y"])
    m = S._load_manifest(d, 1)
    assert len(m["files"]) == 16

    def files_read(pred):
        out = S.read_snapshot(spark, d, predicates=pred)
        plan = out._jdf.queryExecution().executedPlan().toString()
        import re

        loc = re.search(r"InMemoryFileIndex\((\d+) paths?\)", plan)
        return out, (int(loc.group(1)) if loc else 0)

    out_x, nx = files_read({"x": (10, 12)})
    assert out_x.count() == 3 * 64
    out_y, ny = files_read({"y": (10, 12)})
    assert out_y.count() == 3 * 64
    assert nx < 16 and ny < 16, (nx, ny)  # both dimensions skip files
    box, nb = files_read({"x": (10, 12), "y": (10, 12)})
    assert box.count() == 9
    assert nb <= min(nx, ny)


def test_streaming_materialized_view(spark, tmp_path):
    """The full table-services loop: stream → exactly-once snapshot
    commits → delta-only view refresh. The maintained aggregate equals a
    full recompute after every micro-batch round."""
    from etl_workflows_spark.operators.incremental_view import refresh_view
    from etl_workflows_spark.streaming.incremental import stream_to_snapshots
    from pyspark.sql import functions as F

    src_files = tmp_path / "in"
    src_files.mkdir()
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    chk = str(tmp_path / "chk")

    def pump(rows):
        spark.createDataFrame(rows, ["user_id", "v"]).coalesce(1).write.mode(
            "append"
        ).parquet(str(src_files))
        stream = spark.readStream.schema("user_id bigint, v bigint").parquet(
            str(src_files)
        )
        stream_to_snapshots(stream, src, chk)
        return refresh_view(
            spark, src, view, ["user_id"], {"n": "count", "total": "sum:v"}
        )

    pump([(1, 10), (2, 20)])
    pump([(1, 5), (3, 30)])
    want = {
        r["user_id"]: (r["n"], r["total"])
        for r in S.read_snapshot(spark, src)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), F.sum("v").alias("total"))
        .collect()
    }
    got = {
        r["user_id"]: (r["n"], r["total"])
        for r in S.read_snapshot(spark, view).collect()
    }
    assert got == want == {1: (2, 15), 2: (1, 20), 3: (1, 30)}


def test_vacuum_keep_last_preserves_time_travel(spark, tmp_path):
    d = str(tmp_path / "t")
    S.commit(_df(spark, 0, 5), d)
    S.commit(_df(spark, 100, 102), d, mode="overwrite")
    S.commit(_df(spark, 200, 204), d, mode="overwrite")
    S.vacuum(d, keep_last=2, min_age_seconds=0)
    assert S.versions(d) == [2, 3]
    assert S.read_snapshot(spark, d, version=2).count() == 2
    assert S.read_snapshot(spark, d, version=3).count() == 4
