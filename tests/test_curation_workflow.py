"""The corpus-curation DAG (orchestrate/curation_services.py) run through
the reference-dialect workflow interpreter: a healthy batch is deduped,
gated, decontaminated, redacted and published atomically; a collapsed
batch fails the yield audit, takes the except branch, and vanishes."""

from __future__ import annotations

import re

from etl_workflows_spark.orchestrate import curation_services
from etl_workflows_spark.orchestrate.curation_services import (
    CURATION_WORKFLOW_YAML,
    build_curation_registry,
)
from etl_workflows_spark.orchestrate.workflow import WorkflowRunner
from etl_workflows_spark.sinks import snapshots as S

GOOD = "the quick brown fox jumps over the lazy dog near the old river bank"
BENCH = "benchmark question about ancient rome and its seven famous hills"


def _land(spark, tmp_path, name, rows):
    p = str(tmp_path / name)
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(p)
    return p


def _registry(spark, tmp_path, **kw):
    corpus = str(tmp_path / "corpus")
    bench_p = str(tmp_path / "bench")
    spark.createDataFrame([(9000, BENCH)], ["doc_id", "text"]).coalesce(
        1
    ).write.mode("overwrite").parquet(bench_p)
    kw.setdefault("gate_kwargs", {"min_tokens": 5, "min_stop_ratio": 0.0})
    reg = build_curation_registry(spark, corpus, benchmark_path=bench_p, **kw)
    return corpus, reg


def test_curation_workflow_publishes_clean_batch(spark, tmp_path):
    corpus, reg = _registry(spark, tmp_path)
    runner = WorkflowRunner(CURATION_WORKFLOW_YAML, reg)
    rows = [
        (1, GOOD),                           # survives
        (2, GOOD),                           # exact dup of 1 → dropped
        (3, "tiny doc"),                     # fails min_tokens gate
        (4, BENCH + " copied into training"),  # contaminated → dropped
        (5, "email me at bob@example.com about the big meeting on friday"),
    ]
    p = _land(spark, tmp_path, "b1", rows)
    assert runner.run(params={"sourcePath": p, "batch": "b1"}) == "published b1"
    got = {r["doc_id"]: r["text"] for r in S.read_snapshot(spark, corpus).collect()}
    assert set(got) == {1, 5}
    assert "bob@example.com" not in got[5] and "[EMAIL]" in got[5]


def test_curation_workflow_rejects_collapsed_batch(spark, tmp_path):
    corpus, reg = _registry(spark, tmp_path, min_yield=0.5)
    runner = WorkflowRunner(CURATION_WORKFLOW_YAML, reg)
    # one survivor out of four rows → yield 0.25 < 0.5 → rejected
    rows = [(1, GOOD), (2, GOOD), (3, GOOD), (4, "junk")]
    p = _land(spark, tmp_path, "bad", rows)
    assert runner.run(params={"sourcePath": p, "batch": "bad"}) == "rejected bad"
    # the staged batch never existed: no published snapshot, staging empty
    import os

    assert not os.path.exists(os.path.join(corpus, "_staged", "bad.json"))

    # and the same corpus still accepts a later healthy batch
    p2 = _land(spark, tmp_path, "ok", [(7, GOOD)])
    assert runner.run(params={"sourcePath": p2, "batch": "ok"}) == "published ok"
    assert S.read_snapshot(spark, corpus).count() == 1


def test_collapsed_batch_rejected_even_on_nonempty_corpus(spark, tmp_path):
    """The yield audit must judge the BATCH, not the post-publish table:
    with rows already published, a collapsed batch's ratio would pass if
    the audit counted staged+head (read_staged's append default)."""
    corpus, reg = _registry(spark, tmp_path, min_yield=0.5)
    runner = WorkflowRunner(CURATION_WORKFLOW_YAML, reg)
    # publish a healthy corpus first (4 surviving docs)
    good_rows = [(i, GOOD + f" variant {i}") for i in range(1, 5)]
    p1 = _land(spark, tmp_path, "base", good_rows)
    assert runner.run(params={"sourcePath": p1, "batch": "base"}) == "published base"
    assert S.read_snapshot(spark, corpus).count() == 4
    # collapsed batch: 1 survivor / 4 landed = 0.25 < 0.5 — must reject
    # even though head(4) + staged(1) over landed(4) would look like 1.25
    bad = [(10, GOOD + " fresh"), (11, "junk"), (12, "junk"), (13, "junk")]
    p2 = _land(spark, tmp_path, "bad", bad)
    assert runner.run(params={"sourcePath": p2, "batch": "bad"}) == "rejected bad"
    assert S.read_snapshot(spark, corpus).count() == 4


def test_composed_curation_plan_is_linear(spark, tmp_path, monkeypatch):
    """The registry-composed plan (land → dedup → gate → decontaminate →
    redact) forks only at dedup's keeper aggregate and decontamination's
    flagged-id report: 4 scans of the landed corpus and 4 joins. A gate
    that semi-joins its audit relation back on doc_id doubles both."""
    corpus, reg = _registry(spark, tmp_path)
    p = _land(spark, tmp_path, "landed", [(1, GOOD), (2, BENCH)])
    composed = []
    monkeypatch.setattr(
        curation_services.S, "stage", lambda df, *a, **kw: composed.append(df)
    )
    reg["land_raw"]({"sourcePath": p})
    for step in ("dedup_corpus", "gate_quality", "decontaminate_corpus",
                 "redact_pii"):
        reg[step]({})
    reg["stage_curated"]({"batch": "b"})
    # the scans' Location strings must name the full landed path
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        plan = composed[0]._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert plan.count(p) <= 4, plan
    joins = re.findall(
        r"(?:SortMerge|BroadcastHash|ShuffledHash|BroadcastNestedLoop|Cartesian)"
        r"(?:Join|Product)",
        plan,
    )
    assert len(joins) <= 4, plan
