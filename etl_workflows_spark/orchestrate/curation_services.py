"""Corpus-curation workflow: the reference's DAG dialect driving the
LLM-data-pipeline operators end-to-end.

The reference ships exactly one DAG shape (etl_cars.yaml: guarded calls,
error-description switch, reject branch); table_services.py reuses it for
warehouse maintenance. This module is the third instance — the shape a
production data-curation job follows:

    land raw docs → dedup (exact) → quality gate → decontaminate vs a
    benchmark → redact PII → stage as a snapshot batch → audit YIELD →
    publish;   yield below the floor ⇒ except branch ⇒ drop the staged
    batch — a collapsed batch (e.g. a crawler loop that emitted the same
    page a million times, or a gate misconfiguration that drops ~all
    rows) never reaches consumers.

Registry calls return status strings (the DSL's protocol — workflow.py);
each step COMPOSES the lazy curation plan on a shared context, and the
stage step performs the single materialization via the snapshot layer's
write-audit-publish machinery, so the DAG adds no extra passes over the
corpus: one write, then bounded-count audit reads. The quality gate
filters the deduplicated rows in place (its rules are row-local), so the
composed plan forks only twice: dedup's semi join against its own keeper
aggregate, and decontamination's anti join against the flagged ids, whose
n-gram report re-runs dedup + gate once on its side.

Reference parity: same try/except + switch-on-description control flow as
etl_cars.yaml:51-54 ("CSV file not found"); the curation stages are the
north-star operators (SURVEY.md §2.7).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import SparkSession

from etl_workflows_spark.exceptions import EngineError
from etl_workflows_spark.operators import decontam, pii, text
from etl_workflows_spark.operators.dedup import drop_exact_duplicates
from etl_workflows_spark.sinks import snapshots as S


class YieldTooLow(EngineError):
    code = 422
    description = "Yield too low"


# The canonical curation DAG, in the reference's YAML dialect.
CURATION_WORKFLOW_YAML = """
main:
  params: [sourcePath, batch]
  steps:
    - guarded_curation:
        try:
          steps:
            - land:
                call: land_raw
                args:
                  body:
                    sourcePath: ${sourcePath}
                result: landed
            - dedup:
                call: dedup_corpus
                args:
                  body: {}
                result: deduped
            - gate:
                call: gate_quality
                args:
                  body: {}
                result: gated
            - decontam:
                call: decontaminate_corpus
                args:
                  body: {}
                result: decontaminated
            - redact:
                call: redact_pii
                args:
                  body: {}
                result: redacted
            - stage:
                call: stage_curated
                args:
                  body:
                    batch: ${batch}
                result: staged
            - audit:
                call: audit_yield
                args:
                  body:
                    batch: ${batch}
                result: audited
            - publish:
                call: publish_curated
                args:
                  body:
                    batch: ${batch}
                result: published
            - done:
                return: ${"published " + batch}
        except:
          as: e
          steps:
            - is_yield_failure:
                switch:
                  - condition: ${e.body.description == "Yield too low"}
                    next: reject
            - unexpected:
                return: ${"error " + e.body.description}
            - reject:
                call: drop_curated
                args:
                  body:
                    batch: ${batch}
                result: dropped
            - rejected:
                return: ${"rejected " + batch}
"""


def build_curation_registry(
    spark: SparkSession,
    corpus_dir: str,
    benchmark_path: str | None = None,
    min_yield: float = 0.1,
    gate_kwargs: dict | None = None,
) -> dict[str, Callable[[dict], str]]:
    """Registry for the curation DAG over a snapshot table at
    ``corpus_dir``. ``benchmark_path`` (parquet with doc_id/text) drives
    the decontamination stage — omit it and the stage is a no-op pass.
    ``min_yield`` is the audit floor: staged_rows / landed_rows must
    reach it or the batch is rejected. Body keys are camelCase, matching
    the engine's API surface.
    """
    ctx: dict = {}

    def land_raw(body: dict) -> str:
        df = spark.read.parquet(body["sourcePath"])
        # one bounded action: the denominator the audit compares against
        ctx["landed_n"] = df.count()
        ctx["df"] = df
        return "Success"

    def dedup_corpus(body: dict) -> str:
        ctx["df"] = drop_exact_duplicates(ctx["df"])
        return "Success"

    def gate_quality(body: dict) -> str:
        # the gate rules are row-local: filter in place (a semi join back
        # on doc_id would re-run the whole upstream plan on its other side)
        ctx["df"] = ctx["df"].filter(
            text.quality_gate_passes(**(gate_kwargs or {}))
        )
        return "Success"

    def decontaminate_corpus(body: dict) -> str:
        if benchmark_path is None:
            return "Skipped"
        bench = spark.read.parquet(benchmark_path)
        ctx["df"] = decontam.decontaminate(ctx["df"], bench)
        return "Success"

    def redact(body: dict) -> str:
        ctx["df"] = pii.redact_pii(ctx["df"]).drop("text").withColumnRenamed(
            "clean_text", "text"
        )
        return "Success"

    def stage_curated(body: dict) -> str:
        # the single materialization of the composed plan
        S.stage(ctx["df"], corpus_dir, body["batch"], stat_cols=["doc_id"])
        return "Success"

    def audit_yield(body: dict) -> str:
        # the batch ALONE — read_staged's default would fold in the
        # published head and inflate the ratio on any non-empty corpus
        staged_n = S.read_staged(
            spark, corpus_dir, body["batch"], include_head=False
        ).count()
        landed = ctx.get("landed_n") or 0
        if landed == 0 or staged_n / landed < min_yield:
            raise YieldTooLow()
        return "Success"

    def publish_curated(body: dict) -> str:
        S.publish_staged(corpus_dir, body["batch"])
        return "Success"

    def drop_curated(body: dict) -> str:
        S.drop_staged(corpus_dir, body["batch"])
        return "Success"

    return {
        "land_raw": land_raw,
        "dedup_corpus": dedup_corpus,
        "gate_quality": gate_quality,
        "decontaminate_corpus": decontaminate_corpus,
        "redact_pii": redact,
        "stage_curated": stage_curated,
        "audit_yield": audit_yield,
        "publish_curated": publish_curated,
        "drop_curated": drop_curated,
    }
