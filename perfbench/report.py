"""Turn a workload result into the benchmark's JSON metrics.

Metric names and units come from ``BENCHMARK.json``; every workload
reports every metric of its mode. A layer the workload does not run
reports 0.
"""

from __future__ import annotations

import json
import os
import statistics

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def _per_s(rows: int, unit_ms: list[float]) -> float:
    """Rows per second at the median unit time."""
    p50 = _median(unit_ms)
    return rows / p50 * 1000.0 if p50 else 0.0


def metrics(res, session: dict, peak_rss_mb: float | None) -> dict:
    """End-to-end metrics, or the per-layer ones when ``peak_rss_mb`` (sampled
    only by the traced run) is given."""
    traced = peak_rss_mb is not None
    with open(BENCHMARK_JSON) as f:
        declared = json.load(f)["per_layer" if traced else "end_to_end"]
    if traced:
        values = _layers(res, session)
        values["mem.peak_rss_mb"] = peak_rss_mb
    else:
        values = {
            "setup_s": session["setup_s"],
            "rows_per_s": _per_s(res.rows_per_unit, res.units_ms),
            "rows_per_cpu_s": _per_s(res.rows_per_unit, res.units_cpu_ms),
            "ops_ok_ratio": (res.attempted - res.failed) / res.attempted,
        }
    return {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        # a layer the workload does not run reports 0; an end-to-end
        # metric is always computed
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0) if traced
                                               else values[m["name"]]), "unit": m["unit"]}
                    for m in declared},
    }


def _layers(res, session: dict) -> dict:
    out = {k: _median(v) for k, v in res.layers.items() if not isinstance(v[0], dict)}
    for key in ("csv_source.scan_tasks", "csv_source.gz_scan_tasks"):
        if key in res.layers:
            out[key] = _median([s["tasks"] for s in res.layers[key]])
    dags = res.layers.get("dag", [])
    for key in ("jobs", "stages", "tasks"):
        out[f"spark.{key}"] = _median([d[key] for d in dags])
    out["spark.failed_tasks"] = sum(s.get("failed_tasks", 0) for s in res.tracer.spans)
    out["cpu.dag_ms"] = _median(res.loop.cpu_ms)
    out["session.start_s"] = session["start_s"]
    out["session.first_job_s"] = session["first_job_s"]
    if res.traced_ms and res.dag_ms:
        out["trace.overhead_ms"] = statistics.fmean(res.traced_ms) - statistics.fmean(res.dag_ms)
    return out
