"""The two workloads, driven only through the engine's public entry points.

One caller, closed loop: the next DAG invocation starts only after the
previous one returned and its outputs were checked. Only the DAG call is
timed; dropping the input file and checking the outputs are not. Each
workload first runs a few warm-up invocations (checked, not timed), since
the first calls in a fresh JVM run several times slower.

The traced run (``tracer`` given) interleaves, per iteration: the DAG
untraced, the DAG through a span-recording registry (the difference of
the two is the tracing overhead), and a layer probe that times each layer
through the same public functions the pipelines call.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
import procstat
from spans import Tracer, ms
from etl_workflows_spark.operators import decontam, pii, text
from etl_workflows_spark.operators.coerce import coerce_columns
from etl_workflows_spark.operators.dedup import drop_exact_duplicates
from etl_workflows_spark.orchestrate.curation_services import (
    CURATION_WORKFLOW_YAML,
    build_curation_registry,
)
from etl_workflows_spark.orchestrate.workflow import WorkflowRunner, build_engine_registry
from etl_workflows_spark.schema.registry import load_schema_file
from etl_workflows_spark.sinks import snapshots
from etl_workflows_spark.sinks.writer import write_table
from etl_workflows_spark.sources.csv_source import read_lines, read_raw_csv
from etl_workflows_spark.sources.files import archive_processed, find_most_recent_csv

# The reference DAG shape (etl_cars): load the newest CSV (overwrite, then
# archive it), stop when there is none, else append the golden query.
CSV_DAG_YAML = """
main:
  params: [bucket]
  steps:
    - init:
        assign:
          - dataset: bench
    - loadExportCsv:
        call: loadCsvStep
        args:
          body:
            bucket: ${bucket}
            prefix: cars_
            schema: cars_schema.yaml
            destinationTable: ${dataset + ".cars"}
        result: loadExportResult
    - conditionalSwitch:
        switch:
          - condition: ${loadExportResult != "Success"}
            next: end
        next: updateExport
    - updateExport:
        call: loadQueryStep
        args:
          body:
            query: big_US_cars.sql
            destinationTable: ${dataset + ".big_US_cars"}
            append: True
        result: queryResult
    - done:
        return: ${queryResult}

loadCsvStep:
  params: [body]
  steps:
    - init:
        assign:
          - notFoundMessage: "CSV file not found"
    - runJob:
        try:
          call: http.post
          args:
            url: https://functions.example/load_csv
            body: ${body}
          result: r
        except:
          as: e
          steps:
            - known:
                switch:
                  - condition: ${e.body.description == notFoundMessage}
                    return: "Not found"
            - unknown:
                raise: ${e}
    - out:
        return: ${r.body.description}

loadQueryStep:
  params: [body]
  steps:
    - runJob:
        call: http.post
        args:
          url: https://functions.example/load_query
          body: ${body}
        result: r
    - out:
        return: ${r.body.description}
"""

TYPED = [name for name, typ in gen.CARS_FIELDS if typ != "STRING"]

BULK_ROWS = 100_000
BULK_WARMUP_ROWS = 5_000
BULK_WARMUPS = 5
CORPUS_DOCS = 12_000
CORPUS_WARMUP_DOCS = 2_000
CORPUS_WARMUPS = 8
MIN_UNITS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _count_obs(df):
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def _files_under(path: str, suffix: str) -> list[str]:
    return [os.path.join(d, name) for d, _, names in os.walk(path)
            for name in names if name.endswith(suffix)]


def _bytes_under(path: str, suffix: str) -> tuple[int, int]:
    """(files, bytes) of the files under ``path`` ending in ``suffix``."""
    files = _files_under(path, suffix)
    return len(files), sum(os.path.getsize(p) for p in files)


class Loop:
    """Outcome counts and per-invocation CPU time of one closed loop."""

    def __init__(self):
        self.cpu_ms: list[float] = []
        self.attempted = 0
        self.failed = 0

    def record(self, run, check) -> tuple[float, float] | None:
        """Time ``run()``; then ``check(result)`` must return True. Returns
        (wall ms, CPU ms of the whole process tree), or None when the
        invocation raised, returned non-success or failed its check (a
        failed op)."""
        self.attempted += 1
        try:
            c0 = procstat.tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            result = run()
            elapsed = (time.perf_counter() - t0) * 1000.0
            cpu = (procstat.tree_cpu_s(os.getpid()) - c0) * 1000.0
            ok = check(result)
        except Exception:  # one failed invocation must not end the run
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            log(f"invocation {self.attempted} failed")
            return None
        self.cpu_ms.append(cpu)
        return elapsed, cpu

    def expect(self, ok: bool, what: str) -> None:
        """Count a probe's output check as one more op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"check failed: {what}")


class Result:
    """What a workload hands to the report."""

    def __init__(self, rows_per_unit: int):
        self.loop = Loop()
        self.warm = Loop()
        self.side = Loop()  # checked invocations of the traced probes
        self.rows_per_unit = rows_per_unit
        self.units_ms: list[float] = []
        self.units_cpu_ms: list[float] = []
        self.dag_ms: list[float] = []
        self.layers: dict[str, list] = {}
        self.traced_ms: list[float] = []
        self.tracer: Tracer | None = None

    def add(self, key: str, value) -> None:
        self.layers.setdefault(key, []).append(value)

    def add_unit(self, t: tuple[float, float] | None) -> None:
        """One measured invocation's (wall, CPU) ms; None when it failed."""
        if t is not None:
            self.units_ms.append(t[0])
            self.units_cpu_ms.append(t[1])

    @property
    def attempted(self) -> int:
        return self.loop.attempted + self.warm.attempted + self.side.attempted

    @property
    def failed(self) -> int:
        return self.loop.failed + self.warm.failed + self.side.failed


# -- the reference DAG over CSV exports --------------------------------------


class CsvPipeline:
    """A bucket, the schema and query assets, and the engine registry."""

    def __init__(self, spark, work: str):
        self.spark = spark
        self.bucket = os.path.join(work, "bucket")
        self.assets = os.path.join(work, "assets")
        self.inputs = os.path.join(work, "inputs")
        for d in (self.bucket, self.assets, self.inputs):
            os.makedirs(d)
        self.schema_path = os.path.join(self.assets, "cars_schema.yaml")
        with open(self.schema_path, "w") as f:
            f.write(gen.SCHEMA_YAML)
        with open(os.path.join(self.assets, "big_US_cars.sql"), "w") as f:
            f.write(gen.QUERY_SQL.format(cars="bench.cars"))
        self.warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        self.registry = build_engine_registry(spark, assets_dir=self.assets)
        self.runner = WorkflowRunner(CSV_DAG_YAML, self.registry)
        self.big_us_total = 0

    def add_input(self, name: str, lines: list[str], gz: bool, expect: dict) -> dict:
        path = os.path.join(self.inputs, name)
        size = gen.write_csv(path, lines, gz=gz)
        return {"name": name, "path": path, "bytes": size, "rows": len(lines) - 1,
                "expect": expect}

    def drop(self, item: dict) -> None:
        os.link(item["path"], os.path.join(self.bucket, item["name"]))

    def invoke(self, loop: Loop, item: dict, tracer: Tracer | None = None,
               inv: str = "") -> tuple[float, float] | None:
        """Drop ``item`` and run the DAG once. With a tracer, the registry
        records its calls as spans under one grouped ``dag`` span."""
        self.drop(item)
        params = {"bucket": self.bucket}
        if tracer is None:
            run = lambda: self.runner.run(params=params)  # noqa: E731
        else:
            runner = WorkflowRunner(CSV_DAG_YAML, tracer.wrap(self.registry, inv))

            def run():
                with tracer.span("dag", inv, group=True):
                    return runner.run(params=params)

        return loop.record(run, lambda r: self.check(r, item))

    def check(self, result, item: dict) -> bool:
        """The file was archived, the loaded table holds the oracle's rows
        and NULL counts, and the append target grew by the oracle's
        big-US count. Tables are read from their parquet files directly."""
        exp = item["expect"]
        self.big_us_total += exp["big_us"]
        if result != "Success":
            log(f"DAG returned {result!r}")
            return False
        archived = os.path.exists(os.path.join(self.bucket, "ARCHIVED", item["name"]))
        gone = not os.path.exists(os.path.join(self.bucket, item["name"]))
        cars = pq.read_table(os.path.join(self.warehouse, "bench.db", "cars"),
                             columns=TYPED)
        nulls = {c: cars.column(c).null_count for c in TYPED}
        big_us = sum(pq.ParquetFile(p).metadata.num_rows
                     for p in _files_under(os.path.join(self.warehouse, "bench.db", "big_us_cars"),
                                           ".parquet"))
        ok = (archived and gone and cars.num_rows == exp["rows_loaded"]
              and nulls == exp["nulls"] and big_us == self.big_us_total)
        if not ok:
            log(f"{item['name']}: archived={archived} gone={gone} rows={cars.num_rows}"
                f"/{exp['rows_loaded']} nulls={nulls}/{exp['nulls']}"
                f" big_us={big_us}/{self.big_us_total}")
        return ok

    def traced_dag(self, tracer: Tracer, inv: str, res: Result, item: dict) -> None:
        """One invocation through a span-recording registry."""
        before = self.big_us_total
        t = self.invoke(res.loop, item, tracer, inv)
        if t is None:
            return
        dag = tracer.last("dag")
        res.traced_ms.append(t[0])
        res.add("dag", dag)
        calls = tracer.children(dag)
        res.add("workflow.calls", len(calls))
        res.add("workflow.self_ms", tracer.self_ms(dag))
        res.add("load_query.ms", sum(ms(c) for c in calls if c["name"] == "registry.load_query"))
        res.add("load_query.rows_out", self.big_us_total - before)

    def probe(self, tracer: Tracer, inv: str, res: Result, item: dict) -> None:
        """Time each layer of one load through the public functions.

        Lazy layers are successive prefixes written to the ``noop`` sink
        (scan, + tokenize, + coerce), then the real ``write_table``; a
        layer's time is its prefix minus the one before. Eager layers
        (discovery, schema load, archive) are timed directly.
        """
        spark = self.spark
        self.drop(item)
        path, t = tracer.timed("files.find", inv, find_most_recent_csv,
                               spark, self.bucket, "cars_")
        res.add("files.find_ms", t)
        doc, t = tracer.timed("schema.load", inv, load_schema_file, self.schema_path)
        res.add("schema.load_ms", t)
        n_fields = len(doc["fields"])

        with tracer.span("csv_source.scan", inv, group=True) as scan:
            _noop(read_lines(spark, path))
        with tracer.span("csv_source.tokenize", inv, group=True) as tok:
            _noop(read_raw_csv(spark, path, n_fields))
        with tracer.span("coerce", inv, group=True) as co:
            _noop(coerce_columns(read_raw_csv(spark, path, n_fields), doc))
        table = "probe.cars"
        _, t_write = tracer.timed(
            "writer.overwrite", inv, write_table,
            coerce_columns(read_raw_csv(spark, path, n_fields), doc), table)
        archived, t = tracer.timed("files.archive", inv, archive_processed,
                                   spark, self.bucket, "cars_")

        res.add("csv_source.scan_ms", ms(scan))
        res.add("csv_source.tokenize_ms", ms(tok) - ms(scan))
        res.add("coerce.ms", ms(co) - ms(tok))
        res.add("writer.overwrite_ms", t_write - ms(co))
        res.add("csv_source.scan_tasks", scan)  # a span: counted after the run
        # counts, untimed: lines scanned, rows kept, cells coerced to NULL
        exp = item["expect"]
        lines_in = read_lines(spark, os.path.join(self.bucket, "ARCHIVED", item["name"])).count()
        row = spark.sql("SELECT count(*) AS n, "
                        + ", ".join(f"count_if({c} IS NULL) AS {c}" for c in TYPED)
                        + f" FROM {table}").first()
        rows_out = row["n"]
        nulls = {c: row[c] for c in TYPED}
        res.loop.expect(lines_in == item["rows"] and rows_out == exp["rows_loaded"]
                        and nulls == exp["nulls"] and archived == [item["name"]],
                        f"layer probe of {item['name']}")
        res.add("files.archive_ms", t)
        res.add("files.archived", len(archived))

        # the query prefix, then the append sink
        query = gen.QUERY_SQL.format(cars=table)
        with tracer.span("query.noop", inv, group=True) as qn:
            _noop(spark.sql(query))
        _, t_append = tracer.timed("writer.append", inv, write_table,
                                   spark.sql(query), table + "_big_us", append=True)
        res.add("writer.append_ms", t_append - ms(qn))

        files, written = _bytes_under(os.path.join(self.warehouse, "probe.db", "cars"),
                                      ".parquet")
        cells_nulled = sum(nulls.values())
        for key, val in {
            "csv_source.lines_in": lines_in,
            "csv_source.rows_out": rows_out,
            "csv_source.keep_ratio": rows_out / lines_in,
            "coerce.cells_nulled": cells_nulled,
            "coerce.null_ratio": cells_nulled / (rows_out * len(TYPED)),
            "writer.files_written": files,
            "writer.bytes_written": written,
            "writer.bytes_per_input_byte": written / item["bytes"],
        }.items():
            res.add(key, val)

    def probe_gz(self, tracer: Tracer, inv: str, res: Result, item: dict) -> None:
        """The gzipped copy: its scan prefix on the ``noop`` sink, then one
        checked DAG invocation over it."""
        with tracer.span("csv_source.gz_scan", inv, group=True) as scan:
            _noop(read_lines(self.spark, item["path"]))
        res.add("csv_source.gz_scan_ms", ms(scan))
        res.add("csv_source.gz_scan_tasks", scan)  # a span: counted after the run
        t = self.invoke(res.side, item)
        if t is not None:
            res.add("workflow.gz_dag_ms", t[0])


def _overhead_pair(res: Result, untraced, traced):
    """Run one invocation untraced and one traced, back to back, alternating
    which goes first; returns the untraced (wall, CPU), whose wall time
    also joins ``res.dag_ms``."""
    traced_first = len(res.traced_ms) % 2 == 1
    if traced_first:
        traced()
    t = untraced()
    if not traced_first:
        traced()
    if t is not None:
        res.dag_ms.append(t[0])
    return t


def _keep_going(it: int, t_end: float, traced: bool) -> bool:
    """At least ``MIN_UNITS`` measured units (one iteration when traced),
    then until the measured time is up."""
    return it < (1 if traced else MIN_UNITS) or time.perf_counter() < t_end


def csv_bulk(spark, work: str, seed: int, seconds: float, tracer: Tracer | None) -> Result:
    """Each iteration loads the same plain ``.csv`` export through the DAG;
    one invocation is one unit of the metrics, and the scan splits over
    several tasks. The traced run also loads a gzipped copy of the export
    each iteration: gzip does not split, so its scan runs in one task."""
    pipe = CsvPipeline(spark, work)
    small = gen.cars_lines(seed + 1, BULK_WARMUP_ROWS)
    lines = gen.cars_lines(seed, BULK_ROWS)
    expect = gen.oracle(lines)
    item = pipe.add_input("cars_20210901.csv", lines, False, expect)
    res = Result(item["rows"])
    # the first DAG in a fresh JVM is the slowest whatever its size: take it
    # on a small export, then warm up at full size
    pipe.invoke(res.warm, pipe.add_input("cars_20210831.csv", small, False, gen.oracle(small)))
    for _ in range(BULK_WARMUPS):
        pipe.invoke(res.warm, item)
    gz_item = None
    if tracer is not None:
        gz_item = pipe.add_input("cars_20210901.csv.gz", lines, True, expect)
        pipe.invoke(res.warm, gz_item)

    t_end = time.perf_counter() + seconds
    it = 0
    while _keep_going(it, t_end, tracer is not None):
        if tracer is None:
            res.add_unit(pipe.invoke(res.loop, item))
        else:
            inv = f"i{it}"
            res.add_unit(_overhead_pair(res, lambda: pipe.invoke(res.loop, item),
                                        lambda: pipe.traced_dag(tracer, inv, res, item)))
            pipe.probe(tracer, inv, res, item)
            pipe.probe_gz(tracer, inv, res, gz_item)
        it += 1
    return res


# -- the curation DAG --------------------------------------------------------


class Curation:
    """A landed corpus, its benchmark set, and a fresh snapshot table per
    invocation, so that every invocation does the same work."""

    def __init__(self, spark, work: str, seed: int, n_docs: int):
        self.spark = spark
        self.work = work
        self.facts = gen.curation_inputs(seed, n_docs)
        self.source = os.path.join(work, "landed")
        self.bench = os.path.join(work, "benchmark")
        docs = self.facts["docs"]
        os.makedirs(self.source)
        for part in range(4):
            chunk = docs[part::4]
            pq.write_table(pa.table({"doc_id": [d for d, _ in chunk],
                                     "text": [t for _, t in chunk]}),
                           os.path.join(self.source, f"part-{part}.parquet"))
        os.makedirs(self.bench)
        pq.write_table(pa.table({"doc_id": [d for d, _ in self.facts["bench"]],
                                 "text": [t for _, t in self.facts["bench"]]}),
                       os.path.join(self.bench, "part-0.parquet"))
        ids = self.facts["expected_ids"]
        self.expect = (len(ids), sum(ids), sum(i * i for i in ids),
                       self.facts["n_email"], self.facts["n_phone"])
        self.n_docs = n_docs
        self.k = 0

    def invoke(self, loop: Loop, tracer: Tracer | None = None, inv: str = "",
               on_published=None) -> tuple[float, float] | None:
        """Run the DAG once into a fresh snapshot table. With a tracer, the
        registry records its calls as spans under one grouped ``dag`` span."""
        corpus = os.path.join(self.work, f"curated{self.k}")
        batch = f"b{self.k}"
        self.k += 1
        registry = build_curation_registry(self.spark, corpus, benchmark_path=self.bench)
        params = {"sourcePath": self.source, "batch": batch}
        if tracer is None:
            runner = WorkflowRunner(CURATION_WORKFLOW_YAML, registry)
            run = lambda: runner.run(params=params)  # noqa: E731
        else:
            runner = WorkflowRunner(CURATION_WORKFLOW_YAML, tracer.wrap(registry, inv))

            def run():
                with tracer.span("dag", inv, group=True):
                    return runner.run(params=params)

        try:
            t = loop.record(run, lambda r: self.check(r, corpus, batch))
            if t is not None and on_published is not None:
                on_published(corpus)
            return t
        finally:
            shutil.rmtree(corpus, ignore_errors=True)

    def check(self, result, corpus: str, batch: str) -> bool:
        """From planted facts: exactly the expected doc ids are published
        (no duplicate, short or benchmark-overlap doc), no planted email or
        phone survives, and each planted one left its redaction token."""
        if result != f"published {batch}":
            log(f"curation DAG returned {result!r}")
            return False
        t = F.col("text")
        row = snapshots.read_snapshot(self.spark, corpus).agg(
            F.count(F.lit(1)), F.sum("doc_id"), F.sum(F.col("doc_id") * F.col("doc_id")),
            F.sum(F.size(F.split(t, r"\[EMAIL\]")) - 1),
            F.sum(F.size(F.split(t, r"\[PHONE\]")) - 1),
            F.count_if(t.contains("@") | t.rlike(r"[0-9]{3}-[0-9]{3}-[0-9]{4}")),
        ).first()
        ok = tuple(row[:5]) == self.expect and row[5] == 0
        if not ok:
            log(f"curation check: got {tuple(row)}, expected {self.expect} + (0,)")
        return ok

    def probe(self, tracer: Tracer, inv: str, res: Result) -> float:
        """Successive prefixes of the composed curation plan on the noop
        sink; returns the last prefix's time (the whole composed plan)."""
        spark = self.spark
        df = spark.read.parquet(self.source)
        bench = spark.read.parquet(self.bench)
        stages = [
            ("land", lambda d: d),
            ("dedup.exact", drop_exact_duplicates),
            ("text.gate", lambda d: d.join(
                text.quality_gate(d).filter(F.col("passes")).select("doc_id"),
                "doc_id", "left_semi")),
            ("decontam", lambda d: decontam.decontaminate(d, bench)),
            ("pii.redact", lambda d: pii.redact_pii(d).drop("text").withColumnRenamed(
                "clean_text", "text")),
        ]
        times, counts = [], []
        for name, step in stages:
            df = step(df)
            counted, obs = _count_obs(df)
            with tracer.span(name, inv, group=True) as rec:
                _noop(counted)
            times.append(ms(rec))
            counts.append(obs.get["n"])
        res.add("dedup.exact_ms", times[1] - times[0])
        res.add("text.gate_ms", times[2] - times[1])
        res.add("decontam.ms", times[3] - times[2])
        res.add("pii.redact_ms", times[4] - times[3])
        res.add("dedup.keep_ratio", counts[1] / counts[0])
        res.add("text.pass_ratio", counts[2] / counts[1])
        res.add("decontam.dropped", counts[2] - counts[3])
        res.loop.expect(counts[0] == self.n_docs and counts[4] == self.expect[0],
                        f"curation probe counts {counts}")
        return times[4]

    def traced_dag(self, tracer: Tracer, inv: str, res: Result, plan_ms: float) -> None:
        def on_published(corpus):
            res.add("snapshots.bytes_written", _bytes_under(corpus, ".parquet")[1])

        t = self.invoke(res.loop, tracer, inv, on_published)
        if t is None:
            return
        dag = tracer.last("dag")
        res.traced_ms.append(t[0])
        res.add("dag", dag)
        calls = {c["name"]: ms(c) for c in tracer.children(dag)}
        res.add("workflow.calls", len(calls))
        res.add("workflow.self_ms", tracer.self_ms(dag))
        # staging materializes the composed plan: its own cost is the rest
        res.add("snapshots.stage_ms", calls["registry.stage_curated"] - plan_ms)
        res.add("snapshots.audit_ms", calls["registry.audit_yield"])
        res.add("snapshots.publish_ms", calls["registry.publish_curated"])


def curation_dag(spark, work: str, seed: int, seconds: float,
                 tracer: Tracer | None) -> Result:
    """The canonical curation DAG over one landed corpus, each invocation
    into a fresh snapshot table."""
    res = Result(CORPUS_DOCS)
    # warm up on a small corpus first (the first DAG in a fresh JVM is the
    # slowest), then at full size
    Curation(spark, os.path.join(work, "warm"), seed + 1, CORPUS_WARMUP_DOCS).invoke(res.warm)
    cur = Curation(spark, os.path.join(work, "main"), seed, CORPUS_DOCS)
    for _ in range(CORPUS_WARMUPS):
        cur.invoke(res.warm)
    t_end = time.perf_counter() + seconds
    it = 0
    while _keep_going(it, t_end, tracer is not None):
        if tracer is None:
            res.add_unit(cur.invoke(res.loop))
        else:
            inv = f"i{it}"
            plan_ms = cur.probe(tracer, inv, res)
            res.add_unit(_overhead_pair(res, lambda: cur.invoke(res.loop),
                                        lambda: cur.traced_dag(tracer, inv, res, plan_ms)))
        it += 1
    return res


WORKLOADS = {f.__name__: f for f in (csv_bulk, curation_dag)}


def run(name: str, spark, work: str, seed: int, seconds: float, traced: bool) -> Result:
    tracer = Tracer(spark) if traced else None
    t0 = time.perf_counter()
    res = WORKLOADS[name](spark, work, seed, seconds, tracer)
    log(f"{name}: inputs, warm-up and measurement took {time.perf_counter() - t0:.1f}s")
    if tracer is not None:
        tracer.resolve_jobs()
        res.tracer = tracer
    log(f"{name}: {res.attempted} ops, {res.failed} failed, unit wall ms="
        f"{[round(u) for u in res.units_ms]}, unit cpu ms={[round(u) for u in res.units_cpu_ms]}")
    return res
