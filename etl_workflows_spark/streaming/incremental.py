"""Incremental / streaming ingestion — the idempotent replacement for the
reference's newest-file-then-archive loop.

The reference's batch contract (SURVEY.md §2.6) is hand-rolled
micro-batching: pick the newest file by prefix, load, archive — and it has
an at-least-once hazard (a crash between BigQuery load and archival
re-appends on rerun, duplicating ``big_US_cars``). Structured Streaming's
file source is the Spark-native fix: the checkpoint tracks processed files
(exactly-once per file), ``Trigger.AvailableNow`` gives one-shot batch
runs (the cron-friendly shape), and ``cleanSource=archive`` reproduces the
reference's ARCHIVED/ convention without the crash window.

The coercion path is byte-identical to batch ingestion: the same line
reader + tokenizer + coercion expressions, all plain Catalyst expressions,
run inside the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_workflows_spark.operators.cache import SCRATCH_LEVEL

from etl_workflows_spark.operators.coerce import coerce_columns
from etl_workflows_spark.schema.registry import load_schema_file
from etl_workflows_spark.sources.csv_source import (
    LINE_SCHEMA,
    line_reader_options,
    tokenize_lines,
)


def incremental_csv_load(
    spark: SparkSession,
    source_dir: str,
    schema_path: str,
    checkpoint_dir: str,
    destination_table: str,
    archive_dir: str | None = None,
    skip_header: bool = True,
) -> None:
    """One AvailableNow run: ingest every not-yet-processed CSV under
    ``source_dir`` into ``destination_table`` (append), exactly once per
    file, then archive processed files.

    Unlike the batch pipeline's lexicographic top-1 (reference
    main.py:69-77), the stream processes *every* new file — same daily-cron
    usage, but no file is ever skipped because two arrived between runs,
    and no file is ever double-loaded because the run crashed mid-way.
    """
    schema_doc = load_schema_file(schema_path)
    n_fields = len(schema_doc["fields"])

    reader = spark.readStream.schema(LINE_SCHEMA).options(
        **line_reader_options(skip_header)
    ).option("maxFilesPerTrigger", "1000")
    if archive_dir:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    lines = reader.csv(source_dir)

    # The SAME tokenizer as batch ingestion — shared definition in
    # sources/csv_source.tokenize_lines, so the dialects cannot drift.
    cleaned = coerce_columns(tokenize_lines(lines, n_fields), schema_doc)

    # same name mapping + database bootstrap as every batch sink — a
    # reference-style 'project.dataset.table' fed straight to toTable
    # would resolve 'project' as a catalog and fail
    from etl_workflows_spark.sinks.writer import normalize_table_name

    spark = cleaned.sparkSession
    table = normalize_table_name(destination_table)
    if "." in table:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS `{table.split('.')[0]}`")
    query = (
        cleaned.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .toTable(table)
    )
    query.awaitTermination()


def streaming_hourly_rollup(
    events: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of the batch ``events_hourly`` query: event-time
    tumbling window with a watermark for late data.

    Apply to a ``readStream`` DataFrame with (ts TIMESTAMP, event_type,
    value, user_id); output mode append emits a window once the watermark
    passes its end — state is bounded by watermark horizon × groups.
    """
    # Watermarks require an LTZ event-time column; the corpus timestamps
    # are NTZ, so cast through LTZ for the stateful machinery and back to
    # NTZ on output (wall-time identity — the engine pins session TZ to
    # UTC, see queries/base.table).
    ntz_in = dict(events.dtypes).get("ts") == "timestamp_ntz"
    ev = events.withColumn("ts", F.col("ts").cast("timestamp")) if ntz_in else events
    hour = F.col("win.start")
    if ntz_in:
        hour = hour.cast("timestamp_ntz")
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            hour.alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
            "approx_users",
        )
    )


def streaming_dedup(
    events: DataFrame,
    key_cols: list[str] | None = None,
    event_time_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once event dedup on an unbounded stream: drop any row whose
    key was already seen within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes it — bounded state, unlike a batch dropDuplicates
    which would need the full history. This is the streaming twin of
    ``operators.dedup.drop_exact_duplicates`` for at-least-once upstream
    transports (the reference's rerun-after-crash duplicate hazard,
    SURVEY.md §2.6, solved at the stream layer).
    """
    key_cols = key_cols or ["event_id"]
    return events.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def _refresh_if_exists(spark, *tables: str) -> None:
    """Refresh the caller-session file index for every table a
    foreachBatch sink may have written (appends run in the micro-batch's
    cloned session; the caller's cached index would serve stale reads).
    Guarded: a run over an empty source executes zero batches and may
    never create the table — that no-op first run must not fail."""
    from etl_workflows_spark.sinks.writer import normalize_table_name

    for t in tables:
        name = normalize_table_name(t)
        if spark.catalog.tableExists(name):
            spark.catalog.refreshTable(name)


def stream_to_table_idempotent(
    stream_df: DataFrame,
    destination_table: str,
    keys: list[str],
    checkpoint_dir: str,
) -> None:
    """Exactly-once-to-TABLE streaming sink: each micro-batch lands via
    ``append_if_absent`` (anti-join MERGE shape) inside ``foreachBatch``.

    Two independent layers make a retry a no-op instead of a duplicate:
    the checkpoint dedupes *sources* (a crashed batch re-reads the same
    files), and the keyed anti-join dedupes *rows* (a re-delivered or
    overlapping batch can't re-insert keys already in the table). This is
    the end-to-end fix for the reference's at-least-once hazard when the
    sink is a queryable table rather than archived files (SURVEY §2.6).

    One AvailableNow run; returns when all available input is committed.
    """
    from etl_workflows_spark.sinks.writer import append_if_absent, normalize_table_name

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        # dropDuplicates first: the table anti-join can't catch two rows
        # with the same key arriving WITHIN one micro-batch (and the
        # first-write path has no table to anti-join against at all)
        append_if_absent(batch_df.dropDuplicates(keys), destination_table, keys)

    (
        stream_df.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_sink)
        .start()
        .awaitTermination()
    )
    _refresh_if_exists(stream_df.sparkSession, destination_table)


def stream_to_snapshots(
    stream_df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    query_name: str = "snapshot_sink",
) -> None:
    """Exactly-once streaming sink onto a snapshot-versioned table
    (sinks/snapshots.py): each micro-batch is one atomic ``commit`` with
    ``commit_key = f"{query_name}:{batch_id}"``.

    Structured Streaming's foreachBatch contract is at-least-once — after
    a crash between "sink ran" and "checkpoint advanced", the SAME
    batch_id is re-delivered. The snapshot layer's idempotent commit key
    turns that re-delivery into a no-op returning the already-published
    version, so the table gains exactly one snapshot per batch regardless
    of retries — transactional exactly-once without a table-format
    dependency, the same shape Delta's ``txnAppId``/``txnVersion`` uses.

    One AvailableNow run; returns when all available input is committed.
    """
    from etl_workflows_spark.sinks.snapshots import commit

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        commit(
            batch_df,
            table_dir,
            mode="append",
            commit_key=f"{query_name}:{batch_id}",
        )

    (
        stream_df.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .foreachBatch(_sink)
        .start()
        .awaitTermination()
    )


def streaming_near_dup_firewall(
    docs_stream: DataFrame,
    index_name: str,
    corpus_table: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> None:
    """Corpus-ingestion firewall: every arriving micro-batch of documents
    is NEAR-dup-checked — within the batch and against everything the
    corpus has ever accepted — before landing; survivors append to
    ``corpus_table`` and register in the near-dup index so later batches
    see them. The streaming composition of ``dedup.near_dup_incremental``
    (per-batch cost O(|batch| + matching index buckets), never
    O(|corpus|)) with the two-layer exactly-once discipline of
    ``stream_to_table_idempotent``.

    Retry semantics: checkpoint replays re-deliver the same files; the
    corpus append is keyed on doc_id (no double-insert) and the index
    append skips already-registered doc_ids. Index registration happens
    AFTER the corpus append commits, so a crash between the two re-runs
    the batch — near-dedup is re-checked, the corpus anti-join no-ops,
    and the index catches up. The index must exist
    (``dedup.build_near_dup_index`` over the initial corpus, possibly
    empty); (n, k, bands) must match the index's build parameters.

    One AvailableNow run; returns when all available input is committed.
    """
    from etl_workflows_spark.operators.dedup import (
        append_near_dup_fingerprints,
        near_dup_incremental,
    )
    from etl_workflows_spark.sinks.writer import (
        append_if_absent,
        normalize_table_name,
    )

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        # near_dup_incremental returns a checkpoint-backed (materialized)
        # frame and has already released its internal shingle persist —
        # the two writes below reuse the same materialization
        survivors = near_dup_incremental(
            batch_df, index_name, threshold, text_col, n, k, bands
        )
        try:
            append_if_absent(survivors, corpus_table, ["doc_id"])
            append_near_dup_fingerprints(
                survivors, index_name, text_col, n, k, bands
            )
        finally:
            from etl_workflows_spark.operators.cache import release_checkpoint

            release_checkpoint(survivors)

    (
        docs_stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_sink)
        .start()
        .awaitTermination()
    )
    _refresh_if_exists(
        docs_stream.sparkSession,
        corpus_table,
        f"{index_name}_bands",
        f"{index_name}_sh",
    )


def streaming_exact_dedup_firewall(
    docs_stream: DataFrame,
    index_table: str,
    corpus_table: str,
    checkpoint_dir: str,
    bloom_table: str | None = None,
    text_col: str = "text",
) -> None:
    """EXACT-dup twin of ``streaming_near_dup_firewall``: each arriving
    micro-batch is fingerprint-checked against everything ever accepted
    (``dedup.dedup_incremental``), survivors land in ``corpus_table`` and
    register in the fingerprint index — and, when ``bloom_table`` names a
    ``dedup.build_bloom_sidecar`` table, the Bloom fast path proves most
    arrivals new WITHOUT touching the index (identical results either
    way; the sidecar is folded forward after each accepted batch).

    Retry semantics match the near-dup firewall: corpus append is keyed
    on doc_id, the sidecar is folded BEFORE fingerprint registration
    (bit-idempotent, so a replayed fold is harmless; the reverse order
    would leave a permanent sidecar hole if a crash landed between the
    two appends — false "definitely new" verdicts forever after), and a
    replayed batch no-ops end-to-end.

    One AvailableNow run; returns when all available input is committed.
    """
    from etl_workflows_spark.operators.dedup import (
        append_bloom_sidecar,
        append_fingerprints,
        dedup_incremental,
    )
    from etl_workflows_spark.operators.cache import release_checkpoint
    from etl_workflows_spark.sinks.writer import (
        append_if_absent,
        normalize_table_name,
    )

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        survivors = dedup_incremental(
            batch_df, index_table, text_col, bloom_table=bloom_table
        ).localCheckpoint(eager=True, storageLevel=SCRATCH_LEVEL)
        try:
            append_if_absent(survivors, corpus_table, ["doc_id"])
            # bloom fold BEFORE fingerprint registration: the sidecar
            # fold is bit-idempotent (re-folding the same batch sets the
            # same bits), but the reverse order has a crash window —
            # fingerprints committed, bloom not — after which the replay
            # computes EMPTY survivors (the index already has the fps)
            # and the sidecar is left with a PERMANENT hole: a later doc
            # with the same text probes "definitely new" and a duplicate
            # enters the corpus
            if bloom_table is not None:
                append_bloom_sidecar(survivors, bloom_table, text_col)
            append_fingerprints(survivors, index_table, text_col)
        finally:
            release_checkpoint(survivors)

    (
        docs_stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_sink)
        .start()
        .awaitTermination()
    )
    refresh = [corpus_table, index_table]
    if bloom_table is not None:
        refresh.append(bloom_table)
    _refresh_if_exists(docs_stream.sparkSession, *refresh)
