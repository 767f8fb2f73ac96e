"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` in one JVM; the conf below is chosen so the
same logical plans survive a 1000-executor cluster: AQE on (runtime skew-join
and partition coalescing), Arrow for any Pandas-UDF exchange, explicit
shuffle-partition sizing instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl_workflows_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster, pass ``master=None`` with a pre-set config and these
    settings still apply; none of them are local-mode-specific.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus != "*" else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Size shuffles for the target, not the Spark default of 200.
        # ``shuffle.partitions`` is the non-AQE fallback; with AQE
        # coalescing on, every exchange STARTS from
        # ``initialPartitionNum`` (set high, 8× cores here, 10-20× on a
        # real fleet — see cluster_conf) and AQE merges down to the
        # advisory size. Starting high and coalescing is the direction
        # that survives a 100× scale-up: AQE can merge small partitions
        # at runtime but can never split an under-partitioned
        # non-skewed exchange upward.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(shuffle_partitions * 8, 256)),
        )
        # Let AQE coalesce the output partitioning of CACHED plans too
        # (off by default): a persisted relation downstream of any
        # exchange otherwise materializes at initialPartitionNum
        # partitions, and every consumer of the cache then pays
        # hundreds of near-empty tasks PER PASS — measured 512-task
        # iteration stages in cluster_duplicates' cached pair graph
        # (guide §2.2: fewer, larger partitions; this turns the knob
        # AQE already owns back on for caches).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # Arrow batches for every Python<->JVM exchange (Pandas UDFs etc.).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Runtime row-level join pruning: when one side of a shuffle join
        # is selective, inject a bloom filter of its join keys into the
        # other side's scan — at 100 TB this turns "shuffle the whole
        # fact table" into "shuffle the ~matching fraction". Pin it on
        # explicitly (engine contract, not a default we inherit).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Bucketed scans expose their per-bucket sort order (off by
        # default since 3.0 because many-files-per-bucket tables can't
        # honor it). operators/bucketed.py guarantees ONE file per bucket
        # at write time, so the order is real — exposing it lets the
        # recurring bucketed fact⋈fact join drop its Sort as well as its
        # Exchange (asserted in tests/test_bucketed_join.py).
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # Python workers must be able to import THIS package: Arrow
        # kernels reference module-level helpers (pickled by reference),
        # and a driver launched from another cwd with only a
        # sys.path.insert would otherwise strand the workers
        # (ModuleNotFoundError at first UDF batch). The package's parent
        # dir rides the workers' PYTHONPATH; a pre-set PYTHONPATH is
        # preserved after it. This assumes driver and executors share a
        # filesystem layout (local[*], or identical images); a cluster
        # that ships the package as an archive or wheel gets a first
        # entry that is dead there, or that shadows the shipped copy
        # with whatever sits at this path on the executor host.
        .config(
            "spark.executorEnv.PYTHONPATH",
            ":".join(
                p
                for p in (
                    os.path.dirname(
                        os.path.dirname(os.path.abspath(__file__))
                    ),
                    os.environ.get("PYTHONPATH", ""),
                )
                if p
            ),
        )
        # Deterministic timestamps regardless of host TZ.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(
    total_cores: int,
    executor_mem_gb: int = 32,
) -> dict[str, str]:
    """Recommended conf deltas for a real multi-executor deployment.

    The session defaults above are already cluster-safe; these are the
    knobs that *scale with fleet size* and can't have a one-size default:

    * shuffle partitions ≈ 2-3× total cores — small enough for low task
      overhead, big enough that AQE can only coalesce (it never splits a
      too-small partition count upward for non-skewed exchanges);
    * input partition size ≤ ~1/8 of per-task memory so a full row-group
      plus shuffle buffers never spill on a healthy task;
    * AQE advisory size tracks the input partition size so post-shuffle
      partitions stay uniform.
    """
    return {
        "spark.sql.shuffle.partitions": str(total_cores * 3),
        # pre-coalesce width for every AQE exchange: generous (20× cores)
        # so a 100 TB shuffle starts fine-grained and AQE merges down to
        # the advisory size — the cap on per-partition shuffle size this
        # sets is what keeps reducers spill-free at the target scale
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
            total_cores * 20
        ),
        "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(128 * 1024 * 1024),
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": str(
            16 * 1024 * 1024
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.memory.fraction": "0.6",
        "spark.sql.parquet.filterPushdown": "true",
    }
