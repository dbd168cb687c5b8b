"""SparkSession factory with scale-sane defaults.

The reference training's "scheduler choice" knob (sync / threads / processes /
distributed — SURVEY.md §1.1) collapses in Spark to the master URL; everything
else here is the config we would ship to a 1000-executor cluster, with local
fallbacks for the test harness:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing),
- Arrow on (every Python-boundary op is batched, never row-at-a-time),
- session timezone pinned to UTC (fixtures are tz-naive; keeps ltz/ntz
  conversions identity),
- ``spark.sql.legacy.parquet.nanosAsLong`` — the driver fixtures write
  ``events.ts`` as INT64 TIMESTAMP(NANOS) which Spark's reader otherwise
  rejects; see sources.parquet for the conversion back to a timestamp.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe (and necessary) to set on an externally-provided
# session at runtime — applied by sources.load_table too, so the engine
# behaves the same under the driver's own SparkSession.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    # No global AQE partition floor: the fan-out exchanges that need
    # post-shuffle parallelism pin it locally (partitioning.pin_fanout,
    # whose module docstring records why r18's global floor was removed).
    # InferFiltersFromGenerate synthesizes `size(arr) > 0 AND isnotnull(arr)`
    # from every explode(), and predicate pushdown then drags the FULL array
    # expression below the nearest exchange — for this engine's text/array
    # pipelines that re-evaluates expensive higher-order expressions (n-gram
    # shingling, tokenization) a second time on the narrow pre-shuffle side
    # (measured 2.6x on decontam_check). The inferred filters can never reach
    # parquet as pushed filters (HOFs unsupported there), so excluding the
    # rule costs nothing and removes the duplicated compute.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def get_spark(
    app_name: str = "savio_training_dask_2019_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 4).
    ``shuffle_partitions`` defaults to 2x the local cores — at cluster scale
    this must instead be sized so post-shuffle partitions land near 128 MB
    (AQE coalescing makes the exact number forgiving).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions if shuffle_partitions is not None else max(2 * cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=RUNTIME_CONFS)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # floor on scan splits: small inputs (one sub-128MB file) otherwise
        # scan single-task; at cluster scale "min splits ≈ default
        # parallelism" is the same correct floor (measured: 1.6x on the
        # sf0.1 headline aggregate). Floor = cores, not 2x: the floor only
        # exists to occupy every core on a single-file scan, and doubling it
        # just doubles empty-split scheduling overhead on small files
        # (row-group granularity caps real splits anyway).
        .config("spark.sql.files.minPartitionNum", str(cpus))
        # let AQE re-plan shuffles that feed or read persisted plans —
        # without this a .persist() freezes its shuffle partitioning, so
        # coalescing never fires around cached dedup indexes (measured 3.5x
        # on ngram_jaccard: its tiny cached inverted index otherwise pins
        # 64 near-empty tasks per downstream stage)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Pin the runtime-settable confs this engine relies on.

    Idempotent; called by the source loaders so queries behave identically
    under a session we did not create (the correctness driver's session).
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable on this build — loader falls back gracefully
    return spark
