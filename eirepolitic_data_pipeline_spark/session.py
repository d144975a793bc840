"""SparkSession factory.

Local testing runs one JVM with N threads, but every config here is chosen so
the same plans scale to a multi-executor cluster at ~100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting, dynamic
  broadcast demotion) — the single most important scale knob.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster AQE re-derives it from ``advisoryPartitionSizeInBytes``.
- Arrow enabled for all pandas interchange (Pandas UDF / mapInPandas paths).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-location-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's shuffle-partition count, parsed defensively.

    Operators that size explicit repartitions read
    ``spark.sql.shuffle.partitions`` — but the conf is not guaranteed
    numeric on every platform (Databricks AQE auto-tuning sets it to
    "auto"), and a bare ``int()`` would fail the whole job over a value
    that only ever feeds a partition-count heuristic. Non-numeric values
    fall back to the cluster's default parallelism, the same quantity AQE
    re-derives its width from."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def get_spark(app_name: str = "eirepolitic_data_pipeline_spark",
              cores: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cores`` only affects local mode; on a cluster the master/yarn/k8s
    settings come from spark-submit and this factory only applies SQL confs.
    """
    n = cores or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Without this, a .cache() anywhere in a plan pins the cached
        # sub-plan's shuffle partitioning (no AQE coalescing), so builders
        # that cache bounded aggregate frames (tables/gold.py) materialize
        # hundreds of near-empty partitions. Trading exact cached-output
        # partitioning for AQE re-planning is right for this workload.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # A varied workload generates hundreds of unique codegen classes; the
        # JVM default 240m code cache fills mid-run, the JIT shuts off, and
        # interpretation-heavy operators (higher-order functions especially)
        # slow 5-10x. Standard Spark-operations fix: bigger cache + flushing.
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing")
        # Spark's default of 100 generated classes is fewer than one weekly
        # merge uses, so nothing compiled would be reused: one merge of five
        # tables made ~270 Janino compiles at 100 entries, 6 at 2000.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    # Only force a master when none is configured (tests / local bench).
    if not os.environ.get("SPARK_MASTER") and "SPARK_CONNECT_MODE_ENABLED" not in os.environ:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str,
                tables: tuple[str, ...] = ("region", "nation", "customer", "supplier",
                                           "part", "orders", "lineitem", "events",
                                           "documents", "embeddings")) -> dict:
    """Load the test star schema as DataFrames and register temp views."""
    out = {}
    for t in tables:
        df = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        df.createOrReplaceTempView(t)
        out[t] = df
    return out


def local_frame(spark: SparkSession, rows, schema,
                rows_per_slice: int = 25_000):
    """``createDataFrame`` for a SMALL driver-side row list without the
    default parallelize fan-out (r11 optimization round).

    Plain ``spark.createDataFrame(list, schema)`` parallelizes the list
    into ``defaultParallelism`` slices — a 20-row pinned query batch or a
    dim²-row moment frame becomes a 32-partition RDD scan, and every
    downstream stage over it (broadcast builds, probe explodes, sorts,
    the final action) schedules 32 near-empty tasks; a trailing
    ``orderBy`` additionally pays its range-sampling job over all 32.
    Sizing the slice count from the row count (1 slice per
    ``rows_per_slice``, capped by the session parallelism) keeps these
    driver-born frames one-task-sized at sample scale while still
    splitting a genuinely large local list."""
    n_rows = len(rows)
    p = spark.sparkContext.defaultParallelism
    # true ceil (r11 ADVICE): the old ``// + 1`` gave 2 slices at exactly
    # rows_per_slice rows, off-by-one vs the documented 1-per-25k
    n = max(1, min(-(-n_rows // rows_per_slice), p)) if n_rows else 1
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n), schema)
