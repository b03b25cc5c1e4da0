"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench.py, perfbench and
spark-submit entry points share the same tuned session. Every setting and
why it is there:

- ``master``: ``SPARK_GRAFT_MASTER``, else ``local[SPARK_GRAFT_CPUS]``,
  else ``local[*]`` (one task thread per core the JVM sees; a fixed
  thread count above the core count only adds contention).
- ``spark.sql.shuffle.partitions`` = ``config.shuffle_partitions``: the
  pre-coalesce width of every exchange; on a real cluster override it via
  spark-submit ``--conf``.
- AQE on, with partition coalescing and skew-join splitting: runtime
  re-planning sizes each exchange to its data (at most the 64 MB advisory
  target per partition) and splits hot join keys.
- ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true``: let
  AQE coalesce the plans ``run_pipeline`` persists as well (exact_groups,
  features, blocking_keys, candidate_pairs, pair_scores, clusters).
  Without it a cached stage keeps all ``shuffle_partitions`` output
  partitions, and every Arrow-UDF stage downstream of it runs one Python
  task per partition, however few rows each holds. On a 4-core host with
  Spark 4.1.2 a Python UDF task costs about 0.26 core-s regardless of its
  size: 32 tasks of a trivial pandas UDF over 32,000 rows took 9.8 Python
  core-s, 4 tasks took 1.2. About 94 % of that is
  ``importlib.invalidate_caches()``, which PySpark's worker calls on every
  task (``worker_util.setup_spark_files``); it re-reads the ~1,300-entry
  ``pyspark.zip`` directory once per zipimporter. The task count is the
  lever the engine controls: on the 2,000-file ``er_full`` benchmark a
  pass went from 543 tasks to 47. The cost: a coalesced cache no longer
  advertises its hash partitioning, so a join reading it may add an
  exchange (SCALE.md).
- ``spark.sql.codegen.cache.maxEntries=2000``: one ER pass generates about
  150 classes, more than the default 100-entry cache holds, so every warm
  pass recompiled them and HotSpot re-JITed the result (8-20 s of JIT CPU
  per ~11 s pass measured on the same host). With 2,000 entries a warm
  pass compiles a handful. Static conf: it takes effect only when the
  session is first created.
- Arrow enabled + bounded batch size (large ``content`` strings must not
  blow the Python worker, SURVEY.md §7.4.4).
- Session time zone UTC, so timestamps do not depend on the host.
- Driver heap from ``SPARK_DRIVER_MEMORY`` (default 8g); UI off.
- Broadcast joins up to 64 MB (default 10 MB): a join side that small
  skips the shuffle.
- ``config.extra_spark_conf`` last, so a caller can override any of these.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from sbb_ned_spark.config import DEFAULT_CONFIG, PipelineConfig


def get_spark(
    app_name: str = "sbb_ned_spark",
    master: str | None = None,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[{}]".format(
        os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(config.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(config.arrow_max_records_per_batch),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in config.extra_spark_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
