"""SparkSession factory with the engine's scale-oriented defaults.

Every knob here is chosen for the 100 TB / multi-executor target and merely
*scaled down* locally:

- AQE on (runtime coalescing, skew-join splitting) — the engine's answer to
  residual skew after explicit salting;
- Arrow self-destruct + reasonable batch size for the pandas-UDF hot path;
- shuffle partitions sized to cores locally; on a real cluster this is set
  to ~2-3x total executor cores via spark-submit conf;
- a generated-class cache that holds the engine's working set.  Spark keeps
  the whole-stage-codegen classes it compiled with Janino in one LRU cache,
  100 entries by default.  One ``series`` benchmark round (retention tiers,
  LOCF gap-fill, ``minmax_long``, its contract rows, continuous-rollup
  refreshes) uses ~146 distinct classes, so at the default every class is
  evicted before its next use and the round recompiles ~137 of them, every
  round.  A ``tokens`` round uses 36, and one pass of the non-stream
  contract queries at sf0.01 uses ~1,540.  The cache is sized to 4096
  entries so each of these is compiled once per JVM.

``spark.sql.codegen.cache.maxEntries`` is a static conf: the cache is a
JVM-global object inside Spark's ``CodeGenerator``, built at the first
codegen and sized from the conf of the session active then.  It has to be
set when the first session of the JVM is created; a later
``spark.conf.set`` cannot resize it.  Callers that build their own
``SparkSession`` should set the same value at creation.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tsdownsample-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.selfDestruct.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # generated-class cache: 36 classes per tokens round, ~146 per series
        # round, ~1,540 per sf0.01 contract pass; the default of 100 evicts a
        # series round's classes before their reuse.  Static and JVM-global
        # (CodeGenerator's cache is built at the first codegen), so it is
        # fixed here, when the JVM starts, not set per query.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
