"""SparkSession factory tuned for the lake engine.

Local testing runs ``local[N]`` (single JVM); the confs below are the ones
that matter identically on a 1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast demotion/promotion) so plans survive 100x data-scale changes
  without retuning.
- Cached plans may change their output partitioning
  (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``, off by
  default in Spark 4.1), so AQE coalesces a persisted operator
  intermediate too: a few hundred cached pairs read back as a task or
  two, not as ``spark.sql.shuffle.partitions`` near-empty ones.
- The driver JVM's young generation is a fixed share of its heap
  (``-XX:NewRatio=2``, one third) instead of G1's pause-time-driven
  sizing, which moves between 5% and 60% of the heap on timing alone: a
  run then touches the same amount of heap every time, so its resident
  memory is repeatable. Set through ``spark.driver.defaultJavaOptions``,
  which takes effect only when ``get_spark`` launches the JVM and which
  ``spark.driver.extraJavaOptions`` adds to rather than replaces.
- ``spark.sql.shuffle.partitions`` sized for the local test boxes; on a real
  cluster AQE's coalescing makes the initial number a ceiling, not a tuning
  knob.
- Arrow enabled for the (rare) Pandas-UDF paths (multimodal decode,
  vectorized similarity fallback) — Arrow batch transfer instead of pickled
  rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "hudi-delete-view-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # cap Arrow batches below G1's humongous-object threshold: at the
        # default 10k rows a 64-long signature batch is a ~32 MB single
        # allocation, and the 500k-doc soak showed GCLocker stalls; 2048
        # measured 25% faster on the 10x minhash soak, neutral at sf0.1
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # the lakeview Python DataSource (sources/pyds.py) prunes file
        # slices from pushed filters; off by default in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the events table stores TIMESTAMP(NANOS); read as long + convert
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # fixed young generation: repeatable resident memory (see above)
        .config("spark.driver.defaultJavaOptions", "-XX:NewRatio=2")
        .config("spark.ui.enabled", "false")
    )
    from .profile import SCALE_SPARK_CONFS, scale_mode

    if scale_mode():
        # scale profile: force skew-join splitting (an extra shuffle beats
        # a straggler at 1000 executors); runtime-settable confs, so they
        # also apply when the session already exists
        for k, v in SCALE_SPARK_CONFS.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        for k, v in SCALE_SPARK_CONFS.items():
            spark.conf.set(k, v)
        return spark
    return builder.getOrCreate()
