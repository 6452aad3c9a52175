"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster — AQE handles runtime re-planning (partition
coalescing, skew joins), Arrow handles the Python boundary, and shuffle
partition count is sized by the driver via ``SPARK_GRAFT_CPUS``.

Python workers start from the engine's own daemon, ``hive_json_spark.worker``:
PySpark's daemon and worker unchanged, except that each task's import-cache
invalidation skips zip archives (``pyspark.zip``, the Spark jar), which it
would otherwise re-read in full on every task. The checkout must therefore be
importable on workers, from the cwd or ``PYTHONPATH``, as the kernels already
need it to be.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "hive-json-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus != "*" else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # per-task import-cache invalidation skips immutable zip archives (~0.3 s a task)
        .config("spark.python.daemon.module", "hive_json_spark.worker")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # v2 commits task output by direct rename into the destination dir
        # (v1 does a second job-level rename pass) — halves the fixed cost
        # of the many small state/sink writes; task-commit atomicity is
        # unchanged, which is the property the streaming sinks rely on
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off by default (test/CI noise); bench.py turns it on to read
        # per-stage shuffle/spill telemetry from the status REST API
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    # experiment hook (tools/config_ab.py): candidate settings are A/B'd
    # through here so the tool and the engine share ONE config block;
    # production code never passes extra_conf
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
