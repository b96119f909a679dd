"""SparkSession factory tuned for this engine.

Local mode mirrors the driver environment (local[$SPARK_GRAFT_CPUS]); the
config choices are the ones we'd ship on a real cluster: AQE on (runtime
re-planning, skew-join handling), explicit shuffle partitioning, UTC
session time zone (the reference's run timestamps are naive datetimes —
related_items_etl.py:36 — we pin UTC to keep plans deterministic), and
Arrow enabled for any Pandas-UDF path.

Cached plans may change their output partitioning
(``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``). By
default a ``persist``ed frame keeps the partitioning it was planned
with, so AQE cannot coalesce its shuffle partitions: a small cached
frame then runs one task per shuffle partition in every job that reads
it, and writes one file per partition. With the conf, AQE coalesces
the cached plan as it would an uncached one (its default
``parallelismFirst`` merges only partitions under 1 MB, so a large
cache keeps its parallelism). ``run_job``'s shared decorated frame and
``incremental_content_ingest``'s fresh rows are such caches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "apc-spark",
    cores: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``.
    ``shuffle_partitions`` defaults to 2x the core count — on a real
    cluster you would size this so that post-shuffle partitions fit in
    executor memory at the target data scale; AQE coalesces the excess.
    """
    # Python workers import this package by reference when executing
    # mapPartitions/mapInPandas closures; ensure the package root is on
    # their PYTHONPATH regardless of the caller's cwd (the env var is
    # inherited JVM → worker daemon → worker).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    cores = str(cores or os.environ.get("SPARK_GRAFT_CPUS") or "*")
    if shuffle_partitions is None:
        ncore = os.cpu_count() or 8 if cores == "*" else int(cores)
        shuffle_partitions = max(8, 2 * ncore)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # 10 MB default is sized for small executors; with 100+ GiB
        # executors a 64 MB dimension (mapping/metadata) is cheap to
        # broadcast and saves a full shuffle+sort of the fact side.
        # AQE re-checks against RUNTIME sizes, so this never force-
        # broadcasts something that turned out big.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
