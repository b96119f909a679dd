"""Cold Spark session launch, as every sync job pays it.

``launch(work)`` points every scratch location of the driver JVM and its
Python workers into ``work``, then times the program's ``get_spark``
plus a first trivial action.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
import time

# get_spark reads the driver heap size from SPARK_DRIVER_MEMORY (default
# 8g). The benchmark runs every sync as a small job with a 2 GiB driver:
# at the default, G1 grows the heap to 2-3 GiB on these inputs, on a
# machine other jobs share. Every timing and RSS figure is for this size.
DRIVER_MEMORY = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def launch(work: str):
    """Return ``(spark, seconds)`` for a cold ``get_spark`` + first action."""
    t0 = time.perf_counter()
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    tempfile.tempdir = None  # re-read TMPDIR
    from amazon_personalize_connectors_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=cores(),
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                # scratch files only: no heap or GC options, so G1 sizes
                # the heap as it would for the program
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Dderby.system.home={os.path.join(work, 'derby')}"
            ),
        },
    )
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop(spark) -> None:
    """Stop the session and wait until its JVM, and the Python workers
    under it, have exited. The JVM exits when its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
