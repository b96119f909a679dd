"""K1/K2 — JSONL sinks with Hive-style date/time partition paths.

Reference writes to ``output/<connector>/year=YYYY/month=MM/day=DD/
time=HHMMSS/`` with the partition values encoded in the path string
(related_items_etl.py:299-315) — one run = one leaf directory,
Hive-readable. We keep that layout (downstream partition pruning works
unchanged) and always gzip, as the Lambda half expects
(enqueue.py:40-43 is gzip-aware).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.sources.readers import hadoop_path


def partitioned_output_path(base: str, connector: str, run_datetime: datetime) -> str:
    """``<base>/<connector>/year=…/month=…/day=…/time=HHMMSS`` (ri:303)."""
    return (
        f"{base.rstrip('/')}/{connector}/year={run_datetime:%Y}/"
        f"month={run_datetime:%m}/day={run_datetime:%d}/time={run_datetime:%H%M%S}"
    )


def _write_jsonl_gz(df: DataFrame, path: str) -> str:
    df.write.mode("overwrite").option("compression", "gzip").json(path)
    return path


def write_connector_output(
    df: DataFrame, base: str, connector: str, run_datetime: datetime
) -> str:
    """K1 — per-connector decorated output (ri:299-315)."""
    return _write_jsonl_gz(df, partitioned_output_path(base, connector, run_datetime))


def write_errors(errors: DataFrame, base: str, run_datetime: datetime) -> str | None:
    """K2 — failed inference rows, only when nonempty (ri:114-133).
    The ``isEmpty`` probe is a limit-1 job: an ``observe()`` upstream of
    ``errors`` must have fired already, or the probe fulfils it with
    partial counts."""
    if errors.isEmpty():
        return None
    path = partitioned_output_path(base, "errors", run_datetime)
    return _write_jsonl_gz(errors, path)


def compact_dataset(
    spark,
    in_path: str,
    out_path: str,
    target_rows_per_file: int,
    order_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> int:
    """Small-files compaction: rewrite a dataset into files of
    ~``target_rows_per_file`` rows each. The streaming/incremental
    sinks necessarily produce many small files (one+ per trigger);
    scan cost at 100 TB is dominated by file COUNT (listing, footer
    reads, task scheduling), so periodic compaction is part of the
    pipeline, not an afterthought.

    Row count comes from one count job; the rewrite uses
    ``repartitionByRange`` over ``order_cols`` when given (files then
    carry non-overlapping key ranges — min/max pruning stays effective
    after compaction, the zorder_layout lesson) or a plain round-robin
    repartition otherwise. maxRecordsPerFile caps stragglers. Returns
    the part-file count written, listed through the Hadoop FileSystem
    (any scheme, like the paths themselves).

    ``out_path`` must differ from ``in_path`` once both are qualified
    (``/x`` and ``file:/x`` are the same directory): the source read is
    lazy, so an in-place overwrite would truncate the input while the
    rewrite is still scanning it and lose data. Compact to a fresh
    directory and swap pointers (the cdc_sink versioning pattern)."""
    out_fs, out_qualified = hadoop_path(spark, out_path)
    if out_qualified.equals(hadoop_path(spark, in_path)[1]):
        raise ValueError(
            "compact_dataset: out_path must differ from in_path — an "
            "in-place overwrite truncates the lazily-read source; "
            "write to a fresh directory and swap pointers"
        )
    df = spark.read.format(fmt).load(in_path)
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))
    if order_cols:
        df = df.repartitionByRange(n_files, *[F.col(c) for c in order_cols])
    else:
        df = df.repartition(n_files)
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
        .format(fmt)
        .save(out_path)
    )
    parts = spark._jvm.org.apache.hadoop.fs.Path(out_qualified, "part-*")
    return len(out_fs.globStatus(parts))
