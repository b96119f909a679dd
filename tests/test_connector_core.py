"""Connector-core contracts: run_job's Spark job count per state format,
job-type validation in the readers and the job, and compact_dataset
over plain paths and ``file:`` URIs."""

import glob
from datetime import datetime, timezone

import pytest

from amazon_personalize_connectors_spark.config import PipelineConfig
from amazon_personalize_connectors_spark.plans.job import run_job
from amazon_personalize_connectors_spark.sinks.jsonl import compact_dataset
from amazon_personalize_connectors_spark.sources.readers import (
    parse_batch_inference_drift,
    read_batch_inference,
)
from test_job import CONFIG_JSON, RECS, _write_inputs


def _config(day):
    return PipelineConfig.from_dict(
        CONFIG_JSON,
        job_name="job-under-test",
        run_datetime=datetime(2026, 8, day, 9, 30, tzinfo=timezone.utc),
    )


def _spark_jobs(spark, group, fn):
    """Run ``fn`` under job group ``group``; return how many Spark jobs
    it started (broadcast and subquery jobs inherit the group)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# (first run, second run over the first run's state) on the test_job
# inputs: two connectors, delta check on, errors saved
@pytest.mark.parametrize(
    "state_format, expected", [("json", [20, 24]), ("digest", [24, 18])]
)
def test_run_job_spark_job_count(spark, tmp_path, state_format, expected):
    root = str(tmp_path / "job")
    _write_inputs(root, RECS)
    counts = [
        _spark_jobs(
            spark,
            f"run-job-{state_format}-{run}-{tmp_path.name}",
            lambda: run_job(
                spark, "related_items", root, _config(13 + run),
                state_format=state_format,
            ),
        )
        for run in range(2)
    ]
    assert counts == expected


def test_unknown_job_type_is_rejected(spark, tmp_path):
    root = str(tmp_path / "job")
    _write_inputs(root, RECS)
    with pytest.raises(ValueError, match="relatd_items"):
        read_batch_inference(spark, f"{root}/batch_inference", "relatd_items")
    lines = spark.createDataFrame([("{}",)], "value string")
    with pytest.raises(ValueError, match="relatd_items"):
        parse_batch_inference_drift(lines, job_type="relatd_items")

    def bad_job():
        with pytest.raises(ValueError, match="relatd_items"):
            run_job(spark, "relatd_items", root, _config(13))

    # the job type is checked before any read
    assert _spark_jobs(spark, f"bad-job-type-{tmp_path.name}", bad_job) == 0


@pytest.mark.parametrize("scheme", ["", "file:"], ids=["plain", "file-uri"])
def test_compact_dataset_paths_and_uris(spark, tmp_path, scheme):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    spark.range(0, 100).repartition(4).write.parquet(src)
    with pytest.raises(ValueError, match="out_path must differ"):
        compact_dataset(spark, src, scheme + src, target_rows_per_file=50)
    n = compact_dataset(spark, src, scheme + out, target_rows_per_file=50)
    assert n == len(glob.glob(f"{out}/part-*")) > 0
    assert spark.read.parquet(out).count() == 100
