"""Connector-core contracts: run_job's Spark job and task counts, its
release of the cached scan and shared frame when a run fails, its last
snapshot surviving a failed sync-state write, each connector's output
and state from the shared frame matching its own pipeline, the keyword
options of run_job and the pipelines, job-type validation in the
readers and the job, compact_dataset over plain paths and ``file:``
URIs, and the flat digest state store's file count (one per small
trigger) and reading of the earlier ``bucket=`` layout."""

import dataclasses
import glob
import inspect
import json
import os
import shutil
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.config import ConnectorConfig, PipelineConfig
from amazon_personalize_connectors_spark.operators.delta import (
    append_state_digests,
    compact_state_digests,
    read_state_digests,
    record_digests,
)
from amazon_personalize_connectors_spark.plans import job
from amazon_personalize_connectors_spark.plans.job import run_job
from amazon_personalize_connectors_spark.plans.pipeline import (
    related_items_pipeline,
    user_personalization_pipeline,
)
from amazon_personalize_connectors_spark.sinks.jsonl import compact_dataset
from amazon_personalize_connectors_spark.sources.readers import (
    parse_batch_inference_drift,
    read_batch_inference,
    read_item_metadata,
    read_last_sync_state,
    read_user_item_mapping,
    split_corrupt,
)
from amazon_personalize_connectors_spark.streaming.incremental import (
    incremental_content_ingest,
)
from test_job import CONFIG_JSON, RECS, _read_jsonl_tree, _write_inputs


def _config(day):
    return PipelineConfig.from_dict(
        CONFIG_JSON,
        job_name="job-under-test",
        run_datetime=datetime(2026, 8, day, 9, 30, tzinfo=timezone.utc),
    )


def _spark_jobs(spark, group, fn, tasks=False):
    """Run ``fn`` under job group ``group``; return how many Spark jobs
    it started (broadcast and subquery jobs inherit the group), or with
    ``tasks`` the pair (jobs, tasks run by their stages; a skipped
    stage runs none)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    if not tasks:
        return len(jobs)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    return len(jobs), sum(tracker.getStageInfo(s).numCompletedTasks for s in stages)


# (jobs, tasks) of a first run and of a second run over the first run's
# state, on the test_job inputs: two connectors, delta check on, errors
# saved; the state is a JSON snapshot. The task count fails when a
# cached frame keeps every shuffle partition instead of letting AQE
# coalesce it.
@pytest.mark.parametrize("state_format, expected", [("json", [(11, 11), (15, 15)])])
def test_run_job_spark_job_count(spark, tmp_path, state_format, expected):
    root = str(tmp_path / "job")
    _write_inputs(root, RECS)
    counts = [
        _spark_jobs(
            spark,
            f"run-job-{run}-{tmp_path.name}",
            lambda: run_job(spark, "related_items", root, _config(13 + run)),
            tasks=True,
        )
        for run in range(2)
    ]
    assert counts == expected
    assert glob.glob(f"{root}/output/braze/state/part-*.{state_format}")


def test_failed_run_job_releases_cached_scan(spark, tmp_path, monkeypatch):
    """A run that raises after its scan was cached must release it:
    cached plans are keyed by plan text, so a leaked cache would hand
    the next run over the same (rewritten) inputs the old rows."""
    root = str(tmp_path / "job")
    _write_inputs(root, RECS)
    real_write = job.write_connector_output

    def write_then_fail(*args):
        real_write(*args)  # materializes the cached scan
        raise RuntimeError("sink down")

    monkeypatch.setattr(job, "write_connector_output", write_then_fail)
    spark.catalog.clearCache()  # what earlier test modules left cached
    cache = spark._jsparkSession.sharedState().cacheManager()
    with pytest.raises(RuntimeError, match="sink down"):
        run_job(spark, "related_items", root, _config(13))
    monkeypatch.undo()
    assert cache.isEmpty()  # the scan and the shared decorated frame

    changed = [dict(RECS[0], output={"recommendedItems": ["201"]}), *RECS[1:]]
    _write_inputs(root, changed)
    report = run_job(spark, "related_items", root, _config(14))
    assert cache.isEmpty()
    by_user = {
        r["userId"]: [rec["itemId"] for rec in r["recommendations"]]
        for r in _read_jsonl_tree(report.output_paths["braze"])
    }
    assert by_user["u1"] == ["201"]


def test_failed_state_write_keeps_last_snapshot(spark, tmp_path, monkeypatch):
    """A sync-state write that fails mid-job must leave the previous
    snapshot in place: the next run then delivers what a clean re-run
    of the failed one would have, instead of failing to read an empty
    ``state/``."""
    changed = [dict(RECS[0], output={"recommendedItems": ["201"]}), *RECS[1:]]

    def delivered(report):
        return {
            name: sorted(json.dumps(r, sort_keys=True) for r in _read_jsonl_tree(p))
            for name, p in report.output_paths.items()
        }

    # reference: run 1, then a clean run 2 on the changed inputs
    ref_root = str(tmp_path / "ref")
    _write_inputs(ref_root, RECS)
    run_job(spark, "related_items", ref_root, _config(13))
    _write_inputs(ref_root, changed)
    want = run_job(spark, "related_items", ref_root, _config(15))

    root = str(tmp_path / "job")
    _write_inputs(root, RECS)
    run_job(spark, "related_items", root, _config(13))

    @F.udf("string")
    def fail_on_u1(user_id):
        if user_id == "u1":
            raise ValueError("state write fails")
        return user_id

    real_finish = job._finish

    def failing_state(*args):
        res = real_finish(*args)
        return dataclasses.replace(
            res, pre_delta=res.pre_delta.withColumn("userId", fail_on_u1("userId"))
        )

    _write_inputs(root, changed)
    monkeypatch.setattr(job, "_finish", failing_state)
    with pytest.raises(Exception, match="state write fails"):
        run_job(spark, "related_items", root, _config(14))
    monkeypatch.undo()

    got = run_job(spark, "related_items", root, _config(15))
    assert got.delivered_rows == want.delivered_rows
    assert got.delivered_rows["braze"] == 2  # u1 and u2 (item 100 changed)
    assert delivered(got) == delivered(want)
    assert got.state_paths == {
        name: f"{root}/output/{name}/state" for name in ("braze", "jsonl")
    }
    assert not os.path.exists(f"{root}/output/braze/state__next")


SHARED_CONNECTORS = (
    # a reordered subset, every field, and a capped subset: the first two
    # share one frame decorated with every field, the third its own
    ConnectorConfig("subset", item_metadata_fields=("price", "name")),
    ConnectorConfig("all"),
    ConnectorConfig("top2", item_metadata_fields=("name",), max_recommendations=2),
)


def _write_shared_inputs(root, job_type, metadata, changed):
    key = "itemId" if job_type == "related_items" else "userId"
    recs = [
        # the null rec is dropped by the re-nest, so a cap of 2 keeps
        # one rec here, where slicing the finished array would keep two
        ("100", ["200", None, "201", "202"]),
        ("101", ["201", "999", "202"] if changed else ["201", "999"]),
        ("102", []),
    ]
    lines = [{"input": {key: k}, "output": {"recommendedItems": r}} for k, r in recs]
    lines.append({"input": {key: "bad"}, "error": "ITEM_NOT_IN_DATASET"})
    _write_inputs(root, lines)
    if not metadata:
        shutil.rmtree(f"{root}/item_metadata")
    elif changed:
        with open(f"{root}/item_metadata/items.json", "a") as f:
            f.write('{"id": "202", "name": "Gizmo", "price": 4.0}\n')


@pytest.mark.parametrize("metadata", [True, False], ids=["metadata", "no-metadata"])
@pytest.mark.parametrize("job_type", ["related_items", "user_personalization"])
def test_run_job_shared_frame_matches_own_pipelines(
    spark, tmp_path, monkeypatch, job_type, metadata
):
    """Each connector's output and state, read from run_job's shared
    decorated frame, have the rows and the exact schema (nullability
    included) of the connector's own pipeline, on a first run and on a
    second run's delta against the JSON state."""
    root = str(tmp_path / "job")
    written = {}

    def recording(fn, kind):
        def record(df, *args):
            name = args[1] if kind == "output" else args[0].split("/")[-2]
            written[kind, name] = (df.schema, sorted(map(repr, df.collect())))
            return fn(df, *args)
        return record

    monkeypatch.setattr(
        job, "write_connector_output", recording(job.write_connector_output, "output")
    )
    monkeypatch.setattr(job, "write_sync_state", recording(job.write_sync_state, "state"))
    for run, changed in enumerate([False, True]):
        _write_shared_inputs(root, job_type, metadata, changed)
        config = PipelineConfig(
            batch_inference_path=f"{root}/batch_inference",
            connectors=SHARED_CONNECTORS,
            perform_delta_check=True,
            run_datetime=datetime(2026, 8, 13 + run, tzinfo=timezone.utc),
        )
        batch, _ = split_corrupt(
            read_batch_inference(spark, f"{root}/batch_inference", job_type), cache=False
        )
        meta = read_item_metadata(spark, f"{root}/item_metadata")
        want = {}
        for connector in SHARED_CONNECTORS:
            state = read_last_sync_state(
                spark, f"{root}/output/{connector.name}/state"
            )
            if job_type == "related_items":
                mapping = read_user_item_mapping(spark, f"{root}/user_item_mapping")
                res = related_items_pipeline(batch, mapping, meta, connector, config, state)
            else:
                res = user_personalization_pipeline(batch, meta, connector, config, state)
            for kind, df in (("output", res.decorated), ("state", res.pre_delta)):
                want[kind, connector.name] = (df.schema, sorted(map(repr, df.collect())))
        written.clear()
        report = run_job(spark, job_type, root, config)
        assert written == want, f"run {run}"
        assert report.delivered_rows == {
            name: len(rows) for (kind, name), (_, rows) in want.items() if kind == "output"
        }
    assert report.delivered_rows["subset"] > 0  # the second run has a delta


def _keyword_options(fn):
    return [
        name
        for name, p in inspect.signature(fn).parameters.items()
        if p.default is not inspect.Parameter.empty
    ]


def test_connector_entry_points_keyword_options():
    """Sync state is always the JSON snapshot and the pipelines never
    cache: no state-format or cache option on run_job or the pipelines,
    and no legacy re-nest switch (q:renest_legacy_window builds that
    plan from the operators)."""
    assert _keyword_options(run_job) == []
    for pipeline in (related_items_pipeline, user_personalization_pipeline):
        assert _keyword_options(pipeline) == ["state"]


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


def _parquet_files(path):
    return [
        os.path.join(d, n)
        for d, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    ]


def test_digest_store_writes_few_flat_files(spark, tmp_path):
    """Each trigger appends at most one file per write task (no
    per-bucket fan-out); test_delivery's two waves: 50 docs, then 30
    of which 20 repeat."""
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    triggers = []

    def run(ckpt):
        stream = spark.readStream.schema("doc_id long, text string").parquet(landing)
        q = incremental_content_ingest(
            stream, state, str(tmp_path / ckpt), lambda df, i: triggers.append(i)
        )
        q.awaitTermination(120)

    for lo, hi, ckpt in [(0, 50, "ck1"), (30, 60, "ck2")]:
        spark.createDataFrame(
            [(i, f"doc body {i}") for i in range(lo, hi)], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(landing)
        run(ckpt)

    files = _parquet_files(state)
    limit = int(spark.conf.get("spark.sql.shuffle.partitions")) * len(triggers)
    assert 0 < len(files) <= limit
    assert not glob.glob(f"{state}/bucket=*")
    assert read_state_digests(spark, state).count() == 60


def test_digest_append_writes_one_file_per_trigger(spark, tmp_path):
    """A small trigger's fresh rows are cached and AQE may coalesce the
    cached plan, so each trigger appends one digest file, not one per
    shuffle partition."""
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    for lo in (0, 20):
        spark.createDataFrame(
            [(i, f"doc body {i}") for i in range(lo, lo + 30)], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(landing)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    query = incremental_content_ingest(
        stream, state, str(tmp_path / "ckpt"), lambda df, i: None
    )
    assert len(query.recentProgress) == 2
    assert len(_parquet_files(state)) == 2
    assert read_state_digests(spark, state).count() == 50


def _digest_set(df):
    return {(r.h1, r.h2) for r in df.collect()}


def test_digest_store_reads_and_compacts_bucket_layout(spark, tmp_path):
    """A store written in the earlier ``partitionBy("bucket")`` layout
    still reads in full after a flat append, and compaction keeps every
    digest and leaves a flat store."""
    path = str(tmp_path / "state_digests")
    docs = spark.range(0, 110).select(
        "id", F.concat(F.lit("doc "), F.col("id")).alias("text")
    )
    old, new = docs.where("id < 100"), docs.where("id >= 90")
    record_digests(old).withColumn(
        "bucket", F.pmod(F.col("h1"), F.lit(64))
    ).write.partitionBy("bucket").parquet(path)
    append_state_digests(new, path)

    expected = _digest_set(record_digests(docs))
    stored = read_state_digests(spark, path)
    assert stored.count() == 120  # 100 old + 20 new, 10 of them repeats
    assert _digest_set(stored) == expected

    compact_state_digests(spark, path)
    assert not glob.glob(f"{path}/bucket=*")
    assert all(os.path.dirname(f) == path for f in _parquet_files(path))
    flat = spark.read.parquet(path)
    assert set(flat.columns) == {"h1", "h2"}
    assert flat.count() == 110 and _digest_set(flat) == expected
