"""Full config-driven job runs over a reference-layout job root,
including the delta + state-write loop across runs that repeat,
change and revert the inputs."""

import gzip
import json
import os
from datetime import datetime, timezone

import pytest

from amazon_personalize_connectors_spark.config import PipelineConfig
from amazon_personalize_connectors_spark.plans.job import run_job

CONFIG_JSON = {
    "batchInferencePath": "unused",
    "performDeltaCheck": True,
    "saveBatchInferenceErrors": True,
    "connectors": {
        "braze": {
            "itemMetadataFields": ["name", "price"],
            "attributePrefix": "recs_",
        },
        "jsonl": {},
    },
}


def _write_inputs(root, recs_lines):
    os.makedirs(f"{root}/batch_inference", exist_ok=True)
    with open(f"{root}/batch_inference/part-0.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in recs_lines) + "\n")
    os.makedirs(f"{root}/user_item_mapping", exist_ok=True)
    with open(f"{root}/user_item_mapping/map.csv", "w") as f:
        f.write("USER_ID,ITEM_ID\nu1,100\nu2,100\nu3,101\n")
    os.makedirs(f"{root}/item_metadata", exist_ok=True)
    with open(f"{root}/item_metadata/items.json", "w") as f:
        f.write('{"id": "200", "name": "Widget", "price": 9.5}\n')
        f.write('{"id": "201", "name": "Gadget", "price": 19.5}\n')


RECS = [
    {"input": {"itemId": "100"}, "output": {"recommendedItems": ["200", "201"]}},
    {"input": {"itemId": "101"}, "output": {"recommendedItems": ["201", "999"]}},
    {"input": {"itemId": "bad"}, "error": "ITEM_NOT_IN_DATASET"},
]


def _read_jsonl_tree(path):
    rows = []
    for r, _, files in os.walk(path):
        for fn in files:
            full = os.path.join(r, fn)
            if fn.endswith(".gz"):
                with gzip.open(full, "rt") as f:
                    rows += [json.loads(l) for l in f]
            elif fn.endswith(".json"):
                rows += [json.loads(l) for l in open(full)]
    return rows


@pytest.fixture()
def config():
    return PipelineConfig.from_dict(
        CONFIG_JSON,
        job_name="job-under-test",
        run_datetime=datetime(2026, 8, 13, 9, 30, tzinfo=timezone.utc),
    )


def test_run_job_end_to_end_with_delta_loop(spark, tmp_path, config):
    root = str(tmp_path / "job")
    _write_inputs(root, RECS)

    report = run_job(spark, "related_items", root, config)
    assert report.n_errors == 1 and report.error_path is not None
    assert report.n_corrupt == 0
    # item 100 → u1,u2; item 101 → u3
    assert report.delivered_rows["braze"] == 3
    rows = _read_jsonl_tree(report.output_paths["braze"])
    by_user = {r["userId"]: r for r in rows}
    assert by_user["u1"]["recommendations"][0] == {
        "name": "Widget", "price": 9.5, "itemId": "200"
    }
    # metadata miss keeps bare itemId
    assert by_user["u3"]["recommendations"][1] == {"itemId": "999"}
    # jsonl connector got all fields (default meta.*)
    jsonl_rows = _read_jsonl_tree(report.output_paths["jsonl"])
    assert set(jsonl_rows[0]["recommendations"][0]) >= {"name", "price", "itemId"}
    # state written (K5 closes the reference TODO)
    assert os.path.isdir(report.state_paths["braze"])

    # run 2, same input, later run time: delta → nothing new to deliver
    config2 = PipelineConfig.from_dict(
        CONFIG_JSON,
        job_name="job-under-test",
        run_datetime=datetime(2026, 8, 14, 9, 30, tzinfo=timezone.utc),
    )
    report2 = run_job(spark, "related_items", root, config2)
    assert report2.delivered_rows["braze"] == 0

    # run 3: one item's recs changed → only affected users resync
    changed = [dict(RECS[0], output={"recommendedItems": ["201"]}), RECS[1], RECS[2]]
    _write_inputs(root, changed)
    config3 = PipelineConfig.from_dict(
        CONFIG_JSON,
        job_name="job-under-test",
        run_datetime=datetime(2026, 8, 15, 9, 30, tzinfo=timezone.utc),
    )
    report3 = run_job(spark, "related_items", root, config3)
    assert report3.delivered_rows["braze"] == 2  # u1 and u2 (item 100 changed)
    resynced = {r["userId"] for r in _read_jsonl_tree(report3.output_paths["braze"])}
    assert resynced == {"u1", "u2"}

    # run 4: item 100's recs revert to run 1's → u1 and u2 resync again,
    # since they differ from the last-sync snapshot (run 3's)
    _write_inputs(root, RECS)
    config4 = PipelineConfig.from_dict(
        CONFIG_JSON,
        job_name="job-under-test",
        run_datetime=datetime(2026, 8, 16, 9, 30, tzinfo=timezone.utc),
    )
    report4 = run_job(spark, "related_items", root, config4)
    assert report4.delivered_rows["braze"] == 2
    reverted = _read_jsonl_tree(report4.output_paths["braze"])
    assert {r["userId"] for r in reverted} == {"u1", "u2"}
    assert all(
        [rec["itemId"] for rec in r["recommendations"]] == ["200", "201"]
        for r in reverted
    )


def test_run_job_counts_never_reexecute_pipeline(spark, tmp_path, config, monkeypatch):
    """A2 fix: delivered/error/corrupt counts all come from observe()
    metrics riding the sink writes — the join/aggregate lineage runs
    once per connector and run_job issues ZERO count() jobs."""
    # patch the concrete class — pyspark 4's classic DataFrame
    # overrides count(), so patching the abstract base misses it
    from pyspark.sql.classic.dataframe import DataFrame

    root = str(tmp_path / "jobobs")
    _write_inputs(root, RECS)
    count_calls = []
    orig_count = DataFrame.count

    def spy(self):
        count_calls.append(self)
        return orig_count(self)

    monkeypatch.setattr(DataFrame, "count", spy)
    report = run_job(spark, "related_items", root, config)
    assert len(count_calls) == 0  # everything rides observe()
    # counts still reported, and correct
    assert report.delivered_rows["braze"] == 3
    assert report.delivered_rows["jsonl"] == 3
    assert report.n_errors == 1 and report.error_path is not None
    assert report.n_corrupt == 0


def test_run_job_reports_corrupt_rows_via_observe(spark, tmp_path, config):
    """n_corrupt > 0 flows out of the observe() metric, not a count()."""
    root = str(tmp_path / "jobcorrupt")
    _write_inputs(root, RECS)
    with open(f"{root}/batch_inference/part-0.json", "a") as f:
        f.write("{this is not json\n")
        f.write('{"input": {"itemId": "broken"\n')
    report = run_job(spark, "related_items", root, config)
    assert report.n_corrupt == 2
    assert report.delivered_rows["braze"] == 3  # clean rows unaffected


def test_run_job_user_personalization(spark, tmp_path, config):
    root = str(tmp_path / "upjob")
    os.makedirs(f"{root}/batch_inference", exist_ok=True)
    with open(f"{root}/batch_inference/part-0.json", "w") as f:
        f.write(json.dumps({"input": {"userId": "u9"},
                            "output": {"recommendedItems": ["200"]}}) + "\n")
    os.makedirs(f"{root}/item_metadata", exist_ok=True)
    with open(f"{root}/item_metadata/items.json", "w") as f:
        f.write('{"id": "200", "name": "Widget", "price": 9.5}\n')
    report = run_job(spark, "user_personalization", root, config)
    rows = _read_jsonl_tree(report.output_paths["braze"])
    assert rows and rows[0]["queryUserId"] == "u9"
    assert "userId" not in rows[0]
