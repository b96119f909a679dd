"""The full config-driven job — the engine's equivalent of the
reference's Glue job ``main`` (related_items_etl.py:56-318 /
user_personalization_etl.py:56-280), cloud-agnostic.

Layout convention mirrors the reference's S3 job prefix
(README.md:140-152)::

    <job_root>/
      batch_inference/        input JSONL (from Personalize batch job)
      user_item_mapping/      CSV bridge (related_items only)
      item_metadata/          optional JSONL dimension
      errors/year=.../        failed inference rows (K2)
      output/<connector>/year=.../   decorated output (K1)
      output/<connector>/state/      last-sync snapshot (S4 + K5)

The reference reads state but never writes it (README.md:150 "TODO");
``run_job`` closes the loop: after a successful connector write, the
pre-delta decorated frame becomes the new state snapshot.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.config import PipelineConfig
from amazon_personalize_connectors_spark.operators.delta import write_sync_state
from amazon_personalize_connectors_spark.operators.metrics import observe_counts
from amazon_personalize_connectors_spark.plans.pipeline import (
    related_items_pipeline,
    user_personalization_pipeline,
)
from amazon_personalize_connectors_spark.sinks.jsonl import (
    write_connector_output,
    write_errors,
)
from amazon_personalize_connectors_spark.sources.readers import (
    input_key,
    read_batch_inference,
    read_item_metadata,
    read_last_sync_state,
    read_user_item_mapping,
    split_corrupt,
)


@dataclass
class JobReport:
    output_paths: dict[str, str] = field(default_factory=dict)
    state_paths: dict[str, str] = field(default_factory=dict)
    delivered_rows: dict[str, int] = field(default_factory=dict)
    error_path: str | None = None
    n_errors: int = 0
    n_corrupt: int = 0


def run_job(
    spark: SparkSession,
    job_type: str,
    job_root: str,
    config: PipelineConfig,
) -> JobReport:
    """Execute one batch ETL run end-to-end. Returns the paths written
    and row counts observed (the reference logs these; we report them).

    Sync state is the reference's last-sync snapshot: each connector's
    delta runs against ``output/<connector>/state`` (JSONL), and after
    its output is written the full pre-delta decorated frame replaces
    that snapshot (cost ∝ snapshot size). A record that reverts to an
    earlier value therefore differs from the snapshot and is delivered
    again.
    """
    input_key(job_type)  # unknown job types fail before any read
    report = JobReport()

    # Cache the raw scan ourselves and unpersist at the end, also when
    # the run fails: cached plans are keyed by plan text, so a leaked
    # cache on this path would serve stale bytes to later runs in the
    # same session.
    batch_raw = read_batch_inference(
        spark, f"{job_root}/batch_inference", job_type
    ).cache()
    try:
        # A2: the corrupt- and error-row counts ride along with the first
        # connector write via observe() — no separate count() job over the
        # scan. The observation sits above the filters, so it sees every row.
        observed_raw, raw_obs = observe_counts(
            batch_raw,
            name="apc_raw_scan",
            n_corrupt=F.col("_corrupt_record").isNotNull(),
            n_errors=F.col("_corrupt_record").isNull() & F.col("error").isNotNull(),
        )
        batch, corrupt = split_corrupt(observed_raw, cache=False)

        metadata = read_item_metadata(spark, f"{job_root}/item_metadata")
        if job_type == "related_items":
            mapping = read_user_item_mapping(spark, f"{job_root}/user_item_mapping")
            pipeline = partial(related_items_pipeline, batch, mapping)
        else:
            pipeline = partial(user_personalization_pipeline, batch)

        errors = None
        for connector in config.connectors:
            name = connector.name
            state_path = f"{job_root}/output/{name}/state"
            state = (
                read_last_sync_state(spark, state_path)
                if config.delta_enabled(connector)
                else None
            )
            res = pipeline(metadata, connector, config, state)
            errors = res.errors  # connector-independent: the same source split
            # A2 fix: the delivered-row count rides along with the sink
            # write via observe() — the join/aggregate lineage runs exactly
            # once per connector instead of once for the write and once
            # more for a post-write count() (the reference's eager-count
            # anti-pattern, ri:108,112,117-118,156,187,260,267).
            observed, obs = observe_counts(res.decorated, name=f"apc_delivered_{name}")
            report.output_paths[name] = write_connector_output(
                observed, f"{job_root}/output", name, config.run_datetime
            )
            report.delivered_rows[name] = int(obs.get["n_rows"])
            # K5 — new snapshot is the full pre-delta decorated output
            write_sync_state(res.pre_delta, state_path)
            report.state_paths[name] = state_path

        if errors is None:
            # no connector ran an action, so the observation never fired;
            # the one-off count here is the cold path, not per-connector
            report.n_corrupt = corrupt.count()
        else:
            # metrics landed during the first connector write
            report.n_corrupt = int(raw_obs.get["n_corrupt"])
            if config.save_batch_inference_errors:
                report.error_path = write_errors(
                    errors, f"{job_root}/errors", config.run_datetime
                )
                report.n_errors = int(raw_obs.get["n_errors"])
    finally:
        batch_raw.unpersist()
    return report
