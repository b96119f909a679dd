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
from amazon_personalize_connectors_spark.operators.delta import (
    append_state_digests,
    read_state_digests,
    write_sync_state,
)
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
    state_format: str = "json",
) -> JobReport:
    """Execute one batch ETL run end-to-end. Returns the paths written
    and row counts observed (the reference logs these; we report them).

    ``state_format``:

    * ``"json"`` — reference semantics: the full pre-delta snapshot is
      rewritten as JSONL every run (cost ∝ snapshot size).
    * ``"digest"`` — the 100 TB path: state is the bucketed (h1, h2)
      digest store under ``output/<connector>/state_digests``; each run
      APPENDS only the delivered delta's digests (cost ∝ delta size).
    """
    input_key(job_type)  # unknown job types fail before any read
    if state_format not in ("json", "digest"):
        raise ValueError(f"unknown state_format: {state_format!r}")
    digest_mode = state_format == "digest"
    report = JobReport()

    # Cache the raw scan ourselves and unpersist at the end: cached
    # plans are keyed by plan text, so a leaked cache on this path
    # would serve stale bytes to later runs in the same session.
    batch_raw = read_batch_inference(
        spark, f"{job_root}/batch_inference", job_type
    ).cache()
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

    read_state = read_state_digests if digest_mode else read_last_sync_state
    state_dir = "state_digests" if digest_mode else "state"
    errors = None
    for connector in config.connectors:
        name = connector.name
        delta_on = config.delta_enabled(connector)
        state_path = f"{job_root}/output/{name}/{state_dir}"
        state = read_state(spark, state_path) if delta_on else None
        res = pipeline(
            metadata, connector, config, state,
            cache_source=False, state_is_digests=digest_mode,
        )
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
        if not digest_mode:
            # K5 — new snapshot is the full pre-delta decorated output
            write_sync_state(res.pre_delta, state_path)
            report.state_paths[name] = state_path
        elif delta_on:
            # K5 at scale — append only the delivered delta's digests.
            # Digest state is only meaningful when the delta check runs:
            # without it delta_unstamped is the FULL output, and
            # appending it every run would grow the store with
            # duplicates instead of deltas.
            if report.delivered_rows[name] > 0:
                append_state_digests(res.delta_unstamped, state_path)
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
    batch_raw.unpersist()
    return report
