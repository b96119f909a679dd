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

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.config import PipelineConfig
from amazon_personalize_connectors_spark.operators.delta import write_sync_state
from amazon_personalize_connectors_spark.operators.metrics import observe_counts
from amazon_personalize_connectors_spark.plans.pipeline import (
    RELATED_ITEMS_KEY,
    USER_PERSONALIZATION_KEY,
    _decorated,
    _finish,
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


def _shared_fields(connectors) -> tuple[str, ...] | None:
    """The ordered union of ``connectors``' metadata fields, or None
    (every field but ``id``) when one of them takes all fields."""
    if any(not c.item_metadata_fields for c in connectors):
        return None
    return tuple(dict.fromkeys(f for c in connectors for f in c.item_metadata_fields))


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

    Cost: split → decorate → attribute runs once per run, not twice per
    connector. Connectors with the same ``max_recommendations`` share
    one frame decorated with the union of their metadata fields; it is
    persisted (memory, then disk), each connector's output write and
    state write read it and project their own fields, and it is
    released with the scan. On the two-connector ``full_sync``
    benchmark that is 11 Spark jobs instead of 20. The session lets AQE
    coalesce the cached plan (``session.get_spark``); without that the
    cache keeps every shuffle partition and costs more tasks than it
    saves.
    """
    input_key(job_type)  # unknown job types fail before any read
    report = JobReport()

    # Cache the raw scan and the shared frames ourselves and unpersist
    # them at the end, also when the run fails: cached plans are keyed
    # by plan text, so a leaked cache on this path would serve stale
    # bytes to later runs in the same session.
    batch_raw = read_batch_inference(
        spark, f"{job_root}/batch_inference", job_type
    ).cache()
    shared = {}
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
        mapping = None
        key = USER_PERSONALIZATION_KEY
        if job_type == "related_items":
            mapping = read_user_item_mapping(spark, f"{job_root}/user_item_mapping")
            key = RELATED_ITEMS_KEY

        # One decorated frame per distinct cap, carrying every field its
        # connectors ask for: each connector's output write and its
        # state write read it from the cache instead of running split →
        # decorate → attribute twice per connector.
        by_cap: dict[int | None, list] = {}
        for connector in config.connectors:
            by_cap.setdefault(connector.max_recommendations, []).append(connector)
        errors = None
        for cap, connectors in by_cap.items():
            frame, errors = _decorated(
                batch, key, mapping, metadata, _shared_fields(connectors), cap
            )
            shared[cap] = frame.persist()

        for connector in config.connectors:
            name = connector.name
            state_path = f"{job_root}/output/{name}/state"
            state = (
                read_last_sync_state(spark, state_path)
                if config.delta_enabled(connector)
                else None
            )
            res = _finish(
                shared[connector.max_recommendations], errors, connector, config, state
            )
            # A2 fix: the delivered-row count rides along with the sink
            # write via observe() — no post-write count() (the
            # reference's eager-count anti-pattern,
            # ri:108,112,117-118,156,187,260,267).
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
            # metrics landed during the first connector write; the exact
            # error count decides whether there is an errors file to write
            report.n_corrupt = int(raw_obs.get["n_corrupt"])
            report.n_errors = int(raw_obs.get["n_errors"])
            if config.save_batch_inference_errors and report.n_errors:
                report.error_path = write_errors(
                    errors, f"{job_root}/errors", config.run_datetime
                )
    finally:
        for frame in shared.values():
            frame.unpersist()
        batch_raw.unpersist()
    return report
