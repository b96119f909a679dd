"""End-to-end pipelines — entry points 1 & 2 of the reference
(SURVEY.md §3) as single lazy DataFrame plans.

The reference interleaves eight eager ``count()`` actions through the
flow (A2), recomputing lineage each time. Here one ``Pipeline`` call
declares the whole query; Catalyst sees scan → split → join → explode →
decorate → re-nest → delta → stamp as one plan and optimizes across
operator boundaries (filter pushdown through the joins, broadcast of
both dimensions, a single shuffle at the re-nest aggregate).

Both job types run one body, ``_connector_pipeline``: split →
decorate → [attribute] → delta → stamp, attributing only when a
user-item mapping is given.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from amazon_personalize_connectors_spark.config import ConnectorConfig, PipelineConfig
from amazon_personalize_connectors_spark.operators.attribution import attribute_users
from amazon_personalize_connectors_spark.operators.decorate import decorate_items
from amazon_personalize_connectors_spark.operators.delta import (
    delta_check,
    delta_check_against_digests,
)
from amazon_personalize_connectors_spark.operators.split import split_errors
from amazon_personalize_connectors_spark.operators.stamp import add_job_and_sync_info


@dataclass
class PipelineResult:
    decorated: DataFrame  # post-delta, stamped — what the connector receives
    pre_delta: DataFrame  # decorated before delta — the next sync state (K5)
    errors: DataFrame  # failed inference rows (K2)
    delta_unstamped: DataFrame = None  # post-delta, pre-stamp — digest-state input


def related_items_pipeline(
    batch_inference: DataFrame,
    mapping: DataFrame,
    metadata: DataFrame | None,
    connector: ConnectorConfig,
    config: PipelineConfig,
    state: DataFrame | None = None,
    legacy_window_mode: bool = False,
    cache_source: bool = True,
    state_is_digests: bool = False,
) -> PipelineResult:
    """Entry point 1 (related_items_etl.py main): error split (F1/F2) →
    decorate (G1/J2/E1/E2/A1) → attribution join (J1) → delta (D1) →
    stamp (P1).

    ``state_is_digests=True`` means ``state`` is a narrow (h1, h2)
    digest frame from the bucketed state store; the delta becomes a
    digest anti-join (the 100 TB path).

    ``cache_source=False`` when the caller already materialized the
    scan: Spark keys cached plans by plan text, so re-caching the same
    path in a long-lived session silently serves stale bytes after the
    files change (run_job caches and unpersists the raw scan itself).

    Operator order differs from the reference deliberately: the
    reference attributes first (ri:159-165) and decorates the fanned-out
    (item x user) rows (ri:191-232), shuffling every duplicated
    metadata struct through the re-nest aggregate. Decoration depends
    only on the item, so we decorate + re-nest once per query item and
    *then* fan out to users — at a 30x average mapping fan-out that is
    a 30x smaller aggregate. Results are identical (per-item recs are
    the same for every attributed user); the oracle-checked flagship
    query pins this equivalence.
    """
    if mapping is None:
        raise ValueError("related_items requires a user-item mapping")
    return _connector_pipeline(
        batch_inference, ("input.itemId", "queryItemId"), mapping, metadata,
        connector, config, state, legacy_window_mode, cache_source,
        state_is_digests,
    )


def user_personalization_pipeline(
    batch_inference: DataFrame,
    metadata: DataFrame | None,
    connector: ConnectorConfig,
    config: PipelineConfig,
    state: DataFrame | None = None,
    legacy_window_mode: bool = False,
    cache_source: bool = True,
    state_is_digests: bool = False,
) -> PipelineResult:
    """Entry point 2 (user_personalization_etl.py main): same skeleton
    minus the attribution join — recs are already per-user (keyed on
    ``input.userId → queryUserId``, up:167). Fixes the reference's
    up:180 wrong-window-key crash path by always re-nesting on
    queryUserId."""
    return _connector_pipeline(
        batch_inference, ("input.userId", "queryUserId"), None, metadata,
        connector, config, state, legacy_window_mode, cache_source,
        state_is_digests,
    )


def _connector_pipeline(
    batch_inference, key, mapping, metadata, connector, config, state,
    legacy_window_mode, cache_source, state_is_digests,
) -> PipelineResult:
    """split → decorate on ``key`` (source path, output name) →
    attribute when ``mapping`` is given → delta → stamp."""
    ok, errors = split_errors(batch_inference, cache=cache_source)
    decorated = decorate_items(
        ok,
        metadata,
        key_cols=[key],
        metadata_fields=connector.item_metadata_fields or None,
        legacy_window_mode=legacy_window_mode,
        max_recommendations=connector.max_recommendations,
    )
    if mapping is not None:
        decorated = attribute_users(
            decorated, mapping, recs_item_col=key[1]
        ).select(key[1], "userId", "recommendations")
    delta = decorated
    if config.delta_enabled(connector):
        check = delta_check_against_digests if state_is_digests else delta_check
        delta = check(decorated, state)
    stamped = add_job_and_sync_info(
        delta, config.job_name, config.run_datetime, connector
    )
    return PipelineResult(
        decorated=stamped, pre_delta=decorated, errors=errors, delta_unstamped=delta
    )
