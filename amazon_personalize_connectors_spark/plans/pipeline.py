"""End-to-end pipelines — entry points 1 & 2 of the reference
(SURVEY.md §3) as single lazy DataFrame plans.

The reference interleaves eight eager ``count()`` actions through the
flow (A2), recomputing lineage each time. Here one ``Pipeline`` call
declares the whole query; Catalyst sees scan → split → join → explode →
decorate → re-nest → delta → stamp as one plan and optimizes across
operator boundaries (filter pushdown through the joins, broadcast of
both dimensions, a single shuffle at the re-nest aggregate).

Both job types run one body in two steps: ``_decorated`` (split →
decorate → [attribute], attributing only when a user-item mapping is
given) and ``_finish`` (project the connector's fields → delta →
stamp). ``run_job`` runs ``_decorated`` once per run for all its
connectors, caches that shared frame and runs ``_finish`` on it per
connector.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.config import ConnectorConfig, PipelineConfig
from amazon_personalize_connectors_spark.operators.attribution import attribute_users
from amazon_personalize_connectors_spark.operators.decorate import decorate_items
from amazon_personalize_connectors_spark.operators.delta import delta_check
from amazon_personalize_connectors_spark.operators.split import split_errors
from amazon_personalize_connectors_spark.operators.stamp import add_job_and_sync_info


@dataclass
class PipelineResult:
    decorated: DataFrame  # post-delta, stamped — what the connector receives
    pre_delta: DataFrame  # decorated before delta — the next sync state (K5)
    errors: DataFrame  # failed inference rows (K2)


def related_items_pipeline(
    batch_inference: DataFrame,
    mapping: DataFrame,
    metadata: DataFrame | None,
    connector: ConnectorConfig,
    config: PipelineConfig,
    state: DataFrame | None = None,
) -> PipelineResult:
    """Entry point 1 (related_items_etl.py main): error split (F1/F2) →
    decorate (G1/J2/E1/E2/A1) → attribution join (J1) → delta (D1) →
    stamp (P1).

    ``state`` is the last-sync snapshot (``read_last_sync_state``); the
    delta is the EXCEPT DISTINCT against it. The pipeline caches
    nothing: Spark keys cached plans by plan text, so a cache pinned
    here and never released would serve stale bytes to a later run over
    the same paths in a long-lived session. ``run_job`` caches the scan
    and the shared decorated frame, and releases both itself.

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
    return _finish(
        *_decorated(
            batch_inference, RELATED_ITEMS_KEY, mapping, metadata,
            connector.item_metadata_fields or None, connector.max_recommendations,
        ),
        connector, config, state,
    )


def user_personalization_pipeline(
    batch_inference: DataFrame,
    metadata: DataFrame | None,
    connector: ConnectorConfig,
    config: PipelineConfig,
    state: DataFrame | None = None,
) -> PipelineResult:
    """Entry point 2 (user_personalization_etl.py main): same skeleton
    minus the attribution join — recs are already per-user (keyed on
    ``input.userId → queryUserId``, up:167). Fixes the reference's
    up:180 wrong-window-key crash path by always re-nesting on
    queryUserId. State and caching as in ``related_items_pipeline``."""
    return _finish(
        *_decorated(
            batch_inference, USER_PERSONALIZATION_KEY, None, metadata,
            connector.item_metadata_fields or None, connector.max_recommendations,
        ),
        connector, config, state,
    )


# (source path, output name) of each job type's query entity
RELATED_ITEMS_KEY = ("input.itemId", "queryItemId")
USER_PERSONALIZATION_KEY = ("input.userId", "queryUserId")


def _decorated(
    batch_inference, key, mapping, metadata, fields, max_recommendations
) -> tuple[DataFrame, DataFrame]:
    """split → decorate on ``key`` with the metadata ``fields`` (None:
    all but ``id``) → attribute when ``mapping`` is given. Returns the
    decorated frame and the error rows."""
    ok, errors = split_errors(batch_inference, cache=False)
    decorated = decorate_items(
        ok,
        metadata,
        key_cols=[key],
        metadata_fields=fields,
        max_recommendations=max_recommendations,
    )
    if mapping is not None:
        decorated = attribute_users(
            decorated, mapping, recs_item_col=key[1]
        ).select(key[1], "userId", "recommendations")
    return decorated, errors


def _finish(
    frame: DataFrame,
    errors: DataFrame,
    connector: ConnectorConfig,
    config: PipelineConfig,
    state: DataFrame | None,
) -> PipelineResult:
    """Project ``frame``'s recs to ``connector``'s metadata fields when
    it carries more (a frame decorated for several connectors) → delta
    → stamp. A frame decorated with exactly the connector's fields, or
    without metadata (bare ``itemId`` structs), passes unchanged."""
    have = frame.schema["recommendations"].dataType.elementType.fieldNames()
    want = [*connector.item_metadata_fields, "itemId"]
    if connector.item_metadata_fields and have not in (want, ["itemId"]):
        # when(): a null rec stays null, so the element type keeps the
        # nullability the connector's own decoration gives it
        frame = frame.withColumn("recommendations", F.transform(
            "recommendations",
            lambda r: F.when(r.isNotNull(), F.struct(*[r[f].alias(f) for f in want])),
        ))
    delta = frame
    if config.delta_enabled(connector):
        delta = delta_check(frame, state)
    stamped = add_job_and_sync_info(
        delta, config.job_name, config.run_datetime, connector
    )
    return PipelineResult(decorated=stamped, pre_delta=frame, errors=errors)
