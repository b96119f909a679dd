"""Streaming EXACT distinct-count maintenance: fold each
micro-batch's per-(group, id-bucket) bitmaps into a versioned store
and serve exact distincts on demand — the "how many unique users has
each segment touched so far" aggregate that approximate sketches
(HLL) only estimate, kept exact in bounded state: a compressed
bitmap per 32768-id bucket, state ∝ touched buckets, never ∝ rows.

Why this is exactly mergeable: ``functions/sketches.py:
bitmap_partials`` reduces rows to (group, id_bucket, bitmap), and
bitmaps merge by OR — associative, commutative AND idempotent, so
the fold tolerates any micro-batch split (pinned by the oracle
query: stream-maintained distincts == batch COUNT(DISTINCT)).
Idempotence notwithstanding, folds stay epoch-keyed (streaming/
epoch_store.py) for uniformity with the other stores: replays
overwrite their own version, stale epochs are refused.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.functions.sketches import (
    bitmap_partials,
)
from amazon_personalize_connectors_spark.streaming.epoch_store import (
    drain_into_store,
    fold_mergeable,
    read_committed,
)


def _store_schema(group_cols: list[str]) -> str:
    gs = ", ".join(f"{g} string" for g in group_cols)
    return f"{gs}, id_bucket long, bm binary"


def read_bitmaps(
    spark: SparkSession, store_path: str, group_cols: list[str]
) -> DataFrame:
    """Accumulated (group..., id_bucket, bm) partials at the committed
    version; empty before the first batch."""
    return read_committed(spark, store_path, _store_schema(group_cols))


def apply_bitmap_batch(
    batch: DataFrame,
    epoch_id: int,
    store_path: str,
    group_cols: list[str],
    id_col: str,
    checkpoint_token: str | None = None,
) -> None:
    """foreachBatch body: OR one micro-batch's bitmap partials into
    the store. Epoch-keyed; replayed epochs overwrite their own
    version from the same prior."""
    fold_mergeable(
        bitmap_partials(batch, group_cols, id_col), epoch_id, store_path,
        _store_schema(group_cols), [*group_cols, "id_bucket"],
        [F.bitmap_or_agg(F.col("bm")).alias("bm")], checkpoint_token,
    )


def maintain_from_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    group_cols: list[str],
    id_col: str,
    timeout_s: float = 300.0,
) -> None:
    """Drain a stream (Trigger.AvailableNow), folding every
    micro-batch's bitmap partials into the store."""
    drain_into_store(
        stream, store_path, checkpoint_dir,
        lambda b, e, token: apply_bitmap_batch(
            b, e, store_path, group_cols, id_col, checkpoint_token=token
        ),
        timeout_s,
    )


def distinct_from_store(
    spark: SparkSession, store_path: str, group_cols: list[str]
) -> DataFrame:
    """Serve exact per-group distinct counts from the maintained
    bitmaps: one tiny sum over bucket counts (rows ∝ groups ×
    touched buckets)."""
    return (
        read_bitmaps(spark, store_path, group_cols)
        .groupBy(*group_cols)
        .agg(
            F.sum(F.bitmap_count(F.col("bm")))
            .cast("bigint")
            .alias("n_distinct")
        )
    )
