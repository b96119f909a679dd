"""Streaming Count-Min sketch maintenance: fold each micro-batch's
CMS cells into a versioned bounded store and serve frequency
estimates on demand — "roughly how often has key k appeared so far"
over an unbounded stream, in O(depth·width) state no matter how many
keys or rows have flowed past.

Why this is exactly mergeable: ``functions/sketches.py:cms_sketch``
reduces rows to (d, cell, cnt) bucket counts, and bucket counts merge
by SUM — so the sketch of the whole history equals the fold of
per-batch sketches REGARDLESS of how rows split into micro-batches
(pinned by the oracle query: stream-maintained estimates ==
batch-computed estimates, bit for bit). Per-trigger cost ∝ the
batch's distinct cells, state ≤ depth·16^hex_chars rows forever.

Storage is the shared pointer-flip + epoch-keyed fold discipline
(streaming/epoch_store.py): a replayed epoch — even after the
pointer flip — overwrites its own version from the same immutable
prior, and a stale epoch (fresh checkpoint on an old store) is
refused instead of double-counting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.functions.sketches import (
    cms_estimate,
    cms_sketch,
)
from amazon_personalize_connectors_spark.streaming.epoch_store import (
    drain_into_store,
    fold_mergeable,
    read_committed,
)

_CMS_SCHEMA = "d int, cell string, cnt long"


def read_cms(spark: SparkSession, store_path: str) -> DataFrame:
    """Accumulated (d, cell, cnt) sketch at the committed version;
    empty before the first batch."""
    return read_committed(spark, store_path, _CMS_SCHEMA)


def apply_cms_batch(
    batch: DataFrame,
    epoch_id: int,
    store_path: str,
    key_col: str,
    depth: int = 4,
    hex_chars: int = 2,
    checkpoint_token: str | None = None,
) -> None:
    """foreachBatch body: fold one micro-batch's CMS cells into the
    store. Epoch-keyed (epoch_store.plan_fold): a replayed epoch
    overwrites its own version from the same prior."""
    fold_mergeable(
        cms_sketch(batch, key_col, depth=depth, hex_chars=hex_chars),
        epoch_id, store_path, _CMS_SCHEMA, ["d", "cell"],
        [F.sum("cnt").cast("long").alias("cnt")], checkpoint_token,
    )


def maintain_from_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    key_col: str,
    depth: int = 4,
    hex_chars: int = 2,
    timeout_s: float = 300.0,
) -> None:
    """Drain a stream (Trigger.AvailableNow), folding every
    micro-batch's CMS cells into the sketch at ``store_path``."""
    drain_into_store(
        stream, store_path, checkpoint_dir,
        lambda b, e, token: apply_cms_batch(
            b, e, store_path, key_col, depth=depth, hex_chars=hex_chars,
            checkpoint_token=token,
        ),
        timeout_s,
    )


def estimate_from_store(
    spark: SparkSession,
    store_path: str,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    hex_chars: int = 2,
) -> DataFrame:
    """Serve point estimates for ``keys`` from the maintained sketch —
    identical read path to the batch ``cms_estimate`` (the store IS a
    cms_sketch output), so stream-maintained and batch-built sketches
    answer identically."""
    return cms_estimate(
        read_cms(spark, store_path), keys, key_col, depth=depth,
        hex_chars=hex_chars,
    )
