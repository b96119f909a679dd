"""Streaming score-quality monitor: maintain the per-(group, score)
positive/negative count GRID from a micro-batched stream and answer
the exact ROC-AUC on demand — continuous "is the model's score still
discriminating" monitoring without re-scanning history.

The sibling of the KS drift monitor (streaming/drift_monitor.py), on
the same two pillars:

* **Mergeable grid.** ``operators/evaluation.py:roc_auc`` reduces the
  scored rows to a (group, score, pos, neg) grid first, and grids
  merge by SUM — each micro-batch folds its batch-local grid into the
  store (unionByName + sum groupBy), so per-trigger cost is ∝ the
  batch's distinct (group, score) pairs and state size is ∝ the score
  domain (cents of a bounded range — small at any data scale). The
  AUC read-side calls the SAME ``auc_from_grid`` the batch operator
  uses, so the stream-maintained statistic must equal a full batch
  recompute over everything drained (the law the oracle checks).
* **Pointer-flip store** (cdc_sink discipline) with **epoch-keyed
  folds** (streaming/epoch_store.py): each version records the
  foreachBatch epoch that produced it and the prior version it read,
  so a replayed epoch — even after the pointer flip, when the
  checkpoint commit was lost — re-reads the same immutable prior and
  overwrites its own version directory. Counts are never
  double-folded, and a stale epoch (fresh checkpoint against an old
  store) is refused.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.operators.evaluation import (
    auc_from_grid,
)
from amazon_personalize_connectors_spark.streaming.epoch_store import (
    drain_into_store,
    fold_mergeable,
    read_committed,
)

_GRID_SCHEMA = "g long, _s long, _pos long, _neg long"


def _sum_pos_neg() -> list:
    return [F.sum(c).cast("long").alias(c) for c in ("_pos", "_neg")]


def read_score_grid(spark: SparkSession, store_path: str) -> DataFrame:
    """Accumulated (g, _s, _pos, _neg) grid at the committed version;
    empty before the first batch."""
    return read_committed(spark, store_path, _GRID_SCHEMA)


def apply_score_batch(
    batch: DataFrame,
    epoch_id: int,
    store_path: str,
    group_col: str,
    score_col: str,
    label_col: str,
    checkpoint_token: str | None = None,
) -> None:
    """foreachBatch body: fold one micro-batch's (group, score) counts
    into the grid store. ``epoch_id`` keys the fold
    (epoch_store.plan_fold): a replayed epoch overwrites its own
    version from the same prior, even after the pointer flip."""
    delta = batch.groupBy(
        F.col(group_col).cast("long").alias("g"),
        F.col(score_col).cast("long").alias("_s"),
    ).agg(
        F.sum(F.col(label_col).cast("long")).alias("_pos"),
        F.sum(F.lit(1) - F.col(label_col).cast("long")).alias("_neg"),
    )
    fold_mergeable(delta, epoch_id, store_path, _GRID_SCHEMA, ["g", "_s"],
                   _sum_pos_neg(), checkpoint_token)


def monitor_scores_from_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    group_col: str,
    score_col: str,
    label_col: str,
    timeout_s: float = 300.0,
) -> None:
    """Drain a stream (Trigger.AvailableNow), folding every
    micro-batch's (group, score) counts into the grid at
    ``store_path``."""
    drain_into_store(
        stream, store_path, checkpoint_dir,
        lambda b, e, token: apply_score_batch(
            b, e, store_path, group_col, score_col, label_col,
            checkpoint_token=token,
        ),
        timeout_s,
    )


def auc_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Exact per-group ROC-AUC from the maintained grid — the SAME
    ``auc_from_grid`` the batch operator uses (bigint rank-sum, one
    division), so stream == batch bit-for-bit."""
    grid = read_score_grid(spark, store_path).localCheckpoint(eager=True)
    return auc_from_grid(grid, ["g"])


def calibration_from_store(
    spark: SparkSession, store_path: str, bin_width: int
) -> DataFrame:
    """Calibration/gains table from the SAME maintained grid that
    serves AUC — one pointer-flip state, two exact statistics
    (operators/evaluation.py:bins_from_grid): the grid collapses over
    its group column (grids merge by SUM) and bins with the batch
    operator's integer DIV, so stream == batch score_bin_report over
    everything drained."""
    from amazon_personalize_connectors_spark.operators.evaluation import (
        bins_from_grid,
    )

    grid = read_score_grid(spark, store_path).groupBy("_s").agg(*_sum_pos_neg())
    return bins_from_grid(grid, bin_width)
