"""Streaming drift monitor: maintain the two-population per-value
count GRID from a micro-batched stream and answer the exact
two-sample KS statistic on demand — continuous "is today's
distribution still yesterday's" monitoring without ever re-scanning
history.

Why this is exactly mergeable: the KS computation in
``operators/features.py:ks_two_sample`` reduces the raw data to a
(value, count_a, count_b) grid first, and grids merge by SUM — the
one property a streaming aggregate needs. Each micro-batch folds its
batch-local grid into the store (unionByName + sum groupBy, the
incremental_rollup_merge shape), so per-trigger cost is ∝ the batch's
distinct values, state size is ∝ the value domain (cents of a bounded
price range — small at any data scale), and the KS read-side is
identical to the batch operator: running totals over the grid, one
integer sup, one division.

Storage uses the cdc_sink pointer-flip discipline (versioned parquet,
``_VERSION`` flips last) with **epoch-keyed folds** (streaming/
epoch_store.py): each version records the foreachBatch epoch that
produced it and the version it read its prior state from, so a
replayed epoch — including the hard case, replay AFTER the pointer
flip when the checkpoint commit was lost — re-reads the same
immutable prior and overwrites its own version directory. Counts are
never double-folded (test-pinned for both the pre-flip and post-flip
retry), and an epoch behind the last applied one (a fresh checkpoint
pointed at an old store) is refused instead of corrupting state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.operators.ids import (
    add_running_totals,
)
from amazon_personalize_connectors_spark.streaming.epoch_store import (
    drain_into_store,
    fold_mergeable,
    read_committed,
)

_GRID_SCHEMA = "v long, a long, b long"


def read_grid(spark: SparkSession, store_path: str) -> DataFrame:
    """Accumulated (value, count_a, count_b) grid at the committed
    version; empty before the first batch."""
    return read_committed(spark, store_path, _GRID_SCHEMA)


def apply_grid_batch(
    batch: DataFrame,
    epoch_id: int,
    store_path: str,
    value_col: str,
    in_a,
    in_b,
    checkpoint_token: str | None = None,
) -> None:
    """foreachBatch body: fold one micro-batch's per-value counts into
    the grid store. ``in_a`` / ``in_b`` are Column predicates naming
    the two populations (a row may match either, both, or neither).
    ``epoch_id`` keys the fold (epoch_store.plan_fold): a replayed
    epoch overwrites its own version from the same prior, even after
    the pointer flip."""
    delta = batch.groupBy(F.col(value_col).cast("long").alias("v")).agg(
        F.sum(in_a.cast("long")).alias("a"),
        F.sum(in_b.cast("long")).alias("b"),
    )
    fold_mergeable(
        delta, epoch_id, store_path, _GRID_SCHEMA, ["v"],
        [F.sum(c).cast("long").alias(c) for c in ("a", "b")],
        checkpoint_token,
    )


def monitor_from_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    value_col: str,
    in_a,
    in_b,
    timeout_s: float = 300.0,
) -> None:
    """Drain a stream (Trigger.AvailableNow), folding every
    micro-batch's value counts into the grid at ``store_path``."""
    drain_into_store(
        stream, store_path, checkpoint_dir,
        lambda b, e, token: apply_grid_batch(
            b, e, store_path, value_col, in_a, in_b, checkpoint_token=token
        ),
        timeout_s,
    )


def ks_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Exact two-sample KS from the maintained grid — identical math
    to the batch operator (integer sup |cum_a*n_b - cum_b*n_a|, one
    division), so the stream-maintained statistic must equal a full
    recompute over everything drained (the law the oracle checks)."""
    grid = read_grid(spark, store_path).localCheckpoint(eager=True)
    cum = add_running_totals(grid, ["v"], {"a": "_ca", "b": "_cb"})
    tot = grid.agg(
        F.sum("a").cast("bigint").alias("n_a"),
        F.sum("b").cast("bigint").alias("n_b"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "n_a",
            "n_b",
            F.abs(
                F.col("_ca") * F.col("n_b") - F.col("_cb") * F.col("n_a")
            ).alias("_num"),
        )
        .groupBy("n_a", "n_b")
        .agg(F.max("_num").cast("bigint").alias("ks_num"))
        .select(
            "n_a",
            "n_b",
            "ks_num",
            (F.col("ks_num") / (F.col("n_a") * F.col("n_b"))).alias("ks_stat"),
        )
    )


def quantiles_from_store(
    spark: SparkSession, store_path: str, pcts: list[int]
) -> DataFrame:
    """Exact discrete (inverse-CDF) quantiles of EVERYTHING drained,
    served from the same maintained grid the KS statistic reads — a
    second statistic off one pointer-flip state (the score monitor's
    auc/calibration pattern). Population = A ∪ B (a + b per value).

    The quantile at percentile p is the value at rank
    ``ceil(p/100 · n)`` — integer rank math on the grid's running
    count (the winsorize_stats pattern), engine-exact. One running
    total over the grid, the total as a 1-row broadcast, one tiny
    output row per requested percentile."""
    grid = read_grid(spark, store_path).localCheckpoint(eager=True)
    per_v = grid.select("v", (F.col("a") + F.col("b")).alias("_c"))
    cum = add_running_totals(per_v, ["v"], {"_c": "_cum"})
    tot = per_v.agg(F.sum("_c").cast("bigint").alias("_n"))
    g2 = cum.crossJoin(F.broadcast(tot))
    out = None
    for p in pcts:
        rank = F.expr(f"(_n * {int(p)} + 99) div 100")
        row = g2.groupBy().agg(
            F.lit(int(p)).cast("int").alias("pct"),
            F.max("_n").cast("bigint").alias("n"),
            F.min(F.when(F.col("_cum") >= rank, F.col("v")))
            .cast("bigint")
            .alias("value"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def js_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Jensen-Shannon divergence read from the accumulated grid — the
    same mergeable (value, a, b) store that answers KS and quantiles
    also answers JSD, because js_divergence reduces to a cell grid
    first (features.py:js_divergence_from_cells). Feed the monitor a
    BINNED value column and this is the streaming twin of the batch
    q:js_drift; grids merge by sum, so the result equals the batch
    computation over everything drained, regardless of batch splits."""
    from amazon_personalize_connectors_spark.operators.features import (
        js_divergence_from_cells,
    )

    return js_divergence_from_cells(
        read_grid(spark, store_path), "v", "a", "b"
    )


def conformal_from_store(
    spark: SparkSession,
    store_path: str,
    alpha_num: int = 1,
    alpha_den: int = 10,
) -> DataFrame:
    """Split-conformal threshold of everything drained, served from
    the maintained grid (population = A ∪ B): the
    ⌈(alpha_den−alpha_num)·(n+1)/alpha_den⌉-th smallest value by
    exact integer rank math over the grid's running count — the
    STREAMING twin of operators/evaluation.py:conformal_threshold
    (ungrouped), and the fourth statistic one pointer-flip state
    answers (KS, quantiles, JSD, conformal). Grids merge by sum, so
    the result equals the batch operator over all drained rows.
    Output ONE row: (n, k, threshold) — threshold NULL when k > n."""
    if not 0 < alpha_num < alpha_den:
        raise ValueError("need 0 < alpha_num < alpha_den")
    grid = read_grid(spark, store_path)
    per_v = grid.select("v", (F.col("a") + F.col("b")).alias("_c"))
    cum = add_running_totals(per_v, ["v"], {"_c": "_cum"})
    tot = per_v.agg(F.sum("_c").cast("bigint").alias("_n"))
    g2 = cum.crossJoin(F.broadcast(tot)).withColumn(
        "_k",
        F.expr(
            f"({alpha_den - alpha_num} * (_n + 1) + {alpha_den - 1}) "
            f"div {alpha_den}"
        ).cast("bigint"),
    )
    return g2.groupBy().agg(
        F.max("_n").cast("bigint").alias("n"),
        F.max("_k").cast("bigint").alias("k"),
        F.min(F.when(F.col("_cum") >= F.col("_k"), F.col("v")))
        .cast("bigint")
        .alias("threshold"),
    )
