"""Dimension-history operators: SCD2 interval builds and incremental
aggregate maintenance.

The reference's state loop (README.md:150, closed by plans/job.py K5)
keeps only the LATEST snapshot; warehouse users also need the history
form — a slowly-changing-dimension table with validity intervals — and
the incremental-maintenance form — stored rollups merged with a delta
instead of recomputed from all of history.

Scale shapes:

* SCD2 is one window pass per key (lead over the change log). The
  window partition is a key's change count — tiny — never the fact
  table. No joins, no second shuffle.
* A point-in-time read of an SCD2 table is a plain filter,
  ``valid_from <= at < valid_to`` — partition-prunable if the table
  is written partitioned by valid_to_bucket, and never a window at
  read time.
* Rollup merge is union + one re-aggregate over (state ∪ delta):
  cost ∝ |state| + |delta|, not ∝ history. Sums stay decimal so
  merged totals are bit-identical to a full recompute at any
  partition layout — that equivalence is the oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_from_changelog(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    attr_cols: Sequence[str],
    end_of_time: str = "9999-12-31",
) -> DataFrame:
    """Build an SCD2 (type-2 slowly-changing-dimension) table from a
    change log: one row per (key, change), carrying the attribute
    values and a [valid_from, valid_to) interval; the current row gets
    ``end_of_time`` and ``is_current = true``.

    Consecutive rows with UNCHANGED attributes are collapsed first
    (run-collapse via lag comparison) so the output intervals are
    maximal — two successive identical snapshots extend one interval
    instead of splitting it.

    Ties on ``ts_col`` within a key are broken deterministically by the
    attribute tuple so the build is stable under re-partitioning.
    """
    attr_struct = F.struct(*[F.col(c) for c in attr_cols])
    w = Window.partitionBy(*key_cols).orderBy(ts_col, *attr_cols)
    changed = (
        F.lag(attr_struct).over(w).isNull()
        | (F.lag(attr_struct).over(w) != attr_struct)
    )
    runs = df.select(*key_cols, ts_col, *attr_cols).withColumn(
        "_chg", changed.cast("int")
    )
    # keep only change points; their next change point closes the interval
    points = runs.where(F.col("_chg") == 1).drop("_chg")
    w2 = Window.partitionBy(*key_cols).orderBy(ts_col, *attr_cols)
    valid_to = F.lead(ts_col).over(w2)
    return points.select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.coalesce(valid_to, F.lit(end_of_time).cast(points.schema[ts_col].dataType))
        .alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


def merge_rollup(
    state: DataFrame,
    delta: DataFrame,
    key_cols: Sequence[str],
    sum_cols: Sequence[str] = (),
    count_col: str | None = "n",
) -> DataFrame:
    """Incremental aggregate maintenance: merge a stored rollup with a
    delta rollup of the SAME shape. Both inputs carry the key columns,
    pre-summed ``sum_cols`` and the ``count_col``; the merge is
    union-all + re-sum, which is exactly the map-side-combine algebra
    Spark applies inside one aggregation — applied ACROSS batches.

    Sums must be decimal (or integer) typed: double accumulation
    order varies with partition layout, and the whole point is that
    state+delta is bit-identical to a full recompute.
    """
    merged = state.select(*key_cols, *sum_cols, *( [count_col] if count_col else [] ))
    merged = merged.unionByName(
        delta.select(*key_cols, *sum_cols, *( [count_col] if count_col else [] ))
    )
    aggs = [F.sum(c).alias(c) for c in sum_cols]
    if count_col:
        aggs.append(F.sum(count_col).cast("bigint").alias(count_col))
    return merged.groupBy(*key_cols).agg(*aggs)


def pit_join(
    facts: DataFrame,
    scd2: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    how: str = "inner",
) -> DataFrame:
    """Point-in-time (as-of interval) join: each fact row joins the
    dimension VERSION valid at its own event time — ``key equality
    AND valid_from <= t < valid_to`` — the leakage-safe way to
    decorate facts with slowly-changing attributes (joining the
    CURRENT version backfills future knowledge into history; the
    classic feature-store bug).

    Shape: the equi key drives the join (hash/broadcast as sizes
    dictate) and the interval containment is a post-join filter —
    fan-out per fact is the key's version count BEFORE the filter and
    exactly one row after (intervals are disjoint by construction
    from scd2_from_changelog), so no range explosion. For hot keys
    with very long histories, pre-filter the dimension to the fact
    window first."""
    cond = None
    for k in key_cols:
        c = facts[k] == scd2[k]
        cond = c if cond is None else cond & c
    cond = (
        cond
        & (facts[ts_col] >= scd2["valid_from"])
        & (facts[ts_col] < scd2["valid_to"])
    )
    return facts.join(scd2, cond, how).drop(*[scd2[k] for k in key_cols])


def bitemporal_asof_join(
    facts: DataFrame,
    changelog: DataFrame,
    key_cols: Sequence[str],
    fact_id_col: str,
    fact_tx_col: str,
    fact_valid_col: str,
    log_tx_col: str,
    log_valid_col: str,
    attr_cols: Sequence[str],
) -> DataFrame:
    """Bitemporal as-of join — "what did we KNOW at transaction time
    T about the state EFFECTIVE at valid time V": for each fact row
    carrying its own (T, V) pair, pick the changelog record with

        tx <= T  AND  valid <= V,   maximizing (valid, tx)

    i.e. the latest-effective assertion among those already learned,
    with later corrections (same valid, higher tx) winning. This is
    time travel that respects late-arriving corrections: a
    restatement learned AFTER T cannot leak into a report as-of T.

    The two-axis argmax is ONE exact aggregate: both timestamps are
    non-negative epoch-microsecond bigints (< 10^19), so
    ``enc = valid · 10^19 + tx`` packs the lexicographic (valid, tx)
    order into a single decimal(38,0) — max(enc) is exact, decode is
    integer div/mod, and DuckDB mirrors it in HUGEINT, so both
    engines pick the identical record with no struct-ordering
    semantics in play. Attributes come back via an equi-join on
    (fact id, enc) — the candidate set is fact rows × per-key
    changelog length, bounded by dimension churn, never fact × fact.

    Facts with no qualifying record drop out (inner semantics — the
    caller left-joins the result back if absent keys must survive).

    Returns (*key_cols, fact_id, picked_valid, picked_tx,
    *attr_cols)."""
    d = "decimal(38,0)"
    # 10^19 exceeds int64 — route the literal through a string cast
    scale = F.lit("10000000000000000000").cast(d)
    enc = (
        F.col(log_valid_col).cast(d) * scale
        + F.col(log_tx_col).cast(d)
    ).cast(d)
    cands = facts.select(
        *key_cols,
        F.col(fact_id_col).alias("_fid"),
        F.col(fact_tx_col).cast("bigint").alias("_t"),
        F.col(fact_valid_col).cast("bigint").alias("_v"),
    ).join(
        changelog.select(
            *[F.col(c).alias(f"_k_{c}") for c in key_cols],
            F.col(log_tx_col).cast("bigint").alias("_ltx"),
            F.col(log_valid_col).cast("bigint").alias("_lv"),
            *attr_cols,
        ),
        [F.col(k) == F.col(f"_k_{k}") for k in key_cols]
        + [
            F.col("_ltx") <= F.col("_t"),
            F.col("_lv") <= F.col("_v"),
        ],
    ).select(
        *key_cols,
        "_fid",
        (
            F.col("_lv").cast(d) * scale + F.col("_ltx").cast(d)
        ).cast(d).alias("_enc"),
        "_ltx",
        "_lv",
        *attr_cols,
    )
    # rename the grouped key: best derives from cands, so joining on
    # cands["_fid"] == best["_fid"] resolves both sides to the SAME
    # attribute (Spark warns "trivially true predicate") and the join
    # would silently degrade to enc-only matching
    best = (
        cands.groupBy("_fid")
        .agg(F.max("_enc").alias("_best"))
        .withColumnRenamed("_fid", "_best_fid")
    )
    return (
        cands.join(
            best,
            (F.col("_fid") == F.col("_best_fid"))
            & (F.col("_enc") == F.col("_best")),
        )
        .select(
            *key_cols,
            F.col("_fid").alias("fact_id"),
            F.col("_lv").alias("picked_valid"),
            F.col("_ltx").alias("picked_tx"),
            *attr_cols,
        )
    )
