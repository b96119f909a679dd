"""Streaming upsert sink: apply each micro-batch as a CDC change set
onto a keyed parquet snapshot (MERGE semantics via foreachBatch).

The pattern: a stream of keyed records (latest-wins) lands as
insert/update ops against the store; an op column can carry explicit
deletes. Each micro-batch runs ``operators/cdc.py:apply_changes`` —
anti-join eviction + union — and atomically replaces the snapshot.

Plain parquet cannot rewrite in place, so the store is double-buffered:
each batch writes a fresh versioned directory and flips a tiny
``_VERSION`` pointer file LAST (the one-writer-at-a-time discipline
Structured Streaming's serialized foreachBatch already gives). At
warehouse scale the same operator body targets a table format with
real transactions (Delta/Iceberg MERGE); the batch algebra — and its
cost, ∝ |snapshot| + |batch| per trigger — is identical. For
snapshots too large to rewrite per trigger, partition the store by a
key hash and rewrite only partitions containing batch keys (the
touched-bucket manifest store in streaming/model_refresh.py).

Replay discipline: the store is an ``epoch_store`` client like every
other pointer-flip store here. ``stream_apply_changes`` passes the
foreachBatch epoch and the checkpoint identity, and ``plan_fold``
classifies it against the committed version's ``_META.json``: a
replayed epoch, including after the pointer flip, re-merges onto its
recorded prior snapshot and overwrites its own version (idempotent:
apply_changes is a pure function of prior + batch); a stale epoch, or
ANY epoch from a different checkpoint (whose re-delivered batches
carry different data), is refused instead of silently resurrecting
old CDC ops onto newer state. Re-homing a store to a new checkpoint
goes through ``epoch_store.adopt_store``. Direct ``apply_batch``
calls with no epoch (backfills, tests) write the next version with
the prior meta carried forward, and are refused on a stream-owned
store: a retry of the stream's last epoch would re-merge onto its
recorded prior and drop the backfill. A store whose committed version
has no ``_META.json`` predates this format and is refused; the error
names the way out.

In-batch ordering: a DataFrame micro-batch carries NO row order, so
when several ops hit one key in one batch the collapse needs an
explicit event-sequence column (``seq_col`` — LSN, source timestamp)
to pick the true last event; with one, [insert K, delete K] nets to
the delete. Without one the collapse is the documented
arbitrary-but-deterministic max over (op, values) — which
systematically favors upserts over deletes ('u' > 'd'); supply
``seq_col`` whenever the source emits intra-batch multi-ops.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.streaming.epoch_store import (
    commit_carried,
    commit_version,
    current_version,
    drain_into_store,
    has_meta,
    plan_fold,
    prune_versions,
    read_meta,
)


def _snapshot_at(
    spark: SparkSession, store_path: str, version: int | None
) -> DataFrame | None:
    if version is None:
        return None
    return spark.read.parquet(os.path.join(store_path, f"v{version}"))


def read_snapshot(spark: SparkSession, store_path: str) -> DataFrame | None:
    """Current snapshot, or None before the first applied batch."""
    return _snapshot_at(spark, store_path, current_version(store_path))


def apply_batch(
    batch: DataFrame,
    store_path: str,
    key_cols: list[str],
    op_col: str | None,
    epoch_id: int | None = None,
    checkpoint_token: str | None = None,
    seq_col: str | None = None,
) -> None:
    """Apply one micro-batch to the store (the foreachBatch body).

    Rows are upserts keyed by ``key_cols``; ``op_col`` rows equal to
    'delete' evict their key. In-batch duplicates collapse by the
    LAST event when ``seq_col`` orders them, else by the documented
    deterministic (op, values) max — see module docstring. With
    ``epoch_id`` (the streaming path) the fold is planned by
    ``epoch_store.plan_fold``; without it the call writes the next
    version guard-less (backfills, tests), and is refused on a
    stream-owned store."""
    from amazon_personalize_connectors_spark.operators.cdc import apply_changes

    cur = current_version(store_path)
    if cur is not None and not has_meta(store_path, cur):
        raise ValueError(
            f"v{cur}, the committed version of the cdc store at "
            f"{store_path!r}, has no _META.json: the store predates "
            f"per-version epoch metadata. If a stream wrote it, writing "
            f"here would drop its token and epoch guard: let its last "
            f"drain finish on the release that wrote it, then rebuild "
            f"from read_snapshot() into a new store path. If only "
            f"guard-less apply_batch calls wrote it, stamp it in place "
            f"with epoch_store.commit_carried({store_path!r}, {cur}, None)."
        )
    if epoch_id is not None:
        version, prior, _ = plan_fold(store_path, epoch_id, checkpoint_token)
    elif read_meta(store_path, cur)["last_epoch"] is not None:
        raise ValueError(
            f"guard-less apply_batch onto the stream-owned cdc store "
            f"at {store_path!r}: a retry of the stream's last epoch "
            f"re-merges onto its recorded prior snapshot and would "
            f"drop this write. Feed the rows through the owning "
            f"stream, or rebuild into a new store path."
        )
    else:
        version, prior = (0 if cur is None else cur + 1), cur

    value_cols = [c for c in batch.columns
                  if c not in (*key_cols, op_col, seq_col)]
    # collapse in-batch duplicates: seq-ordered last event when the
    # source provides one, else the deterministic (op, values) max
    lead = ([F.col(seq_col)] if seq_col else []) + (
        [F.col(op_col)] if op_col else [F.lit("upsert").alias("_op")])
    collapsed = (
        batch.groupBy(*key_cols)
        .agg(
            F.max(
                F.struct(*lead, *[F.col(c) for c in value_cols])
            ).alias("_m")
        )
        .select(
            *key_cols,
            (F.col(f"_m.{op_col}") if op_col else F.lit("upsert")).alias("op"),
            *[F.col(f"_m.{c}").alias(c) for c in value_cols],
        )
    )
    current = _snapshot_at(batch.sparkSession, store_path, prior)
    if current is None:
        # null-safe: a NULL op is an upsert, never a silent delete
        # (same rule as operators/cdc.py apply_changes)
        merged = collapsed.where(~F.col("op").eqNullSafe("delete")).select(
            *key_cols, *value_cols
        )
    else:
        merged = apply_changes(current, collapsed, key_cols, op_col="op")
    out = os.path.join(store_path, f"v{version}")
    merged.write.mode("overwrite").parquet(out)
    # meta before pointer; pointer flip LAST via atomic rename —
    # readers only ever see a complete version
    if epoch_id is None:
        commit_carried(store_path, version, prior)
    else:
        e = int(epoch_id)
        commit_version(store_path, version, e, prior, e, checkpoint_token)


def prune_snapshots(store_path: str, keep_last: int = 2) -> None:
    """Drop superseded snapshot versions, keeping the newest
    ``keep_last`` (code-review r9: every trigger writes a FULL new
    snapshot copy, so a long-lived stream otherwise grows disk by
    |snapshot| per trigger forever). keep_last >= 2 is both reader
    grace AND a retry-correctness requirement (ADVICE r9): the
    committed version's 'prev' snapshot is what a Spark retry of the
    last epoch re-merges onto — deleting it wedges the stream on a
    missing parquet path. Belt-and-braces, the meta's ``prev`` (and
    the current pointer) are ALWAYS added to the live set even if
    ``keep_last`` arithmetic would drop them."""
    if keep_last < 2:
        raise ValueError(
            "keep_last must be >= 2: the committed version's 'prev' "
            "snapshot is required by the retry-after-flip path, not "
            "just reader grace"
        )
    cur = current_version(store_path)
    if cur is None:
        return
    live = {cur - i for i in range(keep_last)}
    prev = read_meta(store_path, cur)["prev"]
    if prev is not None:
        live.add(prev)
    prune_versions(store_path, live)


def stream_apply_changes(
    stream: DataFrame,
    store_path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    op_col: str | None = None,
    seq_col: str | None = None,
    timeout_s: float = 300.0,
) -> None:
    """Drain a stream (Trigger.AvailableNow) applying every micro-batch
    onto the keyed snapshot at ``store_path``."""
    drain_into_store(
        stream, store_path, checkpoint_dir,
        lambda b, e, token: apply_batch(
            b, store_path, key_cols, op_col, epoch_id=e,
            checkpoint_token=token, seq_col=seq_col,
        ),
        timeout_s,
    )
