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
digest-store pattern in operators/delta.py).

Replay discipline (code-review r9 — this sink previously recorded no
epoch state at all): ``stream_apply_changes`` passes the foreachBatch
epoch and its checkpoint location; a ``_CDC_META.json`` sidecar pins
(last_epoch, prev, token). A replayed epoch — including after the
pointer flip — re-merges onto its recorded PRIOR snapshot and
overwrites its own version (idempotent: apply_changes is a pure
function of prior + batch); a stale epoch, or ANY epoch from a
different checkpoint (whose re-delivered batches carry different
data), is refused instead of silently resurrecting old CDC ops onto
newer state. The token is ``epoch_store.checkpoint_identity`` — a
nonce file inside the checkpoint dir, so a deleted-and-recreated
checkpoint reads as foreign (ADVICE r9) — not the dir path; an
upgrade/re-home goes through the explicit ``adopt_cdc_store``.
Direct ``apply_batch`` calls with no epoch stay guard-less on
un-owned stores; on a stream-owned store they require
``allow_stream_owned=True`` and re-point ``_CDC_META.prev`` at the
version they write so a later retry of the last epoch merges onto
the true prior snapshot instead of discarding the backfill wholesale
(ADVICE r9; overlapping-key caveat in the apply_batch docstring).

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

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.streaming.epoch_store import (
    _version_file,
    checkpoint_identity,
    current_version,
    drain_into_store,
    prune_versions,
    write_atomic,
)


def _cdc_meta_path(store_path: str) -> str:
    return os.path.join(store_path, "_CDC_META.json")


def _read_cdc_meta(store_path: str) -> dict:
    p = _cdc_meta_path(store_path)
    if not os.path.exists(p):
        return {"last_epoch": None, "prev": None, "token": None}
    with open(p) as f:
        return json.load(f)


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
    allow_stream_owned: bool = False,
) -> None:
    """Apply one micro-batch to the store (the foreachBatch body).

    Rows are upserts keyed by ``key_cols``; ``op_col`` rows equal to
    'delete' evict their key. In-batch duplicates collapse by the
    LAST event when ``seq_col`` orders them, else by the documented
    deterministic (op, values) max — see module docstring. With
    ``epoch_id`` (the streaming path) the replay/fresh-checkpoint
    guards engage; without it the call is guard-less (backfills,
    tests).

    Guard-less writes onto a STREAM-OWNED store (meta present) must
    opt in with ``allow_stream_owned=True`` and carry a caveat
    (code-review r10): the write re-points ``_CDC_META.prev`` at its
    own version so a later Spark retry of the last epoch merges onto
    the true prior snapshot — which preserves the backfill EXCEPT on
    keys the retried epoch itself touches, where the epoch's value is
    re-applied and wins (a key it upserted reverts to its value; a
    key it deleted is re-deleted even if the backfill re-added it).
    Backfill disjoint keys, or pause/drain the stream first, when
    that matters."""
    from amazon_personalize_connectors_spark.operators.cdc import apply_changes

    spark = batch.sparkSession
    meta = _read_cdc_meta(store_path)
    if (
        epoch_id is None
        and meta.get("last_epoch") is not None
        and not allow_stream_owned
    ):
        raise ValueError(
            f"guard-less apply_batch onto the stream-owned cdc store "
            f"at {store_path!r}: pass allow_stream_owned=True to "
            f"backfill it (see the docstring caveat — a retry of the "
            f"last epoch re-applies its batch, which wins on "
            f"overlapping keys), or drain/stop the owning stream "
            f"first."
        )
    cur_version = current_version(store_path)
    prior_version: int | None = cur_version
    if epoch_id is not None and cur_version is not None:
        last = meta.get("last_epoch")
        stored_token = meta.get("token")
        if (
            checkpoint_token is not None
            and stored_token is not None
            and checkpoint_token != stored_token
        ):
            raise ValueError(
                f"stream checkpoint {checkpoint_token!r} does not own "
                f"the cdc store at {store_path!r} (committed by "
                f"{stored_token!r}): a fresh or foreign checkpoint "
                f"re-delivers CDC batches that would silently replay "
                f"stale ops onto newer state. Use a new store path; "
                f"or, if this checkpoint legitimately owns the store "
                f"(pre-nonce meta, or an intentional re-home), run "
                f"cdc_sink.adopt_cdc_store(store, checkpoint_dir) "
                f"first."
            )
        if last is not None:
            e = int(epoch_id)
            if e < last:
                raise ValueError(
                    f"epoch {e} is behind the cdc store's last applied "
                    f"epoch {last} (store {store_path!r}): a fresh "
                    f"streaming checkpoint cannot be pointed at an "
                    f"existing store — its replayed batches would "
                    f"resurrect deleted keys and revert updates. Use a "
                    f"new store path when restarting from scratch."
                )
            if e == last:
                # retry after the pointer flip: re-merge onto the
                # RECORDED prior snapshot and overwrite our own version
                # (idempotent — same prior, same batch, same merge)
                prior_version = meta.get("prev")

    value_cols = [
        c
        for c in batch.columns
        if c not in key_cols and c != op_col and c != seq_col
    ]
    # collapse in-batch duplicates: seq-ordered last event when the
    # source provides one, else the deterministic (op, values) max
    lead = (
        [F.col(seq_col)]
        if seq_col
        else []
    ) + ([F.col(op_col)] if op_col else [F.lit("upsert").alias("_op")])
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
    current = _snapshot_at(spark, store_path, prior_version)
    if current is None:
        # null-safe: a NULL op is an upsert, never a silent delete
        # (same rule as operators/cdc.py apply_changes)
        merged = collapsed.where(~F.col("op").eqNullSafe("delete")).select(
            *key_cols, *value_cols
        )
        version = 0 if cur_version is None else cur_version
    else:
        version = (
            cur_version
            if prior_version != cur_version  # retry: overwrite own dir
            else cur_version + 1
        )
        merged = apply_changes(current, collapsed, key_cols, op_col="op")
    out = os.path.join(store_path, f"v{version}")
    merged.write.mode("overwrite").parquet(out)
    # meta before pointer; pointer flip LAST via atomic rename —
    # readers only ever see a complete version
    new_meta: dict | None = None
    if epoch_id is not None:
        new_meta = {
            "last_epoch": int(epoch_id),
            "prev": prior_version,
            "token": checkpoint_token,
        }
    elif meta.get("last_epoch") is not None:
        # opted-in backfill onto a STREAM-OWNED store (ADVICE r9):
        # advancing _VERSION while leaving _CDC_META untouched would
        # make a later retry of epoch == last_epoch re-merge onto the
        # now-stale recorded prev, silently discarding this backfill
        # wholesale. Re-point prev at the version this write produced:
        # the retry then re-applies its batch onto the true prior
        # snapshot — preserving the backfill on all keys the epoch
        # didn't touch; on OVERLAPPING keys the re-applied epoch wins
        # (the documented allow_stream_owned caveat).
        new_meta = {
            "last_epoch": meta["last_epoch"],
            "prev": version,
            "token": meta.get("token"),
        }
    if new_meta is not None:
        write_atomic(_cdc_meta_path(store_path), json.dumps(new_meta))
    write_atomic(_version_file(store_path), str(version))


def adopt_cdc_store(store_path: str, checkpoint_dir: str) -> None:
    """Deliberately transfer cdc-store ownership to ``checkpoint_dir``
    (the _CDC_META twin of ``epoch_store.adopt_store`` — see its
    docstring for why migration is explicit, never automatic)."""
    meta = _read_cdc_meta(store_path)
    if meta.get("last_epoch") is None:
        return  # not stream-owned yet — first epoch stamps ownership
    meta["token"] = checkpoint_identity(checkpoint_dir)
    write_atomic(_cdc_meta_path(store_path), json.dumps(meta))


def prune_snapshots(store_path: str, keep_last: int = 2) -> None:
    """Drop superseded snapshot versions, keeping the newest
    ``keep_last`` (code-review r9: every trigger writes a FULL new
    snapshot copy, so a long-lived stream otherwise grows disk by
    |snapshot| per trigger forever). keep_last >= 2 is both reader
    grace AND a retry-correctness requirement (ADVICE r9): the
    ``_CDC_META`` 'prev' snapshot is what a Spark retry of the last
    epoch re-merges onto — deleting it wedges the stream on a missing
    parquet path. Belt-and-braces, the meta's ``prev`` (and the
    current pointer) are ALWAYS added to the live set even if
    ``keep_last`` arithmetic would drop them."""
    if keep_last < 2:
        raise ValueError(
            "keep_last must be >= 2: the _CDC_META 'prev' snapshot is "
            "required by the retry-after-flip path, not just reader "
            "grace"
        )
    cur = current_version(store_path)
    if cur is None:
        return
    live = {cur - i for i in range(keep_last)}
    live.add(cur)
    prev = _read_cdc_meta(store_path).get("prev")
    if prev is not None:
        live.add(int(prev))
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
