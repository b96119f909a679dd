"""Streaming co-visitation model refresh: maintain the pair-count
model from an interaction stream, one micro-batch of increments at a
time — the "retrain nightly" job replaced by continuous maintenance.

Each micro-batch runs ``operators/recsys.py:covisitation_increments``
against the accumulated per-user item state, merges the increments
into the pair-count store (one unionByName + sum groupBy — the
incremental_rollup_merge shape), and writes the next item-state
version alongside. Old x old pairs are NEVER regenerated;
pair-generation cost per trigger is ∝ |batch| x items-per-touched-
user, not |history|².

Both stores are HASH-BUCKETED and a micro-batch rewrites ONLY the
buckets it touches: items are bucketed by ``pmod(xxhash64(u), B)``
and pairs by ``pmod(xxhash64(item), B)``. A version directory holds
just the touched buckets' data plus a ``_MANIFEST.json`` mapping
EVERY bucket to the version directory currently holding it; readers
assemble the store from the manifest. Per-trigger write cost is
therefore ∝ the state living in buckets the batch touched — not the
full accumulated state (the round-4 full-copy rewrite) — and at
warehouse scale B is sized so a bucket is a few HDFS blocks.

Commit discipline is unchanged from the cdc_sink double-buffer: the
version directory (touched buckets + manifest) is written first and
the ``_VERSION`` pointer flips LAST, committing pairs, items, and
manifest together. A retried batch (foreachBatch redelivery after a
crash anywhere before the flip) re-reads the previous version's
manifest and state, recomputes identical touched buckets, and
overwrites its own version directory idempotently — an append-only
item log would instead absorb the retry's items into state and
silently DROP its pair increments (caught by the retry test).

Read fan-out grows with the number of distinct versions referenced by
the manifest (each trigger adds at most the touched-bucket count);
the operational compaction policy is to periodically rewrite ALL
buckets into one version (equivalent to a batch with every bucket
touched), collapsing the manifest to a single version.

Serving reads the pair store and applies the same mirror + rank
window as ``covisitation_topk`` — see ``serve_topk``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.operators.recsys import (
    covisitation_increments,
)
from amazon_personalize_connectors_spark.streaming.epoch_store import (
    bucket_paths as _bucket_paths,
    commit_carried,
    commit_version,
    current_version as _current_version,
    drain_into_store,
    manifest_path as _manifest_path,
    plan_fold,
    prune_versions as _prune_versions,
    read_buckets as _read_buckets,
    read_manifest,
    run_concurrently,
    write_atomic,
)

_PAIR_SCHEMA = "item long, rec_item long, n_common long"
_ITEM_SCHEMA = "u long, i long"


def _read_manifest(store_path: str, version: int | None) -> dict:
    return read_manifest(
        store_path, version, {"n_buckets": None, "items": {}, "pairs": {}}
    )


def read_item_state(
    spark: SparkSession, store_path: str, buckets=None
) -> DataFrame:
    """Accumulated (u, i) state at the committed version (optionally
    only the given buckets); empty frame before the first batch."""
    man = _read_manifest(store_path, _current_version(store_path))
    return _read_buckets(
        spark, _bucket_paths(store_path, man, "items", buckets), _ITEM_SCHEMA
    )


def apply_interactions_batch(
    batch: DataFrame, epoch_id: int, store_path: str, n_buckets: int = 16
, checkpoint_token: str | None = None) -> None:
    """foreachBatch body: merge one interaction micro-batch into the
    pair-count model, rewriting ONLY the hash buckets the batch
    touches. ``batch`` columns: (u, i). ``n_buckets`` applies to the
    first batch; later batches inherit the store's bucketing from the
    manifest (a store cannot change bucket count mid-life).

    ``epoch_id`` keys the fold (epoch_store.plan_fold): a replayed
    epoch — including replay AFTER the pointer flip — re-reads the
    prior version's manifest and state and overwrites its own version
    directory, so increments are never double-merged; a stale epoch
    (fresh checkpoint against an old store) is refused.

    Precondition: ``batch`` must be replayable, i.e. recomputing it
    yields the same rows. The batch and its increments are pinned
    with ``persist()``, not a checkpoint, so an evicted cache block
    is recomputed from the source: a foreachBatch micro-batch of a
    file or Kafka source re-reads its checkpointed offsets, but a
    DataFrame over a one-shot or nondeterministic source could yield
    other rows, and the fold's item state and pair increments would
    then disagree."""
    spark = batch.sparkSession
    # the batch is read several times (bucket probe, increments,
    # item-state union) and the per-user delta aggregation inside
    # covisitation_increments must observe a stable row set — pin it.
    # persist, not eager localCheckpoint (r13): the bucket-probe
    # collect below is the job that materializes the cache, so the
    # batch projection runs once in ONE job instead of a checkpoint
    # job plus a collect job; recompute-on-eviction replays the
    # micro-batch relation deterministically from the checkpointed
    # offsets within this foreachBatch call.
    batch = batch.select("u", "i").persist()
    if batch.isEmpty():
        batch.unpersist()
        return
    version, prior, _meta = plan_fold(store_path, epoch_id, checkpoint_token)
    man = _read_manifest(store_path, prior)
    b_count = man["n_buckets"] if man["n_buckets"] else n_buckets
    out = os.path.join(store_path, f"v{version}")

    u_bucket = F.pmod(F.xxhash64("u"), F.lit(b_count))
    touched_item_buckets = sorted(
        r[0] for r in batch.select(u_bucket.alias("_b")).distinct().collect()
    )
    state_touched = _read_buckets(
        spark,
        _bucket_paths(store_path, man, "items", touched_item_buckets),
        _ITEM_SCHEMA,
    )
    # increments only need the state of users present in the batch —
    # carried-over users in the same bucket contribute no new pairs
    state_for_inc = state_touched.join(
        batch.select("u").distinct(), "u", "left_semi"
    )
    # persist, not eager localCheckpoint (r12 wave 7): the bucket
    # probe below is the job that materializes the increments cache,
    # so the expensive covisitation DAG runs once in ONE job instead
    # of a checkpoint job plus a probe job; the merge then reads the
    # cache.
    inc = (
        covisitation_increments(state_for_inc, batch)
        .withColumnRenamed("n_common_delta", "n_common")
        .persist()
    )
    p_bucket = F.pmod(F.xxhash64("item"), F.lit(b_count))
    touched_pair_buckets = sorted(
        int(b)
        for b in inc.agg(F.collect_set(p_bucket).alias("_bs")).head()["_bs"]
    )
    # the pairs merge and the item-state rewrite are independent jobs
    # over disjoint output directories — overlap them from a driver
    # thread pool (guide §2.6); the manifest is written only after
    # both complete, so the pointer-flip commit discipline is
    # unchanged (r12 wave 7).
    def _write_pairs() -> None:
        current = _read_buckets(
            spark,
            _bucket_paths(store_path, man, "pairs", touched_pair_buckets),
            _PAIR_SCHEMA,
        )
        merged = (
            current.unionByName(inc)
            .groupBy("item", "rec_item")
            .agg(F.sum("n_common").cast("bigint").alias("n_common"))
            .withColumn("bucket", p_bucket)
        )
        merged.write.mode("overwrite").partitionBy("bucket").parquet(
            os.path.join(out, "pairs")
        )

    def _write_items() -> None:
        next_items = (
            state_touched.unionByName(batch)
            .distinct()
            .withColumn("bucket", u_bucket)
        )
        next_items.write.mode("overwrite").partitionBy("bucket").parquet(
            os.path.join(out, "items")
        )

    run_concurrently(
        ([_write_pairs] if touched_pair_buckets else []) + [_write_items]
    )
    inc.unpersist()
    batch.unpersist()
    new_man = {
        "n_buckets": b_count,
        "items": {
            **man["items"],
            **{str(b): version for b in touched_item_buckets},
        },
        "pairs": {
            **man["pairs"],
            **{str(b): version for b in touched_pair_buckets},
        },
    }
    write_atomic(_manifest_path(store_path, version), json.dumps(new_man))
    # flip LAST — commits pairs, items, manifest, and epoch meta
    # together; a retry of this epoch re-reads v{prior}'s manifest for
    # BOTH stores and idempotently overwrites v{version}
    commit_version(store_path, version, int(epoch_id), prior,
                   int(epoch_id), token=checkpoint_token)


def refresh_from_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    timeout_s: float = 300.0,
    n_buckets: int = 16,
) -> None:
    """Drain an interaction stream (Trigger.AvailableNow), folding
    every micro-batch into the co-visitation model at ``store_path``.
    ``stream`` columns: (u, i), from a replayable source (files,
    Kafka) — see the precondition on ``apply_interactions_batch``."""
    drain_into_store(
        stream, store_path, checkpoint_dir,
        lambda b, e, token: apply_interactions_batch(
            b, e, store_path, n_buckets, checkpoint_token=token
        ),
        timeout_s,
    )


def serve_topk(
    spark: SparkSession, store_path: str, k: int = 10, min_common: int = 1
) -> DataFrame:
    """Top-k recommendations from the maintained pair store — the
    same mirror + rank window as ``covisitation_topk`` over counts
    that were never recomputed from history."""
    v = _current_version(store_path)
    if v is None:
        return spark.createDataFrame([], _PAIR_SCHEMA + ", rank int")
    man = _read_manifest(store_path, v)
    half = _read_buckets(
        spark, _bucket_paths(store_path, man, "pairs"), _PAIR_SCHEMA
    )
    if min_common > 1:
        half = half.where(F.col("n_common") >= min_common)
    pairs = half.unionByName(
        half.select(
            F.col("rec_item").alias("item"),
            F.col("item").alias("rec_item"),
            "n_common",
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("n_common").desc(), F.col("rec_item")
    )
    return pairs.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def compact_store(spark: SparkSession, store_path: str) -> None:
    """Collapse the manifest to a single version: rewrite EVERY bucket
    of both stores into one new version directory, flip the pointer,
    then delete the superseded version directories — the operational
    compaction policy the module docstring names (read fan-out grows
    with the distinct versions a manifest references; this resets it
    to 1).

    Crash-safe AND reader-safe with the same discipline as
    ann_monitor.compact_store (ADVICE r8): the new version directory
    and its manifest are fully written BEFORE the pointer flips (a
    crash before the flip leaves the old version authoritative and
    the half-written directory inert), and post-flip pruning keeps a
    GRACE WINDOW — the superseded version and everything its manifest
    references survive, so a concurrent reader that resolved the old
    manifest just before the flip still finds every bucket path; only
    strictly older versions are removed (a crash mid-delete leaves
    orphans the next compaction, or an explicit ``gc_store``,
    removes)."""
    prev = _current_version(store_path)
    if prev is None:
        return
    man = _read_manifest(store_path, prev)
    b_count = man["n_buckets"]
    version = prev + 1
    out = os.path.join(store_path, f"v{version}")
    items = _read_buckets(
        spark, _bucket_paths(store_path, man, "items"), _ITEM_SCHEMA
    )
    items.withColumn(
        "bucket", F.pmod(F.xxhash64("u"), F.lit(b_count))
    ).write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(out, "items")
    )
    pair_paths = _bucket_paths(store_path, man, "pairs")
    new_pairs: dict[str, int] = {}
    if pair_paths:
        pairs = _read_buckets(spark, pair_paths, _PAIR_SCHEMA)
        pairs.withColumn(
            "bucket", F.pmod(F.xxhash64("item"), F.lit(b_count))
        ).write.mode("overwrite").partitionBy("bucket").parquet(
            os.path.join(out, "pairs")
        )
        new_pairs = {b: version for b in man["pairs"]}
    new_man = {
        "n_buckets": b_count,
        "items": {b: version for b in man["items"]},
        "pairs": new_pairs,
    }
    write_atomic(_manifest_path(store_path, version), json.dumps(new_man))
    # compaction is a non-epoch writer: version chains past the epoch
    # counter (epoch None) while carrying last_epoch forward so the
    # stream's next fold still validates against it
    commit_carried(store_path, version, prev)
    # grace-window pruning (ADVICE r8): keep prev's whole reachable
    # set for in-flight readers; prune everything older
    grace_live = {prev, version} | {
        int(v) for kind in ("items", "pairs") for v in man[kind].values()
    }
    _prune_versions(store_path, grace_live)


def gc_store(store_path: str) -> None:
    """Explicit GC: delete every version directory the CURRENT
    manifest doesn't reference. Run from a maintenance window when no
    reader can hold a pre-flip manifest; compact_store itself only
    prunes past the grace set (see there)."""
    ver = _current_version(store_path)
    if ver is None:
        return
    man = _read_manifest(store_path, ver)
    live = {ver} | {
        int(v) for kind in ("items", "pairs") for v in man[kind].values()
    }
    _prune_versions(store_path, live)
