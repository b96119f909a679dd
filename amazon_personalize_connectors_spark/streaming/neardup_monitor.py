"""Streaming incremental MinHash-LSH near-duplicate detection: keep
the corpus's LSH band table current while documents arrive as
micro-batches, emitting each near-dup candidate pair exactly once —
"is this incoming document a copy of anything we already hold"
without ever re-banding history.

Why the delta rule is exact here: the band table is a PER-DOCUMENT
map (functions/dedup.py:minhash_band_table), so for a batch ΔD
against accumulated docs D the candidate pairs over D ∪ ΔD are

    cand(D ∪ ΔD) = cand(D)  ∪  join(bands(ΔD), bands(D))
                           ∪  cand(ΔD)

— every pair is generated in the epoch its LATER member arrives, all
of its shared bands at once (the earlier doc's bands are fully in
state, the later doc's fully in the batch). Per-trigger cost is
∝ |batch| × bands plus the bucket-keyed join against state; history
is NEVER re-banded or re-joined against itself.

Storage uses the shared epoch-keyed version chain (streaming/
epoch_store.py): each fold's version dir holds that epoch's ``bands``
delta (append cost ∝ batch — state is the union of immutable prior
deltas, no rewrite) and its ``pairs`` output; a replayed epoch —
including after the pointer flip — re-reads the same prior versions
and overwrites its own dir, a stale epoch (fresh checkpoint against
an old store) is refused, and ``compact_store`` collapses the deltas
into one non-epoch version between drains. Document ids must be
unique across the stream's lifetime (the dedup-scan contract).

Law (oracle-checked by q:stream_minhash_lsh): the union of all
epochs' pairs equals the batch ``minhash_lsh_candidates`` over
everything drained — same params, same counts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.functions.dedup import (
    minhash_band_table,
)
from amazon_personalize_connectors_spark.streaming.epoch_store import (
    commit_carried,
    commit_version,
    current_version as _current_version,
    drain_into_store,
    has_meta,
    plan_fold,
    prune_versions as _prune_versions,
    read_meta,
    read_required,
    run_concurrently,
)

_BANDS_SCHEMA = "id long, band int, bucket string"
_PAIRS_SCHEMA = "id_a long, id_b long, n_shared_bands long"


def _live_versions(store_path: str, upto: int | None) -> list[int]:
    """The version dirs that constitute the state AS OF ``upto``: walk
    the meta chain downward, stopping at (and including) the nearest
    compaction (``epoch: null`` — it contains the union of everything
    before it). Readers and folds union exactly this set, so
    superseded directories may SURVIVE compaction (grace window for
    in-flight readers, ADVICE r8) without ever being double-read —
    previously state reads unioned ``range(version + 1)`` and were
    only correct because pruning was immediate.

    A LEGACY dir with no ``_META.json`` sidecar reads as
    ``epoch: None`` through ``read_meta`` — but it is a FOLD delta,
    not a compaction: the sidecar's physical existence is checked
    before the epoch value, so legacy stores keep their full range
    (treating the fallback as a compaction would silently truncate
    state and let the pruner delete live deltas)."""
    live: list[int] = []
    v = upto
    while v is not None and v >= 0:
        live.append(v)
        is_compaction = (
            has_meta(store_path, v)
            and read_meta(store_path, v)["epoch"] is None
        )
        if is_compaction:
            break  # compaction: contains all earlier state
        v = v - 1
    return sorted(live)


def apply_neardup_batch(
    batch: DataFrame,
    epoch_id: int,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 6,
    band_size: int = 2,
    checkpoint_token: str | None = None,
) -> None:
    """foreachBatch body: band one document micro-batch, emit its new
    candidate pairs (batch-vs-state + batch-vs-batch), append its
    band delta. Same epoch discipline as streaming/ivm.py."""
    spark = batch.sparkSession
    e = int(epoch_id)
    version, prior, _meta = plan_fold(store_path, e, checkpoint_token)
    vdir = os.path.join(store_path, f"v{version}")
    new_bands = minhash_band_table(
        batch, text_col, id_col, n, num_hashes, band_size
    ).localCheckpoint(eager=True)  # read 3x: state join, self join, delta write
    state_bands = read_required(
        spark, store_path, _live_versions(store_path, prior), "bands",
        _BANDS_SCHEMA,
    )
    # batch-vs-state: the new doc is always the later member; order
    # the pair by id for a stable output key
    vs_state = new_bands.alias("nb").join(
        state_bands.alias("sb"), ["band", "bucket"]
    ).select(
        F.least(F.col("nb.id"), F.col("sb.id")).alias("id_a"),
        F.greatest(F.col("nb.id"), F.col("sb.id")).alias("id_b"),
    )
    a = new_bands.select(F.col("id").alias("id_a"), "band", "bucket")
    b = new_bands.select(F.col("id").alias("id_b"), "band", "bucket")
    vs_batch = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    pairs = (
        vs_state.unionByName(vs_batch)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_bands"))
    )
    # the two writes are independent jobs over disjoint output
    # directories off the eagerly-checkpointed band table — overlapped
    # (r13); the commit below still lands only after both complete.
    run_concurrently([
        lambda: pairs.write.mode("overwrite").parquet(f"{vdir}/pairs"),
        lambda: new_bands.write.mode("overwrite").parquet(f"{vdir}/bands"),
    ])
    commit_version(store_path, version, e, prior, e, token=checkpoint_token)


def maintain_from_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    timeout_s: float = 300.0,
    **band_kwargs,
) -> None:
    """Drain a document stream (Trigger.AvailableNow), maintaining the
    near-dup store one micro-batch at a time."""
    drain_into_store(
        stream, store_path, checkpoint_dir,
        lambda b, e, token: apply_neardup_batch(
            b, e, store_path, checkpoint_token=token, **band_kwargs
        ),
        timeout_s,
    )


def candidates_from_store(
    spark: SparkSession, store_path: str
) -> DataFrame:
    """All candidate pairs drained so far — the per-epoch pair sets
    are disjoint (a pair lands in its later member's epoch), so the
    union IS the batch result over everything drained; the defensive
    re-aggregate costs one pairs-sized shuffle and guards against a
    reprocessed-epoch artifact ever double-counting."""
    ver = _current_version(store_path)
    if ver is None:
        return spark.createDataFrame([], _PAIRS_SCHEMA)
    pairs = read_required(
        spark, store_path, _live_versions(store_path, ver), "pairs",
        _PAIRS_SCHEMA,
    )
    return pairs.groupBy("id_a", "id_b").agg(
        F.sum("n_shared_bands").cast("bigint").alias("n_shared_bands")
    )


def compact_store(spark: SparkSession, store_path: str) -> None:
    """Collapse the per-epoch band/pair deltas into one version dir —
    the operational policy that bounds read fan-out (state reads union
    one path per drained epoch; after compaction, one path total).
    The law is unaffected: bands are a per-doc map and pairs are
    epoch-disjoint, so unioning either is content-preserving.

    Crash-safe AND reader-safe like model_refresh.compact_store: the
    compacted dir is fully written before the pointer flips (a crash
    leaves the old versions authoritative and the half-written dir
    inert); post-flip pruning keeps the pre-flip reader's reachable
    set (``_live_versions`` of the superseded version — readers union
    the live chain, never a blind range, so surviving grace dirs are
    never double-read) and an explicit ``gc_store`` collapses to the
    current version from a maintenance window. The compaction is a
    non-epoch version in the chain (epoch None, last_epoch carried
    forward), so a resumed stream's next epoch folds cleanly on top —
    and a RETRY of the last epoch arriving after compaction is
    refused by plan_fold instead of overwriting the compacted state
    (compact only between successfully committed drains)."""
    cur = _current_version(store_path)
    if cur is None:
        return
    live = _live_versions(store_path, cur)
    version = cur + 1
    out = os.path.join(store_path, f"v{version}")
    bands = read_required(spark, store_path, live, "bands", _BANDS_SCHEMA)
    pairs = read_required(spark, store_path, live, "pairs", _PAIRS_SCHEMA)
    bands.write.mode("overwrite").parquet(os.path.join(out, "bands"))
    pairs.groupBy("id_a", "id_b").agg(
        F.sum("n_shared_bands").cast("bigint").alias("n_shared_bands")
    ).write.mode("overwrite").parquet(os.path.join(out, "pairs"))
    commit_carried(store_path, version, cur)
    # grace-window pruning (ADVICE r8): the pre-flip reader's
    # reachable set survives; everything below the previous
    # compaction goes
    _prune_versions(store_path, set(live) | {version})


def gc_store(store_path: str) -> None:
    """Explicit GC: delete every version dir outside the CURRENT
    live chain. Run from a maintenance window when no reader can
    hold a pre-flip pointer."""
    ver = _current_version(store_path)
    if ver is None:
        return
    _prune_versions(store_path, set(_live_versions(store_path, ver)))
