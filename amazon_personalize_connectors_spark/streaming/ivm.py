"""Streaming two-sided incremental view maintenance: keep a grouped
join rollup current while BOTH join sides arrive as micro-batches —
the stream form of ``operators/cdc.py:incremental_join_rollup``.

Each micro-batch may carry a mix of ΔA (dimension-side: key → group)
and ΔB (fact-side: key → value) rows, tagged by a ``side`` column.
The delta rule

    (A ∪ ΔA) ⋈ (B ∪ ΔB) = A⋈B ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB

means the stored rollup is NEVER recomputed: the three delta terms
are delta-sized joins against the accumulated opposite-side state,
and their partial aggregates merge into the rollup by exact bigint
addition.

Storage discipline: the shared epoch-keyed version chain
(streaming/epoch_store.py). Version dir ``v{n}`` holds one epoch's
side deltas (``a_delta``/``b_delta`` — append cost ∝ the batch, never
a state rewrite) plus the full new ``rollup`` (∝ groups — small by
construction). ``plan_fold`` keys each fold on the foreachBatch epoch
id, which Spark holds stable across retries: a retried epoch re-reads
the same immutable prior chain and OVERWRITES its own dir, so the
fold is idempotent even if the previous attempt had already flipped
the pointer; a stale epoch or a foreign checkpoint is refused. The
commit order (data dirs, then meta, then ``_VERSION`` via rename)
never exposes a half-written version. Accumulated side state is the
union of the per-epoch delta dirs; long-running monitors should
compact them periodically (the ``model_refresh.compact_store``
precedent) — the LAW is unaffected by when compaction runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.operators.cdc import (
    incremental_join_rollup,
)
from amazon_personalize_connectors_spark.streaming.epoch_store import (
    commit_version,
    current_version as _current_version,
    drain_into_store,
    plan_fold,
    run_concurrently,
)

_SCHEMA_A = "k long, grp string"
_SCHEMA_B = "k long, val long"
_SCHEMA_R = "grp string, sum_v long, n_rows long"


def _read_required(
    spark: SparkSession, store_path: str, versions: list[int], what: str,
    schema: str,
) -> DataFrame:
    """Union of the ``what`` subdirs of ``versions``, which must ALL
    exist: the fold's correctness depends on complete prior state, so
    a missing dir is an error (pruned store, foreign store, partial copy), never a
    silent empty frame (code-review r9 — the old exists-filter made a
    pruned delta dir silently undercount every later rollup)."""
    if not versions:
        return spark.createDataFrame([], schema)
    paths = [os.path.join(store_path, f"v{i}", what) for i in versions]
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        raise ValueError(
            f"ivm store is missing required {what} dirs: {missing[:3]}"
            f"{' ...' if len(missing) > 3 else ''} — per-epoch deltas "
            f"are load-bearing state and must never be pruned (see "
            f"module docstring)."
        )
    return spark.read.schema(schema).parquet(*paths)


def apply_ivm_batch(
    batch: DataFrame,
    epoch_id: int,
    store_path: str,
    checkpoint_token: str | None = None,
) -> None:
    """foreachBatch body: fold one tagged micro-batch (columns
    ``side`` 'A'|'B', ``key``, ``grp``, ``val``) into the rollup
    store at ``store_path`` under the delta rule. Epoch-keyed through
    ``epoch_store.plan_fold`` (replays overwrite their own version,
    stale or foreign epochs are refused)."""
    spark = batch.sparkSession
    e = int(epoch_id)
    version, prior, _meta = plan_fold(store_path, e, checkpoint_token)
    vdir = os.path.join(store_path, f"v{version}")
    da = batch.where(F.col("side") == "A").select(
        F.col("key").cast("long").alias("k"), "grp"
    )
    db = batch.where(F.col("side") == "B").select(
        F.col("key").cast("long").alias("k"),
        F.col("val").cast("long").alias("val"),
    )
    # every fold version is a chain link: side state is the union of
    # the deltas of v0..v{prior}, the rollup lives in v{prior}
    chain = [] if prior is None else list(range(prior + 1))
    new_rollup = incremental_join_rollup(
        _read_required(spark, store_path, chain[-1:], "rollup", _SCHEMA_R),
        _read_required(spark, store_path, chain, "a_delta", _SCHEMA_A), da,
        _read_required(spark, store_path, chain, "b_delta", _SCHEMA_B), db,
        a_key="k", b_key="k", group_col="grp", value_col="val",
    ).select(
        "grp",
        F.col("sum_v").cast("long").alias("sum_v"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )
    # every input version dir is immutable (in the chain below
    # ``version``), so only this epoch's own (retry-overwritable) dir
    # is ever written; the three writes are independent jobs over
    # disjoint output directories, overlapped, and the commit lands
    # only after all three complete.
    run_concurrently([
        lambda: da.write.mode("overwrite").parquet(f"{vdir}/a_delta"),
        lambda: db.write.mode("overwrite").parquet(f"{vdir}/b_delta"),
        lambda: new_rollup.write.mode("overwrite").parquet(f"{vdir}/rollup"),
    ])
    commit_version(store_path, version, e, prior, e, token=checkpoint_token)


def maintain_from_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    timeout_s: float = 300.0,
) -> None:
    """Drain a tagged stream (Trigger.AvailableNow), maintaining the
    join rollup store one micro-batch at a time."""
    drain_into_store(
        stream, store_path, checkpoint_dir,
        lambda b, e, token: apply_ivm_batch(
            b, e, store_path, checkpoint_token=token
        ),
        timeout_s,
    )


def rollup_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """The maintained rollup at the committed version; by the delta
    rule it must equal a full batch join-rollup over everything
    drained — the law the oracle checks."""
    ver = _current_version(store_path)
    if ver is None:
        return spark.createDataFrame([], _SCHEMA_R)
    return spark.read.schema(_SCHEMA_R).parquet(
        os.path.join(store_path, f"v{ver}", "rollup")
    )
