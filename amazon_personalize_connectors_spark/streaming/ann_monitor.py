"""Streaming incremental kNN-graph maintenance: keep the HNSW layer-0
edge set (functions/similarity.py:hnsw_index_build's ``out_m`` stage —
each node's top-``m`` neighbors by exact quantized inner product over
its multi-table RP-LSH candidate set) current while vectors arrive as
micro-batches — the "rebuild the ANN index nightly" job replaced by
continuous maintenance.

Why the delta rule is exact: a node's candidate set is determined by
its LSH buckets, so a batch ΔN can only change the top-``m`` of nodes
that SHARE at least one bucket with some new vector (their candidate
set gained members; scores of existing candidates never change). The
per-trigger recompute is therefore

    affected = { x in N ∪ ΔN : ∃ table t, bucket_t(x) ∈ bucket_t(ΔN) }

and edges of every other node are carried over byte-identically. The
quadratic work (candidate generation + scoring) is ∝ the affected
buckets' populations — never |history|². Two linear-but-narrow terms
remain per trigger, both documented: the 4-int signature table is
scanned to discover affected nodes (16 bytes/row — at 10⁹ vectors
~16 GB across the cluster, vs re-scoring's terabytes), and vector
payloads are read ONLY for partitions holding candidates.

Storage mirrors model_refresh's manifest-bucketed pointer-flip store:
``sigs`` (id, t0..t{T-1}), ``vecs`` (id, qv), and ``edges``
(src, dst, qdot) are each partitioned by the TABLE-0 LSH bucket
(≤ 2^n_bits directories), a version directory holds only the buckets
its batch touched plus a ``_MANIFEST.json`` pinning every bucket to
the version currently owning it, and the ``_VERSION`` pointer flips
last. Epoch discipline comes from streaming/epoch_store.plan_fold: a
replayed epoch — including after the flip — re-reads the PRIOR
version's manifest and overwrites its own directory idempotently; a
stale epoch (fresh checkpoint on an old store) is refused. Vector ids
must be unique across the stream's lifetime.

Law (oracle-checked by q:stream_hnsw_edges): after draining, the
assembled edge store equals the batch ``out_m`` — per-node top-``m``
over the full accumulated corpus with identical buckets, scores, and
(qdot desc, dst asc) tie-breaks. The batch stages downstream of
``out_m`` (symmetrize + prune, hubs, cross links) are linear
one-pass serving steps and run unchanged over the maintained store.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.functions.similarity import (
    RP_HASH_FAMILY,
    _iqdot,
    lsh_signed_nodes,
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

_EDGE_SCHEMA = "src long, dst long, qdot long"


def _sig_schema(n_tables: int) -> str:
    return "id long, " + ", ".join(f"t{t} long" for t in range(n_tables))


_VEC_SCHEMA = "id long, qv array<bigint>"


def _read_manifest(store_path: str, version: int | None) -> dict:
    return read_manifest(store_path, version, {
        "n_bits": None, "n_tables": None, "m": None, "hash_family": None,
        "sigs": {}, "vecs": {}, "edges": {},
    })


def _check_store_family(store_path: str, man: dict, fresh: bool) -> None:
    """Refuse to fold into (or serve from) a store whose persisted
    RP-LSH hash family differs from the code's current one (ADVICE
    r8): apply_vectors_batch reuses the stored n_bits/n_tables but
    recomputes NEW-node signatures with the current ``_rp_weight`` —
    against a store built under a different family that silently
    mixes incompatible bucket spaces and degrades candidate recall
    with no error. A non-fresh store whose manifest predates the
    stamp (no ``hash_family`` key) is equally unknowable: refused."""
    if fresh:
        return
    fam = man.get("hash_family")
    if fam != RP_HASH_FAMILY:
        raise ValueError(
            f"ANN store at {store_path} was built with hash family "
            f"{fam!r}; the current code computes {RP_HASH_FAMILY!r} — "
            f"folding or probing would mix incompatible bucket "
            f"spaces. Rebuild the store from the vector stream."
        )


def apply_vectors_batch(
    batch: DataFrame,
    epoch_id: int,
    store_path: str,
    m: int = 8,
    n_bits: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_token: str | None = None,
) -> None:
    """foreachBatch body: fold one vector micro-batch into the kNN
    edge store, recomputing edges ONLY for nodes sharing an LSH bucket
    with the batch and rewriting only the t0 partitions that hold
    them. Graph parameters apply to the first batch; later batches
    inherit the store's (a graph cannot change geometry mid-life)."""
    spark = batch.sparkSession
    if batch.isEmpty():
        return
    version, prior, _meta = plan_fold(store_path, epoch_id, checkpoint_token)
    man = _read_manifest(store_path, prior)
    _check_store_family(store_path, man, fresh=prior is None)
    n_bits = man["n_bits"] or n_bits
    n_tables = man["n_tables"] or n_tables
    m = man["m"] or m
    tables = [f"t{t}" for t in range(n_tables)]
    out = os.path.join(store_path, f"v{version}")
    sig_schema = _sig_schema(n_tables)

    # LAZY localCheckpoint (r13): the touched-buckets collect below is
    # the job that materializes the checkpoint (it scans every
    # partition, so doCheckpoint finds all blocks already computed),
    # so the batch's LSH signing runs once in ONE job instead of an
    # eager-checkpoint job plus a collect job. localCheckpoint rather
    # than persist deliberately: a cache() here builds a COLUMNAR
    # InMemoryRelation of the qv array column — measured 2x slower
    # per fold (cache build + per-reader decompression) than the
    # checkpoint's plain row blocks.
    new_nodes = lsh_signed_nodes(
        batch, n_bits, n_tables, id_col, vec_col
    ).localCheckpoint(eager=False)
    new_sigs = new_nodes.select("id", *tables)

    # affected discovery: the narrow signature scan (see module doc)
    state_sigs = _read_buckets(
        spark, _bucket_paths(store_path, man, "sigs"), sig_schema
    )
    # ONE driver job discovers every table's touched buckets AND the
    # per-bucket batch counts (r13; the counts make the fresh-store
    # fold below job-free for its regime dial), materializing the
    # new_nodes cache as it runs.
    touched = {t: [] for t in tables}
    n_new = 0
    for r in (
        new_sigs.select(
            F.posexplode(F.array(*[F.col(t) for t in tables])).alias(
                "_t", "_b"
            )
        )
        .groupBy("_t", "_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    ):
        touched[tables[r["_t"]]].append(r["_b"])
        if r["_t"] == 0:
            n_new += int(r["_n"])
    affected_pred = None
    for t in tables:
        p = F.col(t).isin(touched[t])
        affected_pred = p if affected_pred is None else (affected_pred | p)
    affected_state = state_sigs.where(affected_pred)
    # persist (not eager localCheckpoint): the regime-dial aggregate
    # below is the materializing job, so the four downstream readers
    # (candidates, carry anti-join, src_t0, the dial itself) share one
    # computation of a_sigs in ONE job instead of two (r12 wave 7).
    a_sigs = affected_state.unionByName(new_sigs).persist()

    # candidate generation: per-table bucket equi-joins of the
    # affected side against the full accumulated signature set. The
    # affected side is batch-proportional (never |history|); when its
    # measured count is small it rides as a broadcast so the corpus
    # side never shuffles (same count-gated physical dial as
    # _knn_out_edges_from_signed; the shuffle join remains the path
    # for pathological churn).
    from amazon_personalize_connectors_spark.functions.similarity import (
        _KNN_BROADCAST_MAX_NODES,
    )

    # ONE driver job yields both the broadcast-regime count and the
    # affected t0 partition list (r12; was a count() plus two later
    # duplicate t0-distinct collects) — and, since wave 7, doubles as
    # the job that materializes the a_sigs cache. On a FRESH store
    # (r13) there is no state to scan: a_sigs == new_sigs, so the
    # count and t0 set are already known from the touched-buckets
    # collect and the whole job is skipped.
    if prior is None:
        a_n, a_parts = n_new, sorted(set(touched["t0"]))
    else:
        a_stats = a_sigs.agg(
            F.count(F.lit(1)).alias("_n"), F.collect_set("t0").alias("_t0s")
        ).head()
        a_n, a_parts = int(a_stats["_n"]), sorted(a_stats["_t0s"])
    maybe_bcast = (
        F.broadcast
        if a_n <= _KNN_BROADCAST_MAX_NODES
        else (lambda df: df)
    )
    all_sigs = state_sigs.unionByName(new_sigs)
    # one (table, bucket) equi-join instead of n_tables unioned
    # per-table joins (r12, mirroring _knn_out_edges_from_signed): the
    # accumulated signature set is scanned ONCE — at scale that is one
    # pass over the linear narrow term, not n_tables passes.
    a_st = a_sigs.select(
        F.col("id").alias("src"),
        F.posexplode(F.array(*[F.col(t) for t in tables])).alias("_t", "_k"),
    )
    # dst's OWN t0 rides along through candidate generation (r12
    # wave 7): it is functional on dst, so the (src, dst) distinct is
    # unchanged, and the vector-partition discovery below needs no
    # second join/scan of the accumulated signature set.
    b_st = all_sigs.select(
        F.col("id").alias("dst"),
        F.col("t0").alias("_dt0"),
        F.posexplode(F.array(*[F.col(t) for t in tables])).alias("_t", "_k"),
    )
    cand = (
        maybe_bcast(a_st)
        .join(b_st, ["_t", "_k"])
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst", "_dt0")
        .distinct()
        .persist()
    )

    # vector payloads: only partitions that can hold a candidate id.
    # ONE aggregate both materializes the cand cache and returns the
    # dst partition set (was an eager checkpoint plus a join-collect
    # against the signature store).
    need_t0 = sorted(
        set(a_parts)
        | {
            int(b)
            for b in cand.agg(F.collect_set("_dt0").alias("_b")).head()["_b"]
        }
    )
    state_vecs = _read_buckets(
        spark, _bucket_paths(store_path, man, "vecs", need_t0), _VEC_SCHEMA
    )
    vecs = state_vecs.unionByName(new_nodes.select("id", "qv"))
    w_src = Window.partitionBy("src").orderBy(F.desc("qdot"), F.asc("dst"))
    out_m_new = (
        cand.select("src", "dst")
        .join(
            vecs.select(F.col("id").alias("src"), F.col("qv").alias("_aqv")),
            "src",
        )
        .join(
            vecs.select(F.col("id").alias("dst"), F.col("qv").alias("_bqv")),
            "dst",
        )
        .select("src", "dst", _iqdot(F.col("_aqv"), F.col("_bqv")).alias("qdot"))
        .withColumn("_rn", F.row_number().over(w_src))
        .where(F.col("_rn") <= m)
        .select("src", "dst", "qdot")
    )

    # rewrite ONLY the t0 partitions holding affected nodes (a_parts,
    # collected above): their non-affected residents carry over
    # untouched
    stored_edges = _read_buckets(
        spark, _bucket_paths(store_path, man, "edges", a_parts), _EDGE_SCHEMA
    )
    carry = stored_edges.join(
        a_sigs.select(F.col("id").alias("src")), "src", "left_anti"
    )
    src_t0 = a_sigs.select(F.col("id").alias("src"), F.col("t0").alias("bucket"))
    carry_t0 = (
        state_sigs.select(F.col("id").alias("src"), F.col("t0").alias("bucket"))
    )
    next_edges = carry.join(carry_t0, "src").unionByName(
        out_m_new.join(src_t0, "src")
    )

    # sig/vec partitions touched by NEW nodes: carried residents + new
    # (already collected in the single touched-buckets job above)
    new_parts = sorted(set(touched["t0"]))
    sig_part = state_sigs.where(F.col("t0").isin(new_parts)).unionByName(
        new_sigs
    )
    vec_part = (
        _read_buckets(
            spark, _bucket_paths(store_path, man, "vecs", new_parts), _VEC_SCHEMA
        )
        .unionByName(new_nodes.select("id", "qv"))
        .join(
            sig_part.select(F.col("id").alias("_i"), "t0"),
            F.col("id") == F.col("_i"),
        )
        .select("id", "qv", F.col("t0").alias("bucket"))
    )

    # the three store writes are independent jobs over disjoint output
    # directories — overlap them so one write's straggler tail
    # back-fills with the others' tasks (guide §2.6); the manifest is
    # written only after ALL of them complete, so the crash-safety
    # discipline — version directory fully written before the pointer
    # flips — is unchanged (r12 wave 7).
    run_concurrently([
        lambda: next_edges.write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(out, "edges")),
        lambda: sig_part.withColumn("bucket", F.col("t0"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(out, "sigs")),
        lambda: vec_part.write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(out, "vecs")),
    ])
    cand.unpersist()
    a_sigs.unpersist()

    # an affected bucket can end the fold EMPTY (its only resident has
    # no candidates) — a manifest entry would then point at a missing
    # partition dir; record only buckets that actually wrote rows and
    # drop the rest. r12: the write itself already materialized that
    # set as `bucket=<n>` partition directories (partitionBy creates a
    # directory iff the bucket wrote rows), so read it back from the
    # filesystem instead of checkpointing next_edges and running a
    # distinct-collect job over it.
    written_edge_parts = {
        int(d.split("=", 1)[1])
        for d in os.listdir(os.path.join(out, "edges"))
        if d.startswith("bucket=")
    }

    edge_entries = {
        b: v for b, v in man["edges"].items() if int(b) not in set(a_parts)
    }
    edge_entries.update(
        {str(b): version for b in a_parts if b in written_edge_parts}
    )
    new_man = {
        "n_bits": n_bits,
        "n_tables": n_tables,
        "m": m,
        "hash_family": RP_HASH_FAMILY,
        "sigs": {**man["sigs"], **{str(b): version for b in new_parts}},
        "vecs": {**man["vecs"], **{str(b): version for b in new_parts}},
        "edges": edge_entries,
    }
    os.makedirs(out, exist_ok=True)
    write_atomic(_manifest_path(store_path, version), json.dumps(new_man))
    commit_version(store_path, version, int(epoch_id), prior,
                   int(epoch_id), token=checkpoint_token)


def maintain_from_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    timeout_s: float = 300.0,
    **graph_kwargs,
) -> None:
    """Drain a vector stream (Trigger.AvailableNow), maintaining the
    kNN edge store one micro-batch at a time."""
    drain_into_store(
        stream, store_path, checkpoint_dir,
        lambda b, e, token: apply_vectors_batch(
            b, e, store_path, checkpoint_token=token, **graph_kwargs
        ),
        timeout_s,
    )


def compact_store(spark: SparkSession, store_path: str) -> None:
    """Collapse the manifest to a single version (VERDICT r7 item 8 —
    the graph-ANN twin of model_refresh.compact_store): a long-lived
    stream accretes roughly one version directory per micro-batch,
    and every probe's read fan-out grows with the distinct versions
    the manifest references; compaction rewrites EVERY sigs/vecs/
    edges bucket into one new version directory, flips the pointer,
    then prunes the superseded directories — read fan-out resets to 1
    while the assembled edge set stays BYTE-IDENTICAL (the law
    q:hnsw_compact oracle-checks and tests/test_ann_monitor.py pins).

    Crash-safe AND reader-safe: the new version directory and
    manifest are fully written BEFORE the pointer flips (a crash
    before the flip leaves the old version authoritative and the
    half-written directory inert); pruning after the flip keeps a
    GRACE WINDOW — the immediately superseded version survives so a
    concurrent reader that resolved the old manifest just before the
    flip still finds its bucket paths (ADVICE r8); only versions
    older than that are removed (a crash mid-delete leaves orphans no
    manifest references — the next compaction, or an explicit
    ``gc_store``, removes them). A non-epoch writer: the version
    chains past the epoch counter (epoch None) while carrying
    ``last_epoch`` forward, so the stream's next fold still validates
    replay/stale-epoch against the compacted base."""
    prev = _current_version(store_path)
    if prev is None:
        return
    man = _read_manifest(store_path, prev)
    n_tables = man["n_tables"]
    version = prev + 1
    out = os.path.join(store_path, f"v{version}")
    sig_schema = _sig_schema(n_tables)
    sigs = _read_buckets(
        spark, _bucket_paths(store_path, man, "sigs"), sig_schema
    ).localCheckpoint(eager=True)  # read 3x: write + 2 bucket joins
    vecs = _read_buckets(
        spark, _bucket_paths(store_path, man, "vecs"), _VEC_SCHEMA
    )
    edges = _read_buckets(
        spark, _bucket_paths(store_path, man, "edges"), _EDGE_SCHEMA
    )
    # the three full-store rewrites are independent jobs over disjoint
    # output directories (vecs/edges join only the CHECKPOINTED sigs)
    # — overlap them from a driver thread pool (guide §2.6); the
    # manifest below is written only after all three complete, so the
    # pointer-flip crash-safety discipline is unchanged (r12 wave 7).
    # bucket rides back in via the owning node's t0 — the same
    # re-derivation the fold's carry path uses.
    run_concurrently([
        lambda: sigs.withColumn("bucket", F.col("t0"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(out, "sigs")),
        lambda: vecs.join(
            sigs.select(F.col("id").alias("_i"), "t0"),
            F.col("id") == F.col("_i"),
        )
        .select("id", "qv", F.col("t0").alias("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(out, "vecs")),
        lambda: edges.join(
            sigs.select(F.col("id").alias("src"), F.col("t0").alias("bucket")),
            "src",
        )
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(out, "edges")),
    ])
    new_man = {
        "n_bits": man["n_bits"],
        "n_tables": n_tables,
        "m": man["m"],
        # carried forward, never re-stamped: compaction rewrites bytes,
        # it does not recompute signatures — the family is whatever
        # built them (the next fold validates it against the code)
        "hash_family": man.get("hash_family"),
        "sigs": {b: version for b in man["sigs"]},
        "vecs": {b: version for b in man["vecs"]},
        "edges": {b: version for b in man["edges"]},
    }
    os.makedirs(out, exist_ok=True)
    write_atomic(_manifest_path(store_path, version), json.dumps(new_man))
    commit_carried(store_path, version, prev)
    # GRACE-WINDOW pruning (ADVICE r8): a concurrent reader that
    # resolved version ``prev`` just before the pointer flip is still
    # reading the bucket paths PREV'S MANIFEST references (which, for
    # an uncompacted store, span many older version dirs) — deleting
    # any of them here would yank files mid-scan. Keep prev's whole
    # reachable set; it survives until the next compaction or an
    # explicit gc_store().
    grace_live = {prev, version} | {
        int(v) for kind in ("sigs", "vecs", "edges") for v in man[kind].values()
    }
    _prune_versions(store_path, grace_live)


def gc_store(store_path: str) -> None:
    """Explicit GC: delete every version directory the CURRENT
    manifest doesn't reference. Safe to run when no reader holds a
    pre-flip manifest (e.g. from a maintenance window); compact_store
    itself only prunes past the grace version (see there)."""
    ver = _current_version(store_path)
    if ver is None:
        return
    man = _read_manifest(store_path, ver)
    live = {int(v) for kind in ("sigs", "vecs", "edges") for v in man[kind].values()}
    live.add(ver)
    _prune_versions(store_path, live)


def hnsw_index_from_store(
    spark: SparkSession,
    store_path: str,
    index_path: str,
    long_links: int = 2,
    entry_sample: int = 0,
) -> None:
    """Assemble the FULL serving index — nodes, symmetrized+pruned
    edges, hubs, cross links, entry promotion, _META stamp — from the
    MAINTAINED streaming store (VERDICT r8 item 5: the 100 TB build
    path). The one-session batch build's only super-linear stage is
    candidate generation + scoring; the store already holds its exact
    output (``out_m``, maintained incrementally — the
    q:stream_hnsw_edges law), so building from the store replaces the
    quadratic pass with bounded incremental folds and leaves only the
    linear assembly stages (``_hnsw_assemble``, shared code with the
    batch build). By the edge law plus shared assembly, the index
    this writes is BYTE-IDENTICAL to ``hnsw_index_build`` over the
    same drained corpus at equal (m, n_bits, n_tables, long_links,
    entry_sample) — pinned by tests/test_ann_monitor.py on a
    multi-bucket fixture, hubs and entry points included."""
    from amazon_personalize_connectors_spark.functions.similarity import (
        _hnsw_assemble,
    )

    ver = _current_version(store_path)
    if ver is None:
        raise ValueError(f"ANN store at {store_path} has no committed version")
    man = _read_manifest(store_path, ver)
    _check_store_family(store_path, man, fresh=False)
    n_bits, n_tables, m = man["n_bits"], man["n_tables"], man["m"]
    tables = [f"t{t}" for t in range(n_tables)]
    sigs = _read_buckets(
        spark, _bucket_paths(store_path, man, "sigs"), _sig_schema(n_tables)
    )
    vecs = _read_buckets(
        spark, _bucket_paths(store_path, man, "vecs"), _VEC_SCHEMA
    )
    blocked = vecs.join(sigs, "id").persist()
    out_m = _read_buckets(
        spark, _bucket_paths(store_path, man, "edges"), _EDGE_SCHEMA
    )
    _hnsw_assemble(
        blocked,
        tables,
        out_m,
        index_path,
        m=m,
        long_links=long_links,
        entry_sample=entry_sample,
        hash_family=man["hash_family"],
        n_bits=n_bits,
        n_tables=n_tables,
    )
    blocked.unpersist()


def edges_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """The maintained kNN edge set (src, dst, qdot) at the committed
    version — by the incremental law, equal to the batch ``out_m``
    over everything drained."""
    ver = _current_version(store_path)
    if ver is None:
        return spark.createDataFrame([], _EDGE_SCHEMA)
    man = _read_manifest(store_path, ver)
    return _read_buckets(
        spark, _bucket_paths(store_path, man, "edges"), _EDGE_SCHEMA
    )
