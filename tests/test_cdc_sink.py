"""Streaming CDC upsert sink: micro-batches MERGE into a versioned
parquet snapshot; final state equals the batch-computed truth."""

from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.streaming.cdc_sink import (
    read_snapshot,
    stream_apply_changes,
)


def test_stream_apply_changes_upserts_and_deletes(spark, tmp_path):
    landing = str(tmp_path / "landing")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, op string, v string"

    b1 = spark.createDataFrame(
        [(1, "upsert", "a"), (2, "upsert", "b"), (3, "upsert", "c")], schema
    )
    b1.write.mode("overwrite").parquet(landing)
    stream = spark.readStream.schema(schema).parquet(landing)
    stream_apply_changes(stream, store, ["k"], ckpt, op_col="op")
    snap1 = {(r.k, r.v) for r in read_snapshot(spark, store).collect()}
    assert snap1 == {(1, "a"), (2, "b"), (3, "c")}

    # second drain: update 1, delete 2, insert 4 — same checkpoint so
    # only the new file is processed
    b2 = spark.createDataFrame(
        [(1, "upsert", "a2"), (2, "delete", None), (4, "upsert", "d")], schema
    )
    b2.write.mode("append").parquet(landing)
    stream2 = spark.readStream.schema(schema).parquet(landing)
    stream_apply_changes(stream2, store, ["k"], ckpt, op_col="op")
    snap2 = {(r.k, r.v) for r in read_snapshot(spark, store).collect()}
    assert snap2 == {(1, "a2"), (3, "c"), (4, "d")}
    # snapshot columns stay (k, v) — op never leaks into the store
    assert set(read_snapshot(spark, store).columns) == {"k", "v"}


def test_in_batch_duplicates_collapse_deterministically(spark, tmp_path):
    landing = str(tmp_path / "landing2")
    store = str(tmp_path / "store2")
    ckpt = str(tmp_path / "ckpt2")
    schema = "k long, op string, v string"
    spark.createDataFrame(
        [(1, "upsert", "x"), (1, "upsert", "z"), (1, "upsert", "y")], schema
    ).write.mode("overwrite").parquet(landing)
    stream = spark.readStream.schema(schema).parquet(landing)
    stream_apply_changes(stream, store, ["k"], ckpt, op_col="op")
    rows = read_snapshot(spark, store).collect()
    assert len(rows) == 1 and rows[0].v == "z"  # max over the value struct


def test_crash_before_pointer_flip_recovers_exactly_once(
    spark, tmp_path, monkeypatch
):
    """Kill the job between the versioned parquet write and the
    _VERSION pointer flip (the double-buffer's vulnerable window):
    readers must keep seeing the previous snapshot, and a restart on
    the same checkpoint must replay the failed batch and converge to
    the exactly-once result — the merge recomputes from the OLD
    pointer, so the replay cannot double-apply."""
    import amazon_personalize_connectors_spark.streaming.cdc_sink as cs

    landing = str(tmp_path / "landing3")
    store = str(tmp_path / "store3")
    ckpt = str(tmp_path / "ckpt3")
    schema = "k long, op string, v string"

    spark.createDataFrame(
        [(1, "upsert", "a"), (2, "upsert", "b")], schema
    ).write.mode("overwrite").parquet(landing)
    stream = spark.readStream.schema(schema).parquet(landing)
    stream_apply_changes(stream, store, ["k"], ckpt, op_col="op")
    assert {(r.k, r.v) for r in read_snapshot(spark, store).collect()} == {
        (1, "a"), (2, "b"),
    }

    # batch 2 arrives; the pointer flip dies mid-batch
    spark.createDataFrame(
        [(1, "upsert", "a2"), (2, "delete", None), (3, "upsert", "c")], schema
    ).write.mode("append").parquet(landing)

    real_replace = cs.os.replace

    def exploding_replace(src, dst):
        raise OSError("simulated crash before pointer flip")

    monkeypatch.setattr(cs.os, "replace", exploding_replace)
    stream2 = spark.readStream.schema(schema).parquet(landing)
    try:
        stream_apply_changes(stream2, store, ["k"], ckpt, op_col="op")
        raised = False
    except Exception:
        raised = True
    assert raised  # the query must FAIL, not commit the checkpoint
    # readers still see the complete old snapshot — never a torn state
    assert {(r.k, r.v) for r in read_snapshot(spark, store).collect()} == {
        (1, "a"), (2, "b"),
    }

    # restart on the same checkpoint: the uncommitted batch replays
    monkeypatch.setattr(cs.os, "replace", real_replace)
    stream3 = spark.readStream.schema(schema).parquet(landing)
    stream_apply_changes(stream3, store, ["k"], ckpt, op_col="op")
    assert {(r.k, r.v) for r in read_snapshot(spark, store).collect()} == {
        (1, "a2"), (3, "c"),
    }
    # and a further drain with nothing new is a no-op (exactly-once)
    stream4 = spark.readStream.schema(schema).parquet(landing)
    stream_apply_changes(stream4, store, ["k"], ckpt, op_col="op")
    assert {(r.k, r.v) for r in read_snapshot(spark, store).collect()} == {
        (1, "a2"), (3, "c"),
    }


def test_drift_monitor_retry_idempotent_and_mergeable(spark, tmp_path):
    """Grid merge law + crash-retry: folding batches must equal one
    global grid, and re-applying a batch after a pointer rollback
    (redelivery before the flip) must not double-count."""
    import os

    from pyspark.sql import functions as F

    from amazon_personalize_connectors_spark.streaming.drift_monitor import (
        apply_grid_batch,
        ks_from_store,
        read_grid,
    )

    store = str(tmp_path / "grid")
    os.makedirs(store, exist_ok=True)
    in_a = F.col("flag") == "R"
    in_b = F.col("flag") != "R"
    b1 = spark.createDataFrame(
        [(10, "R"), (10, "N"), (20, "R")], "v long, flag string"
    )
    b2 = spark.createDataFrame(
        [(10, "N"), (30, "R"), (30, "N")], "v long, flag string"
    )
    apply_grid_batch(b1, 0, store, "v", in_a, in_b)
    apply_grid_batch(b2, 1, store, "v", in_a, in_b)
    grid = {r["v"]: (r["a"], r["b"]) for r in read_grid(spark, store).collect()}
    assert grid == {10: (1, 2), 20: (1, 0), 30: (1, 1)}
    ks_once = ks_from_store(spark, store).collect()[0]

    # the HARD redelivery: epoch 1's foreachBatch completed AND the
    # pointer flipped, but the checkpoint commit was lost — Spark
    # replays epoch 1; the epoch-keyed fold re-reads v0 and overwrites
    # v1 idempotently
    apply_grid_batch(b2, 1, store, "v", in_a, in_b)
    grid2 = {r["v"]: (r["a"], r["b"]) for r in read_grid(spark, store).collect()}
    assert grid2 == grid
    # the classic redelivery: crash BEFORE the flip (pointer at v0)
    vf = os.path.join(store, "_VERSION")
    open(vf, "w").write("0")
    apply_grid_batch(b2, 1, store, "v", in_a, in_b)
    grid3 = {r["v"]: (r["a"], r["b"]) for r in read_grid(spark, store).collect()}
    assert grid3 == grid
    ks_retry = ks_from_store(spark, store).collect()[0]
    assert (ks_retry["ks_num"], ks_retry["n_a"], ks_retry["n_b"]) == (
        ks_once["ks_num"], ks_once["n_a"], ks_once["n_b"],
    )
    # fresh checkpoint (epochs restarting at 0) against this store is
    # refused instead of corrupting the grid
    import pytest as _pytest
    with _pytest.raises(ValueError, match="behind the store"):
        apply_grid_batch(b1, 0, store, "v", in_a, in_b)


def test_score_monitor_retry_idempotent_and_matches_batch(spark, tmp_path):
    """Score-grid merge law + crash-retry: folded micro-batches served
    through auc_from_store must equal the batch roc_auc over the union,
    and re-applying a batch after a pointer rollback (redelivery before
    the flip) must not double-count."""
    import os

    from amazon_personalize_connectors_spark.operators.evaluation import (
        roc_auc,
    )
    from amazon_personalize_connectors_spark.streaming.score_monitor import (
        apply_score_batch,
        auc_from_store,
        read_score_grid,
    )

    store = str(tmp_path / "scores")
    os.makedirs(store, exist_ok=True)
    b1 = spark.createDataFrame(
        [(0, 10, 1), (0, 10, 0), (0, 20, 1), (1, 5, 0)],
        "g long, s long, y int",
    )
    b2 = spark.createDataFrame(
        [(0, 15, 0), (0, 20, 0), (1, 5, 1), (1, 9, 1)],
        "g long, s long, y int",
    )
    apply_score_batch(b1, 0, store, "g", "s", "y")
    apply_score_batch(b2, 1, store, "g", "s", "y")
    stream_auc = {
        r["g"]: (r["n_pos"], r["n_neg"], r["auc_num2"], r["auc"])
        for r in auc_from_store(spark, store).collect()
    }
    batch_auc = {
        r["g"]: (r["n_pos"], r["n_neg"], r["auc_num2"], r["auc"])
        for r in roc_auc(b1.unionByName(b2), ["g"], "s", "y").collect()
    }
    assert stream_auc == batch_auc

    # post-flip redelivery of epoch 1 (lost checkpoint commit), then a
    # pre-flip one (pointer rolled back) — both must fold identically
    apply_score_batch(b2, 1, store, "g", "s", "y")
    vf = os.path.join(store, "_VERSION")
    open(vf, "w").write("0")
    apply_score_batch(b2, 1, store, "g", "s", "y")
    grid = {
        (r["g"], r["_s"]): (r["_pos"], r["_neg"])
        for r in read_score_grid(spark, store).collect()
    }
    assert grid[(0, 10)] == (1, 1) and grid[(0, 20)] == (1, 1)
    retry_auc = {
        r["g"]: (r["n_pos"], r["n_neg"], r["auc_num2"], r["auc"])
        for r in auc_from_store(spark, store).collect()
    }
    assert retry_auc == batch_auc


def test_drift_grid_quantiles_match_batch(spark, tmp_path):
    """One drift state, two statistics: quantiles served from the
    folded grid must equal the batch inverse-CDF quantile over the
    union of everything applied."""
    import os

    from pyspark.sql import functions as F

    from amazon_personalize_connectors_spark.streaming.drift_monitor import (
        apply_grid_batch,
        quantiles_from_store,
    )

    store = str(tmp_path / "qgrid")
    os.makedirs(store, exist_ok=True)
    in_a = F.col("flag") == "R"
    in_b = F.col("flag") != "R"
    vals1 = [(v, "R" if v % 2 else "N") for v in [10, 20, 20, 30, 40]]
    vals2 = [(v, "N") for v in [5, 50, 60, 70, 80]]
    b1 = spark.createDataFrame(vals1, "v long, flag string")
    b2 = spark.createDataFrame(vals2, "v long, flag string")
    apply_grid_batch(b1, 0, store, "v", in_a, in_b)
    apply_grid_batch(b2, 1, store, "v", in_a, in_b)
    got = {
        r["pct"]: (r["n"], r["value"])
        for r in quantiles_from_store(spark, store, [10, 50, 100]).collect()
    }
    allv = sorted(v for v, _ in vals1 + vals2)
    n = len(allv)
    for p in (10, 50, 100):
        rank = -(-(n * p) // 100)  # ceil
        assert got[p] == (n, allv[rank - 1]), (p, got[p])


def test_stream_ivm_rollup_law_and_retry_idempotent(spark, tmp_path):
    from pyspark.sql import functions as F

    from amazon_personalize_connectors_spark.streaming.ivm import (
        apply_ivm_batch,
        rollup_from_store,
    )

    store = str(tmp_path / "ivm-store")
    schema = "side string, key long, grp string, val long"
    b0 = spark.createDataFrame(
        [("A", 1, "g1", None), ("A", 2, "g2", None), ("B", 1, None, 10)],
        schema,
    )
    # epoch 1 brings facts for an EXISTING dim key and a dim row whose
    # facts arrived EARLIER in the other order... plus a keyless fact
    b1 = spark.createDataFrame(
        [("B", 1, None, 5), ("B", 2, None, 7), ("A", 3, "g1", None),
         ("B", 3, None, 100), ("B", 99, None, 1)],
        schema,
    )
    apply_ivm_batch(b0, 0, store)
    apply_ivm_batch(b1, 1, store)

    def snap():
        return {
            r["grp"]: (r["sum_v"], r["n_rows"])
            for r in rollup_from_store(spark, store).collect()
        }

    # law: equals the full batch join-rollup over everything
    want = {"g1": (10 + 5 + 100, 3), "g2": (7, 1)}
    assert snap() == want
    # retry of the last epoch AFTER its pointer flip (the hard case:
    # Spark replays a batch whose foreachBatch completed but whose
    # checkpoint commit did not) — fold must not double
    apply_ivm_batch(b1, 1, store)
    assert snap() == want
    # an epoch BEHIND the committed one (fresh checkpoint restarting at
    # 0 against this store) is refused — folding it would overwrite
    # v0's deltas under a rollup built from the originals
    import pytest as _pytest
    with _pytest.raises(ValueError, match="behind the store"):
        apply_ivm_batch(b0, 0, store)
    assert snap() == want


def test_seq_col_makes_delete_after_insert_win(spark, tmp_path):
    """Code-review r9: a DataFrame micro-batch has no row order, so
    [insert K, delete K] in ONE batch used to collapse by (op, values)
    max — upsert always beat delete and dropped keys resurrected. With
    an event-sequence column the true last event wins."""
    landing = str(tmp_path / "landing_seq")
    store = str(tmp_path / "store_seq")
    ckpt = str(tmp_path / "ckpt_seq")
    schema = "k long, seq long, op string, v string"
    spark.createDataFrame(
        [
            (1, 10, "upsert", "a"),   # insert then delete: key 1 must die
            (1, 11, "delete", None),
            (2, 20, "delete", None),  # delete then re-insert: key 2 lives
            (2, 21, "upsert", "b2"),
            (3, 30, "upsert", "c"),
        ],
        schema,
    ).write.mode("overwrite").parquet(landing)
    stream = spark.readStream.schema(schema).parquet(landing)
    from amazon_personalize_connectors_spark.streaming.cdc_sink import (
        stream_apply_changes as sac,
    )

    sac(stream, store, ["k"], ckpt, op_col="op", seq_col="seq")
    snap = {(r.k, r.v) for r in read_snapshot(spark, store).collect()}
    assert snap == {(2, "b2"), (3, "c")}
    # seq never leaks into the snapshot
    assert set(read_snapshot(spark, store).columns) == {"k", "v"}


def test_fresh_checkpoint_refused_on_cdc_store(spark, tmp_path):
    """Code-review r9: the sink used to record no epoch state — a
    fresh checkpoint pointed at an existing store replayed batch 0's
    stale ops onto newer state (deleted keys resurrected, silently).
    Now the checkpoint identity is pinned and a foreign drain is
    refused."""
    import pytest as _pytest

    landing = str(tmp_path / "landing_tok")
    store = str(tmp_path / "store_tok")
    schema = "k long, op string, v string"
    spark.createDataFrame(
        [(1, "upsert", "a")], schema
    ).write.mode("overwrite").parquet(landing)
    stream = spark.readStream.schema(schema).parquet(landing)
    stream_apply_changes(stream, store, ["k"], str(tmp_path / "ckA"), op_col="op")
    before = {(r.k, r.v) for r in read_snapshot(spark, store).collect()}

    stream2 = spark.readStream.schema(schema).parquet(landing)
    with _pytest.raises(Exception, match="does not own the store"):
        stream_apply_changes(
            stream2, store, ["k"], str(tmp_path / "ckB"), op_col="op"
        )
    assert {(r.k, r.v) for r in read_snapshot(spark, store).collect()} == before


def test_prune_snapshots_keeps_grace_and_current(spark, tmp_path):
    import os as _os

    from amazon_personalize_connectors_spark.streaming.cdc_sink import (
        apply_batch,
        prune_snapshots,
    )

    store = str(tmp_path / "store_prune")
    _os.makedirs(store, exist_ok=True)
    schema = "k long, op string, v string"
    for i in range(4):
        apply_batch(
            spark.createDataFrame([(i, "upsert", f"v{i}")], schema),
            store,
            ["k"],
            "op",
        )
    assert sorted(d for d in _os.listdir(store) if d.startswith("v")) == [
        "v0", "v1", "v2", "v3",
    ]
    prune_snapshots(store, keep_last=2)
    assert sorted(d for d in _os.listdir(store) if d.startswith("v")) == [
        "v2", "v3",
    ]
    snap = {(r.k, r.v) for r in read_snapshot(spark, store).collect()}
    assert snap == {(0, "v0"), (1, "v1"), (2, "v2"), (3, "v3")}


def test_recreated_checkpoint_at_same_path_refused(spark, tmp_path):
    """ADVICE r9 (medium): with the token derived from the checkpoint
    PATH, 'rm -rf checkpoint && restart' reused the token; the fresh
    stream's epoch 0 then matched last_epoch 0 and silently REPLACED
    accumulated state with one batch's worth. The per-checkpoint
    nonce makes the recreated checkpoint read as foreign."""
    import shutil

    import pytest as _pytest

    landing = str(tmp_path / "landing_rc")
    store = str(tmp_path / "store_rc")
    ckpt = str(tmp_path / "ck_rc")
    schema = "k long, op string, v string"
    spark.createDataFrame(
        [(1, "upsert", "a"), (2, "upsert", "b")], schema
    ).write.mode("overwrite").parquet(landing)
    stream = spark.readStream.schema(schema).parquet(landing)
    stream_apply_changes(stream, store, ["k"], ckpt, op_col="op")
    before = {(r.k, r.v) for r in read_snapshot(spark, store).collect()}
    assert before == {(1, "a"), (2, "b")}

    # operational "restart fresh": drop the checkpoint, keep the store
    shutil.rmtree(ckpt)
    spark.createDataFrame(
        [(9, "upsert", "z")], schema
    ).write.mode("overwrite").parquet(landing)
    stream2 = spark.readStream.schema(schema).parquet(landing)
    with _pytest.raises(Exception, match="does not own the store"):
        stream_apply_changes(stream2, store, ["k"], ckpt, op_col="op")
    # state untouched — NOT replaced by the one new batch
    assert {(r.k, r.v) for r in read_snapshot(spark, store).collect()} == before


def test_prune_snapshots_rejects_keep_last_1(spark, tmp_path):
    """ADVICE r9: keep_last=1 would delete the committed version's
    'prev' snapshot that a retry of the last epoch must re-read — a
    retry-correctness requirement, not just reader grace."""
    import pytest as _pytest

    from amazon_personalize_connectors_spark.streaming.cdc_sink import (
        prune_snapshots,
    )

    with _pytest.raises(ValueError, match="keep_last must be >= 2"):
        prune_snapshots(str(tmp_path / "s"), keep_last=1)


def test_retry_after_prune_still_finds_prev(spark, tmp_path):
    """A retry of the last applied epoch after prune_snapshots must
    re-merge onto the recorded prev snapshot (it survives the prune)
    and reproduce the same state."""
    import os as _os

    from amazon_personalize_connectors_spark.streaming.cdc_sink import (
        apply_batch,
        prune_snapshots,
    )

    store = str(tmp_path / "store_rp")
    _os.makedirs(store, exist_ok=True)
    schema = "k long, op string, v string"
    batches = {
        0: [(1, "upsert", "a")],
        1: [(2, "upsert", "b")],
        2: [(1, "delete", None), (3, "upsert", "c")],
    }
    for e, rows in batches.items():
        apply_batch(
            spark.createDataFrame(rows, schema),
            store, ["k"], "op", epoch_id=e, checkpoint_token="tok",
        )
    want = {(r.k, r.v) for r in read_snapshot(spark, store).collect()}
    prune_snapshots(store, keep_last=2)
    # Spark retries epoch 2 (same token, same batch) post-prune
    apply_batch(
        spark.createDataFrame(batches[2], schema),
        store, ["k"], "op", epoch_id=2, checkpoint_token="tok",
    )
    assert {(r.k, r.v) for r in read_snapshot(spark, store).collect()} == want


def test_backfill_on_stream_owned_store_survives_retry(spark, tmp_path):
    """A guard-less apply_batch (epoch_id=None, backfill) onto a
    stream-owned store is refused: a later Spark retry of the last
    epoch re-merges onto its recorded prior snapshot and would drop
    the backfill. The refused write leaves the store as it was, so
    that retry still reproduces the stream's state."""
    import os as _os

    from amazon_personalize_connectors_spark.streaming.cdc_sink import (
        apply_batch,
    )

    store = str(tmp_path / "store_bf")
    _os.makedirs(store, exist_ok=True)
    schema = "k long, op string, v string"
    apply_batch(spark.createDataFrame([(1, "upsert", "a")], schema),
                store, ["k"], "op", epoch_id=0, checkpoint_token="tok")
    last_rows = [(2, "upsert", "b")]
    apply_batch(spark.createDataFrame(last_rows, schema),
                store, ["k"], "op", epoch_id=1, checkpoint_token="tok")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="stream-owned"):
        apply_batch(spark.createDataFrame([(7, "upsert", "bf")], schema),
                    store, ["k"], "op")
    # Spark retries the last epoch (1) — same token, same batch
    apply_batch(spark.createDataFrame(last_rows, schema),
                store, ["k"], "op", epoch_id=1, checkpoint_token="tok")
    snap = {(r.k, r.v) for r in read_snapshot(spark, store).collect()}
    assert snap == {(1, "a"), (2, "b")}


def test_adopt_cdc_store_migrates_legacy_token(spark, tmp_path):
    """A cdc store committed under the pre-nonce scheme (token ==
    checkpoint path) refuses its own upgraded stream until the
    operator adopts it explicitly with epoch_store.adopt_store."""
    import os as _os

    from amazon_personalize_connectors_spark.streaming.cdc_sink import (
        apply_batch,
    )
    from amazon_personalize_connectors_spark.streaming.epoch_store import (
        adopt_store,
        checkpoint_identity,
    )

    import pytest

    store = str(tmp_path / "store_adopt")
    ck = str(tmp_path / "ck_adopt")
    _os.makedirs(store, exist_ok=True)
    schema = "k long, op string, v string"
    apply_batch(spark.createDataFrame([(1, "upsert", "a")], schema),
                store, ["k"], "op", epoch_id=0, checkpoint_token=ck)
    nonce = checkpoint_identity(ck)
    with pytest.raises(ValueError, match="does not own the store"):
        apply_batch(spark.createDataFrame([(2, "upsert", "b")], schema),
                    store, ["k"], "op", epoch_id=1, checkpoint_token=nonce)
    adopt_store(store, ck)
    apply_batch(spark.createDataFrame([(2, "upsert", "b")], schema),
                store, ["k"], "op", epoch_id=1, checkpoint_token=nonce)
    snap = {(r.k, r.v) for r in read_snapshot(spark, store).collect()}
    assert snap == {(1, "a"), (2, "b")}


def test_old_format_cdc_store_refused(spark, tmp_path):
    """A store still holding the store-global _CDC_META.json sidecar
    (the format before per-version _META.json) carries its ownership
    token and epoch guard where nothing reads them any more: apply_batch
    refuses it, streaming or guard-less, and leaves it untouched; its
    snapshot still reads, so it can be rebuilt into a new path."""
    import json
    import os as _os

    import pytest as _pytest

    from amazon_personalize_connectors_spark.streaming.cdc_sink import (
        apply_batch,
    )

    store = str(tmp_path / "store_old")
    schema = "k long, op string, v string"
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(
        _os.path.join(store, "v0")
    )
    with open(_os.path.join(store, "_VERSION"), "w") as f:
        f.write("0")
    with open(_os.path.join(store, "_CDC_META.json"), "w") as f:
        json.dump({"last_epoch": 0, "prev": None, "token": "tok"}, f)
    batch = spark.createDataFrame([(2, "upsert", "b")], schema)
    for kw in ({"epoch_id": 1, "checkpoint_token": "tok"}, {}):
        with _pytest.raises(ValueError, match="predates per-version"):
            apply_batch(batch, store, ["k"], "op", **kw)
    assert sorted(_os.listdir(store)) == ["_CDC_META.json", "_VERSION", "v0"]
    old = read_snapshot(spark, store)
    assert {(r.k, r.v) for r in old.collect()} == {(1, "a")}

    # the rebuild the error names: the old snapshot into a new path,
    # which the stream then owns
    new = str(tmp_path / "store_new")
    apply_batch(old.withColumn("op", F.lit("upsert")), new, ["k"], "op")
    apply_batch(batch, new, ["k"], "op", epoch_id=1, checkpoint_token="tok")
    snap = {(r.k, r.v) for r in read_snapshot(spark, new).collect()}
    assert snap == {(1, "a"), (2, "b")}


def test_guardless_legacy_cdc_store_stamped_in_place(spark, tmp_path):
    """A store written only by guard-less apply_batch calls before
    per-version metadata has no ``_META.json`` and no store-wide meta:
    it is refused like the old stream format, and the in-place stamp
    the error names (``epoch_store.commit_carried(store, cur, None)``)
    makes it writable again with its snapshot intact."""
    import os as _os

    import pytest as _pytest

    from amazon_personalize_connectors_spark.streaming.cdc_sink import (
        apply_batch,
    )
    from amazon_personalize_connectors_spark.streaming.epoch_store import (
        commit_carried,
    )

    store = str(tmp_path / "store")
    schema = "k long, op string, v string"
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(
        _os.path.join(store, "v3")
    )
    with open(_os.path.join(store, "_VERSION"), "w") as f:
        f.write("3")
    batch = spark.createDataFrame([(2, "upsert", "b")], schema)
    with _pytest.raises(ValueError, match="commit_carried") as err:
        apply_batch(batch, store, ["k"], "op")
    assert "commit_carried('" + store + "', 3, None)" in str(err.value)
    commit_carried(store, 3, None)
    apply_batch(batch, store, ["k"], "op")
    apply_batch(spark.createDataFrame([(3, "upsert", "c")], schema),
                store, ["k"], "op", epoch_id=0, checkpoint_token="tok")
    snap = {(r.k, r.v) for r in read_snapshot(spark, store).collect()}
    assert snap == {(1, "a"), (2, "b"), (3, "c")}


def test_failed_retry_rewrite_after_flip_recovers(spark, tmp_path):
    """A retry of the last epoch after its pointer flip rewrites the
    committed version in place, and ``mode("overwrite")`` can delete
    that directory before a write task fails. When the rewrite job
    fails, the store must be back on the recorded prior snapshot (not
    on the half-deleted version), and the next retry must reproduce
    the state."""
    import os as _os
    import shutil

    import pytest as _pytest

    from amazon_personalize_connectors_spark.streaming.cdc_sink import (
        apply_batch,
    )
    from amazon_personalize_connectors_spark.streaming.epoch_store import (
        current_version,
    )

    store = str(tmp_path / "store")
    schema = "k long, op string, v string"
    apply_batch(spark.createDataFrame([(1, "upsert", "a")], schema),
                store, ["k"], "op", epoch_id=0, checkpoint_token="tok")
    last = spark.createDataFrame([(2, "upsert", "b")], schema)
    apply_batch(last, store, ["k"], "op", epoch_id=1, checkpoint_token="tok")
    assert current_version(store) == 1
    # the retry's write job fails (a lost task) ...
    failing = last.withColumn("v", F.raise_error(F.lit("task lost")))
    with _pytest.raises(Exception, match="task lost"):
        apply_batch(failing, store, ["k"], "op", epoch_id=1,
                    checkpoint_token="tok")
    # ... and, at worst, after the overwrite had already cleared v1
    shutil.rmtree(_os.path.join(store, "v1"))
    assert current_version(store) == 0
    assert {(r.k, r.v) for r in read_snapshot(spark, store).collect()} == {
        (1, "a")
    }
    apply_batch(last, store, ["k"], "op", epoch_id=1, checkpoint_token="tok")
    assert current_version(store) == 1
    snap = {(r.k, r.v) for r in read_snapshot(spark, store).collect()}
    assert snap == {(1, "a"), (2, "b")}
