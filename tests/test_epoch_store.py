"""epoch_store.plan_fold unit laws (no Spark): retry targeting,
stale-epoch refusal, gap tolerance, compaction interplay."""

import pytest

from amazon_personalize_connectors_spark.streaming.epoch_store import (
    commit_carried,
    commit_version,
    current_version,
    plan_fold,
    read_meta,
)


def _store(tmp_path):
    p = tmp_path / "store"
    p.mkdir()
    return str(p)


def test_first_fold_and_advance(tmp_path):
    s = _store(tmp_path)
    assert plan_fold(s, 0) == (0, None, {"epoch": None, "prev": None,
                                         "last_epoch": None})
    commit_version(s, 0, 0, None, 0)
    assert current_version(s) == 0
    v, prior, _ = plan_fold(s, 1)
    assert (v, prior) == (1, 0)
    commit_version(s, 1, 1, 0, 1)
    # gaps are legal (empty micro-batches consume epochs)
    v, prior, _ = plan_fold(s, 5)
    assert (v, prior) == (2, 1)


def test_retry_after_flip_reuses_same_version_and_prior(tmp_path):
    s = _store(tmp_path)
    commit_version(s, 0, 0, None, 0)
    commit_version(s, 1, 1, 0, 1)
    v, prior, _ = plan_fold(s, 1)  # replay of the committed epoch
    assert (v, prior) == (1, 0)


def test_retry_uncommits_to_prev_until_recommitted(tmp_path):
    """A retry after flip points the store back at ``prev`` before the
    caller rewrites the committed version: if that rewrite never
    commits, ``prev`` stays authoritative and the next retry plans
    the same version from the same prior."""
    s = _store(tmp_path)
    commit_version(s, 0, 0, None, 0, "tok")
    commit_version(s, 1, 1, 0, 1, "tok")
    assert plan_fold(s, 1, "tok")[:2] == (1, 0)
    assert current_version(s) == 0  # rewrite of v1 failed: no commit
    assert plan_fold(s, 1, "tok")[:2] == (1, 0)
    commit_version(s, 1, 1, 0, 1, "tok")
    assert current_version(s) == 1
    # a retry of the store's first version un-commits it entirely
    (tmp_path / "first").mkdir()
    f = _store(tmp_path / "first")
    commit_version(f, 0, 0, None, 0)
    assert plan_fold(f, 0)[:2] == (0, None)
    assert current_version(f) is None
    assert plan_fold(f, 0)[:2] == (0, None)


def test_stale_epoch_refused(tmp_path):
    s = _store(tmp_path)
    commit_version(s, 0, 0, None, 0)
    commit_version(s, 1, 1, 0, 1)
    with pytest.raises(ValueError, match="behind the store"):
        plan_fold(s, 0)


def test_retry_onto_compaction_refused(tmp_path):
    s = _store(tmp_path)
    commit_version(s, 0, 0, None, 0)
    commit_version(s, 1, 1, 0, 1)
    # compaction: non-epoch version, last_epoch carried forward
    commit_version(s, 2, None, 1, 1)
    assert read_meta(s, 2)["epoch"] is None
    # the NEXT epoch folds cleanly on top of the compacted version
    v, prior, _ = plan_fold(s, 2)
    assert (v, prior) == (3, 2)
    # but a RETRY of the folded-in epoch is an operator error
    with pytest.raises(ValueError, match="compaction"):
        plan_fold(s, 1)


def test_legacy_store_without_meta_advances_with_warning(tmp_path):
    s = _store(tmp_path)
    (tmp_path / "store" / "v0").mkdir()
    (tmp_path / "store" / "_VERSION").write_text("0")
    # the legacy path cannot detect replay-after-flip (double-count
    # hazard) — it must SAY so, loudly (code-review r9)
    with pytest.warns(RuntimeWarning, match="legacy epoch-less store"):
        v, prior, meta = plan_fold(s, 7)
    assert (v, prior) == (1, 0) and meta["last_epoch"] is None


def test_commit_carried_keeps_the_stream_guard(tmp_path):
    """A non-epoch commit carries ``last_epoch`` and ``token`` forward,
    so the stream's retry, stale-epoch and ownership checks still see
    them; on a store no stream has written yet the next epoch advances
    without the legacy warning (the chain has metadata, just no
    epoch)."""
    import warnings

    s = _store(tmp_path)
    commit_carried(s, 0, None)
    assert read_meta(s, 0) == {"epoch": None, "prev": None,
                               "last_epoch": None, "token": None}
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        assert plan_fold(s, 0, "tok")[:2] == (1, 0)
    commit_version(s, 1, 0, 0, 0, "tok")
    commit_carried(s, 2, 1)
    assert read_meta(s, 2) == {"epoch": None, "prev": 1,
                               "last_epoch": 0, "token": "tok"}
    with pytest.raises(ValueError, match="does not own the store"):
        plan_fold(s, 1, "other")
    with pytest.raises(ValueError, match="compaction"):
        plan_fold(s, 0, "tok")
    assert plan_fold(s, 1, "tok")[:2] == (3, 2)


def test_cms_monitor_replay_idempotent(spark, tmp_path):
    from amazon_personalize_connectors_spark.streaming.cms_monitor import (
        apply_cms_batch,
        read_cms,
    )

    store = str(tmp_path / "cms")
    batch1 = spark.createDataFrame([(1,), (1,), (2,)], "part long")
    batch2 = spark.createDataFrame([(2,), (3,)], "part long")

    apply_cms_batch(batch1, 0, store, "part")
    apply_cms_batch(batch2, 1, store, "part")
    once = {(r["d"], r["cell"]): r["cnt"] for r in read_cms(spark, store).collect()}

    # post-flip replay of epoch 1: must overwrite, not double-fold
    apply_cms_batch(batch2, 1, store, "part")
    replayed = {(r["d"], r["cell"]): r["cnt"] for r in read_cms(spark, store).collect()}
    assert replayed == once
    # total mass = depth * n_rows
    assert sum(replayed.values()) == 4 * 5

    # a stale epoch (fresh checkpoint on an old store) is refused
    import pytest as _pytest

    with _pytest.raises(ValueError):
        apply_cms_batch(batch1, 0, store, "part")


def test_cms_monitor_stream_equals_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from amazon_personalize_connectors_spark.functions.sketches import cms_sketch
    from amazon_personalize_connectors_spark.streaming.cms_monitor import (
        apply_cms_batch,
        read_cms,
    )

    df = spark.range(100).select((F.col("id") % 13).alias("part"))
    # arbitrary 3-way split
    parts = [
        spark.range(0, 33).select((F.col("id") % 13).alias("part")),
        spark.range(33, 70).select((F.col("id") % 13).alias("part")),
        spark.range(70, 100).select((F.col("id") % 13).alias("part")),
    ]
    store = str(tmp_path / "cms2")
    for e, p in enumerate(parts):
        apply_cms_batch(p, e, store, "part")
    streamed = {(r["d"], r["cell"]): r["cnt"] for r in read_cms(spark, store).collect()}
    whole = {(r["d"], r["cell"]): r["cnt"]
             for r in cms_sketch(df, "part").collect()}
    assert streamed == whole


def test_distinct_monitor_or_folds_exactly(spark, tmp_path):
    from amazon_personalize_connectors_spark.streaming.distinct_monitor import (
        apply_bitmap_batch,
        distinct_from_store,
    )

    store = str(tmp_path / "dst")
    b1 = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1)], "prio string, cust long"
    )
    b2 = spark.createDataFrame(
        [("a", 2), ("a", 3), ("b", 99999)], "prio string, cust long"
    )
    apply_bitmap_batch(b1, 0, store, ["prio"], "cust")
    apply_bitmap_batch(b2, 1, store, ["prio"], "cust")
    got = {r["prio"]: r["n_distinct"]
           for r in distinct_from_store(spark, store, ["prio"]).collect()}
    assert got == {"a": 3, "b": 2}
    # replay of epoch 1 changes nothing (OR idempotent + epoch-keyed)
    apply_bitmap_batch(b2, 1, store, ["prio"], "cust")
    again = {r["prio"]: r["n_distinct"]
             for r in distinct_from_store(spark, store, ["prio"]).collect()}
    assert again == got


def test_checkpoint_identity_is_a_nonce_not_the_path(tmp_path):
    """ADVICE r9 (medium): the ownership token must NOT be the
    checkpoint path — deleting and recreating a checkpoint at the
    same location is a FRESH stream (its epoch 0 carries different
    data) and must get a NEW identity."""
    import shutil

    from amazon_personalize_connectors_spark.streaming.epoch_store import (
        checkpoint_identity,
    )

    ck = str(tmp_path / "ck")
    t1 = checkpoint_identity(ck)
    assert t1 != ck and len(t1) >= 16
    # stable across calls while the checkpoint lives
    assert checkpoint_identity(ck) == t1
    # delete-and-recreate at the SAME path -> different identity
    shutil.rmtree(ck)
    t2 = checkpoint_identity(ck)
    assert t2 != t1


def test_adopt_store_migrates_legacy_path_token(tmp_path):
    """Pre-nonce stores hold token == an old checkpoint PATH; after
    upgrading, their legitimate stream would be refused forever
    (code-review r10). adopt_store is the explicit migration: it
    rewrites the committed token to the checkpoint's nonce, after
    which the same stream folds — while a checkpoint that did NOT
    adopt stays refused (no silent grandfathering)."""
    from amazon_personalize_connectors_spark.streaming.epoch_store import (
        adopt_store,
        checkpoint_identity,
    )

    store = _store(tmp_path)
    ck = str(tmp_path / "ck")
    # legacy commit: token is the checkpoint dir PATH (pre-r10 scheme)
    commit_version(store, 0, 0, None, 0, token=ck)
    nonce = checkpoint_identity(ck)
    with pytest.raises(ValueError, match="does not own"):
        plan_fold(store, 1, token=nonce)
    adopt_store(store, ck)
    version, prior, _ = plan_fold(store, 1, token=nonce)
    assert (version, prior) == (1, 0)
    # meta otherwise untouched
    meta = read_meta(store, 0)
    assert meta["last_epoch"] == 0 and meta["token"] == nonce


def test_adopt_store_noop_on_uncommitted_store(tmp_path):
    from amazon_personalize_connectors_spark.streaming.epoch_store import (
        adopt_store,
    )

    store = _store(tmp_path)
    adopt_store(store, str(tmp_path / "ck2"))  # must not raise
    assert current_version(store) is None


def test_checkpoint_identity_concurrent_first_use_single_nonce(tmp_path):
    """Exactly one nonce is ever observable (ADVICE r10): the identity
    file is created with O_CREAT|O_EXCL, so N racing first-users all
    return the single winning nonce — none can commit an ownership
    token the file no longer holds."""
    from concurrent.futures import ThreadPoolExecutor

    from amazon_personalize_connectors_spark.streaming.epoch_store import (
        checkpoint_identity,
    )

    ck = str(tmp_path / "ck_race")
    with ThreadPoolExecutor(max_workers=16) as ex:
        got = list(ex.map(lambda _: checkpoint_identity(ck), range(64)))
    assert len(set(got)) == 1
    with open(f"{ck}/_STREAM_IDENTITY") as f:
        assert f.read().strip() == got[0]


def test_checkpoint_identity_hardlink_less_filesystem(tmp_path, monkeypatch):
    """Hardlink-less mounts (object-store FUSE, VFAT, some overlays)
    raise OSError from os.link; checkpoint_identity must fall back to
    O_CREAT|O_EXCL instead of failing stream startup (self-review
    r11 — the link-only form regressed environments the pre-r11
    os.replace scheme supported)."""
    import os as _os

    from amazon_personalize_connectors_spark.streaming import epoch_store as es

    ck = str(tmp_path / "ck_nolink")

    def no_link(*a, **k):
        raise OSError(1, "Operation not permitted")

    monkeypatch.setattr(es.os, "link", no_link)
    n = es.checkpoint_identity(ck)
    assert len(n) == 32
    assert es.checkpoint_identity(ck) == n  # stable on re-read
    assert sorted(_os.listdir(ck)) == ["_STREAM_IDENTITY"]  # no tmp leak


def test_checkpoint_identity_empty_file_read_retries(tmp_path):
    """ADVICE r11: a caller arriving during the O_EXCL fallback
    winner's create-to-write gap sees an EXISTING but EMPTY
    _STREAM_IDENTITY. Every read site must treat empty as
    write-in-progress and retry — returning "" would commit an
    ownership token the file never holds, refusing the store as
    foreign on every later restart."""
    import threading
    import time

    from amazon_personalize_connectors_spark.streaming import epoch_store as es

    ck = tmp_path / "ck_gap"
    ck.mkdir()
    p = ck / "_STREAM_IDENTITY"
    p.write_text("")  # the winner's create landed, its write has not

    def late_write():
        time.sleep(0.15)
        p.write_text("f" * 32)

    t = threading.Thread(target=late_write)
    t.start()
    try:
        # exists() fast path — previously an unretried read of ""
        got = es.checkpoint_identity(str(ck))
    finally:
        t.join()
    assert got == "f" * 32


def test_checkpoint_identity_empty_file_winner_died(tmp_path):
    """If the file stays empty past the bounded retry (~2 s), the
    failure is explicit and names the recovery, never a "" token."""
    import pytest as _pytest

    from amazon_personalize_connectors_spark.streaming import epoch_store as es

    p = tmp_path / "_STREAM_IDENTITY"
    p.write_text("")
    with _pytest.raises(RuntimeError, match="stayed empty"):
        es._read_identity(str(p))
