"""Epoch-aware commit bookkeeping for pointer-flip stores.

foreachBatch delivery is at-least-once, and the dangerous replay is
the one AFTER the pointer flip: Spark re-runs a micro-batch whose
``foreachBatch`` body completed (data written, ``_VERSION`` flipped)
but whose checkpoint commit did not. A store that derives the next
version as ``pointer + 1`` folds the replayed delta on top of
already-folded state and double-counts.

The fix (the scheme ``streaming/ivm.py`` pioneered) is to key the
fold on the **epoch id**, which Spark holds stable across retries of
the same micro-batch. Each version directory carries a ``_META.json``
sidecar::

    {"epoch": <epoch that produced it, or null for compaction>,
     "prev": <version this fold read its prior state from, or null>,
     "last_epoch": <last stream epoch applied anywhere in the chain>,
     "token": <checkpoint identity of the writing stream, or null>}

``plan_fold`` classifies an incoming epoch against the committed
meta:

* ``e == last_epoch``  → **retry after flip**: overwrite the
  committed version's own directory, re-reading prior state from its
  recorded ``prev`` (immutable — committed by an earlier epoch), so
  the fold is idempotent no matter how many times it replays.
* ``e > last_epoch``   → normal advance: prior state is the committed
  version, the fold writes ``committed + 1``. Gaps are legal (an
  empty micro-batch may consume an epoch without folding).
* ``e < last_epoch``   → **refused** (ValueError). Within one
  checkpoint Spark never replays an epoch behind the committed one;
  seeing it means a FRESH checkpoint was pointed at an existing store
  — its epoch 0 carries different data than the original epoch 0,
  and folding it would silently corrupt the accumulated state
  (ADVICE r5: the ivm dense-epoch assumption). The caller must use a
  new store (or compact + move) when restarting a stream from
  scratch.

Version numbers are a plain chain (``committed + 1``) rather than the
epoch itself so that non-epoch writers — ``model_refresh.
compact_store`` — can insert versions (``epoch: null``) without ever
colliding with a future epoch's directory.

The epoch heuristic alone has one hole (code-review r9): a store whose
last applied epoch is 0 (a single-batch AvailableNow drain — common)
cannot distinguish a RETRY of epoch 0 from a FRESH checkpoint's epoch
0, which carries different data; the "retry" would then silently
replace accumulated state. The ``token`` field closes it: every
stream drain (``drain_into_store``) passes ``checkpoint_identity`` — a
random nonce file written INTO the checkpoint dir on first use (NOT
the dir path: a deleted-and-recreated checkpoint at the same path
would reuse a path token and slip through as a "retry", ADVICE r9) —
as the stream's identity, stored in the meta; a fold whose token
differs from the committed one is REFUSED outright (any epoch — a
different checkpoint re-delivers everything, so e > last is
corruption too). Direct ``apply_*_batch`` calls (tests, backfills)
pass no token and keep the epoch-only heuristic.

Every store wrapper shares the same core here: ``drain_into_store``
(the stream side, through the package's one drain,
``incremental.run_available_now``), ``fold_mergeable`` and
``read_committed`` (the whole fold and read of a single-directory
store whose state merges by a keyed re-aggregate), ``read_required``
(the must-exist union over a version chain, ivm and near-dup),
``read_manifest``/``bucket_paths``/``read_buckets`` (the manifest
stores, ann_monitor and model_refresh), and ``run_concurrently`` (the
overlapped writes a fold makes before it commits).

Known narrow window (documented, not closed): a retry after a
crash-between-flip-and-checkpoint-commit overwrites the POINTED-AT
version directory in place; a reader resolving the pointer during
that rewrite can see a partial version. Serving readers should prefer
compacted versions (whose grace window guarantees completeness) when
this matters.
"""

from __future__ import annotations

import json
import os
import warnings

from pyspark.sql import Column, DataFrame, SparkSession

from amazon_personalize_connectors_spark.streaming.incremental import (
    run_available_now,
)


def _version_file(store_path: str) -> str:
    return os.path.join(store_path, "_VERSION")


def write_atomic(path: str, text: str) -> None:
    """Write ``text`` through a temp file and an atomic rename: a
    reader sees the old content or the new, never a partial file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def checkpoint_identity(checkpoint_dir: str) -> str:
    """Stable per-checkpoint nonce used as the stream's ownership
    token (ADVICE r9, medium): the token used to BE the checkpoint
    directory PATH, so deleting and recreating a checkpoint at the
    same location (the common 'restart fresh' move) reused the token
    — the fresh stream's epoch 0 then matched ``last_epoch`` 0,
    passed the retry branch, and silently replaced accumulated state
    with one batch's worth. A random id file written into the
    checkpoint dir on first use dies with the directory, so a
    recreated checkpoint gets a NEW identity and is refused by the
    token guard instead."""
    import uuid

    os.makedirs(checkpoint_dir, exist_ok=True)
    p = os.path.join(checkpoint_dir, "_STREAM_IDENTITY")
    if os.path.exists(p):
        # ADVICE r11: on the O_EXCL fallback path (hardlink-less
        # mounts) an existing file may still be mid-write — an empty
        # read here would return "" as the ownership token, and a
        # store committed with token "" is refused as foreign on
        # every later restart. Treat empty as write-in-progress at
        # EVERY read site, not just the fallback loser branch.
        return _read_identity(p)
    nonce = uuid.uuid4().hex
    # write-then-hardlink: os.link is atomic AND exclusive, and the
    # target only ever appears fully written, so exactly one nonce is
    # ever observable and no reader can see a partial file. (The
    # previous tmp+os.replace scheme narrowed but did not close the
    # race — caller A could re-read its own nonce before B's replace
    # landed, then commit an ownership token the file no longer held,
    # and the next restart was refused as foreign. A bare
    # O_CREAT|O_EXCL open has the dual hole: losers can read the
    # winner's file before its nonce is written. ADVICE r10.)
    tmp = f"{p}.{nonce}.tmp"
    with open(tmp, "w") as f:
        f.write(nonce)
    try:
        os.link(tmp, p)
    except FileExistsError:
        # the existing file may be an O_EXCL-fallback writer's
        # (another process on the same mount can be mid-gap even if
        # WE could hardlink) — same empty-read retry as every read
        # site (ADVICE r11)
        return _read_identity(p)
    except OSError:
        # hardlink-less filesystem (object-store FUSE mount, VFAT,
        # some overlays): fall back to O_CREAT|O_EXCL — exclusivity
        # still holds everywhere POSIX-ish; losers bridge the
        # winner's create-to-write gap by retrying empty reads
        # (self-review r11: the link-only form broke first use on
        # mounts where the pre-r11 os.replace scheme worked).
        return _identity_excl_fallback(p, nonce)
    finally:
        os.unlink(tmp)
    return nonce


def _read_identity(p: str) -> str:
    """Read the identity file, treating EMPTY as write-in-progress:
    the O_EXCL fallback writer has a create-to-write gap during which
    the file exists but holds no nonce. Bounded retry (~2 s; the
    winner's write is a single tiny buffer) shared by every read site
    — fast path, hardlink-collision path, and fallback-loser path —
    so no caller can ever return "" as an ownership token (ADVICE
    r11)."""
    import time

    for _ in range(200):
        with open(p) as f:
            got = f.read().strip()
        if got:
            return got
        time.sleep(0.01)
    raise RuntimeError(
        f"_STREAM_IDENTITY at {p} stayed empty — winner died "
        "between create and write; delete the file to retry"
    )


def _identity_excl_fallback(p: str, nonce: str) -> str:
    try:
        fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return _read_identity(p)
    with os.fdopen(fd, "w") as f:
        f.write(nonce)
    return nonce


def adopt_store(store_path: str, checkpoint_dir: str) -> None:
    """Deliberately transfer store ownership to ``checkpoint_dir`` —
    the migration path for (a) stores whose meta predates the nonce
    scheme (token == an old checkpoint PATH; their legitimate stream
    would otherwise be refused forever after upgrading) and (b)
    intentional re-homing of a store to a new stream. This is an
    explicit OPERATOR action, never automatic: auto-grandfathering a
    path-shaped token would reopen the recreated-checkpoint replay
    hole this scheme exists to close. Rewrites the committed
    version's token in place (same meta otherwise); the next fold
    from ``checkpoint_dir`` then passes the ownership guard but still
    faces the epoch checks (a fresh checkpoint's epoch 0 against
    last_epoch > 0 remains refused)."""
    cur = current_version(store_path)
    if cur is None:
        return  # nothing committed yet — first fold stamps ownership
    meta = read_meta(store_path, cur)
    meta["token"] = checkpoint_identity(checkpoint_dir)
    write_atomic(_meta_path(store_path, cur), json.dumps(meta))


def current_version(store_path: str) -> int | None:
    vf = _version_file(store_path)
    if not os.path.exists(vf):
        return None
    with open(vf) as f:
        return int(f.read().strip())


def _meta_path(store_path: str, version: int) -> str:
    return os.path.join(store_path, f"v{version}", "_META.json")


def read_meta(store_path: str, version: int | None) -> dict:
    """Meta of a version dir; legacy dirs without a sidecar read as an
    unconstrained fold (``last_epoch`` None accepts any next epoch)."""
    if version is None:
        return {"epoch": None, "prev": None, "last_epoch": None}
    p = _meta_path(store_path, version)
    if not os.path.exists(p):
        return {"epoch": None, "prev": version - 1 if version > 0 else None,
                "last_epoch": None}
    with open(p) as f:
        return json.load(f)


def plan_fold(
    store_path: str, epoch_id: int, token: str | None = None
) -> tuple[int, int | None, dict]:
    """Classify ``epoch_id`` against the committed state and return
    ``(write_version, prior_version, committed_meta)``.

    Raises ValueError when the epoch is behind the last applied one,
    or when ``token`` (the stream's checkpoint identity) differs from
    the committed one (fresh-checkpoint-against-old-store corruption
    guards — see module docstring)."""
    e = int(epoch_id)
    cur = current_version(store_path)
    meta = read_meta(store_path, cur)
    last = meta["last_epoch"]
    if cur is None:
        return 0, None, meta
    stored_token = meta.get("token")
    if token is not None and stored_token is not None and token != stored_token:
        raise ValueError(
            f"stream checkpoint {token!r} does not own the store at "
            f"{store_path!r} (committed by {stored_token!r}): a fresh "
            f"or foreign checkpoint re-delivers epochs whose data "
            f"differs from the originals — folding would silently "
            f"corrupt accumulated state. Use a new store path; or, if "
            f"this checkpoint legitimately owns the store (pre-nonce "
            f"meta, or an intentional re-home), run "
            f"epoch_store.adopt_store(store, checkpoint_dir) first."
        )
    if last is None:  # legacy store — cannot distinguish retry; advance
        warnings.warn(
            f"legacy epoch-less store at {store_path!r}: a micro-batch "
            f"replayed after its pointer flip cannot be detected and "
            f"will fold twice (double-counting additive state); "
            f"compact and restart to adopt epoch metadata",
            RuntimeWarning,
            stacklevel=2,
        )
        return cur + 1, cur, meta
    if e == last:
        if meta["epoch"] != e:
            # the committed version is a COMPACTION (epoch None) that
            # already folded epoch e's output in — replaying e on top
            # of it would overwrite the compacted state with one
            # batch's worth. This only happens when compaction ran
            # against a store whose last drain never committed its
            # checkpoint; surface the operator error instead.
            raise ValueError(
                f"epoch {e} is a retry, but the committed version of "
                f"{store_path!r} is a compaction that already includes "
                f"it — compaction must only run between SUCCESSFULLY "
                f"committed drains. Restore a pre-compaction copy or "
                f"start a new store."
            )
        return cur, meta["prev"], meta
    if e > last:
        return cur + 1, cur, meta
    raise ValueError(
        f"epoch {e} is behind the store's last applied epoch {last} "
        f"(store {store_path!r}): a fresh streaming checkpoint cannot "
        f"be pointed at an existing store — its replayed epochs carry "
        f"different data and would silently corrupt accumulated state. "
        f"Use a new store path (or compact and relocate) when "
        f"restarting the stream from scratch."
    )


def commit_version(
    store_path: str,
    version: int,
    epoch_id: int | None,
    prior_version: int | None,
    last_epoch: int | None,
    token: str | None = None,
) -> None:
    """Write the version's ``_META.json`` then flip ``_VERSION`` via
    atomic rename (meta before pointer: a crash between the two leaves
    the old version authoritative and the new directory inert)."""
    os.makedirs(os.path.join(store_path, f"v{version}"), exist_ok=True)
    write_atomic(
        _meta_path(store_path, version),
        json.dumps({"epoch": epoch_id, "prev": prior_version,
                    "last_epoch": last_epoch, "token": token}),
    )
    write_atomic(_version_file(store_path), str(version))


def prune_versions(store_path: str, live: set) -> None:
    """Delete every ``v<N>`` directory whose N is not in ``live`` —
    the one pruner shared by the pointer-flip stores' grace-window
    compactions and explicit GCs (code-review r9: three drifting
    copies collapsed here). ``ignore_errors``: a crash mid-delete
    leaves orphans no manifest references; the next prune removes
    them."""
    import shutil

    for name in os.listdir(store_path):
        if (
            name.startswith("v")
            and name[1:].isdigit()
            and int(name[1:]) not in live
        ):
            shutil.rmtree(os.path.join(store_path, name), ignore_errors=True)


def drain_into_store(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    fold,
    timeout_s: float = 300.0,
) -> None:
    """Drain ``stream`` (Trigger.AvailableNow) into the store at
    ``store_path``: every micro-batch goes to ``fold(batch, epoch_id,
    token)``, where ``token`` is the checkpoint's identity nonce (not
    its path: a recreated checkpoint at the same location must read as
    a FOREIGN stream, ADVICE r9)."""
    os.makedirs(store_path, exist_ok=True)
    token = checkpoint_identity(checkpoint_dir)
    run_available_now(
        stream.writeStream.foreachBatch(lambda b, e: fold(b, e, token)),
        checkpoint_dir,
        timeout_s,
    )


def read_committed(
    spark: SparkSession, store_path: str, schema: str
) -> DataFrame:
    """The single-directory state at the committed version; empty
    before the first fold."""
    ver = current_version(store_path)
    if ver is None:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        os.path.join(store_path, f"v{ver}")
    )


def read_required(
    spark: SparkSession, store_path: str, versions: list[int], what: str,
    schema: str,
) -> DataFrame:
    """Union of the ``what`` subdirs of ``versions``, which must ALL
    exist: a fold or read over a version chain depends on complete
    prior state, so a missing dir (pruned store, foreign store, partial
    copy) is an error, never a silent empty frame that undercounts
    every later result."""
    paths = [os.path.join(store_path, f"v{i}", what) for i in versions]
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        raise ValueError(
            f"store {store_path!r} is missing required {what} dirs: "
            f"{missing[:3]}{' ...' if len(missing) > 3 else ''} — the "
            f"version dirs a read depends on are load-bearing state and "
            f"must never be pruned while reachable."
        )
    return read_buckets(spark, paths, schema)


def manifest_path(store_path: str, version: int) -> str:
    return os.path.join(store_path, f"v{version}", "_MANIFEST.json")


def read_manifest(store_path: str, version: int | None, empty: dict) -> dict:
    """The bucket manifest of a manifest store's ``version``, or
    ``empty`` before the first fold."""
    if version is None:
        return empty
    with open(manifest_path(store_path, version)) as f:
        return json.load(f)


def bucket_paths(
    store_path: str, manifest: dict, kind: str, buckets=None
) -> list[str]:
    """Leaf parquet paths for ``kind``, optionally restricted to
    ``buckets`` — each bucket read from the version directory the
    manifest pins it to."""
    sel = manifest[kind]
    if buckets is not None:
        want = {str(b) for b in buckets}
        sel = {b: v for b, v in sel.items() if b in want}
    return [
        os.path.join(store_path, f"v{v}", kind, f"bucket={b}")
        for b, v in sel.items()
    ]


def read_buckets(
    spark: SparkSession, paths: list[str], schema: str
) -> DataFrame:
    """Union of the parquet ``paths``; empty when there are none."""
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def fold_mergeable(
    delta: DataFrame,
    epoch_id: int,
    store_path: str,
    schema: str,
    keys: list[str],
    aggs: list[Column],
    token: str | None = None,
) -> None:
    """Fold one micro-batch's ``delta`` into a store whose state is
    exactly mergeable: the next version is the prior state unioned
    with the delta and re-aggregated by ``keys`` with ``aggs`` (SUM
    for counts, OR for bitmaps — any split of the stream into batches
    yields the same state). Epoch-keyed through ``plan_fold``: a
    replayed epoch overwrites its own version from the same prior."""
    version, prior, _meta = plan_fold(store_path, epoch_id, token)
    merged = delta
    if prior is not None:
        merged = (
            delta.sparkSession.read.schema(schema)
            .parquet(os.path.join(store_path, f"v{prior}"))
            .unionByName(delta)
            .groupBy(*keys)
            .agg(*aggs)
        )
    merged.write.mode("overwrite").parquet(
        os.path.join(store_path, f"v{version}")
    )
    commit_version(store_path, version, int(epoch_id), prior,
                   int(epoch_id), token=token)


def run_concurrently(fns: list) -> list:
    """Run independent driver-side jobs (writes to disjoint output
    directories) from a thread pool so one job's straggler tail
    back-fills with the others' tasks (guide §2.6), and return their
    results in order. Returns only after every job completes, so a
    commit that follows still lands after all of its writes."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        return [f.result() for f in [pool.submit(fn) for fn in fns]]
