"""The one streaming core: a single AvailableNow drain
(``streaming/incremental.py:run_available_now``), a single write
pool (``streaming/epoch_store.py:run_concurrently``) and a single
pointer-flip store format (``streaming/epoch_store.py``) — their
failure paths, and a source scan that keeps hand-copied drains, pools
and store metadata from coming back."""

import ast
import os
import time

import pytest

from amazon_personalize_connectors_spark.streaming.incremental import (
    run_available_now,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "amazon_personalize_connectors_spark",
)


def _landing_stream(spark, tmp_path):
    schema = "user_id long, ts_us long"
    landing = str(tmp_path / "landing")
    spark.createDataFrame([(1, 100), (2, 200)], schema).coalesce(
        1
    ).write.parquet(landing)
    return spark.readStream.schema(schema).parquet(landing)


def test_drain_timeout_raises_and_stops_the_query(spark, tmp_path):
    """A drain still running at its timeout must raise, not hand back a
    live query, and must leave no active query behind."""
    writer = _landing_stream(spark, tmp_path).writeStream.foreachBatch(
        lambda batch, epoch: time.sleep(4)
    )
    with pytest.raises(TimeoutError, match="still running"):
        run_available_now(writer, str(tmp_path / "ckpt"), timeout_s=1)
    assert spark.streams.active == []


def test_drain_conf_lock_released_when_conf_call_throws(
    spark, tmp_path, monkeypatch
):
    """A conf call that throws between the lock acquire and the drain
    must not leak ``_DRAIN_CONF_LOCK`` (every later partition-scoped
    drain in the process would then be refused)."""
    from pyspark.sql.conf import RuntimeConfig

    from amazon_personalize_connectors_spark.streaming import windows as W

    real_get = RuntimeConfig.get
    calls = {"n": 0}

    def get_failing_once(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions" and calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("injected conf failure")
        return real_get(self, key, *args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "get", get_failing_once)
    counts = _landing_stream(spark, tmp_path).groupBy("user_id").count()
    with pytest.raises(RuntimeError, match="injected conf failure"):
        W.run_stream_to_memory(counts, state_partitions=8)
    assert W._DRAIN_CONF_LOCK.acquire(blocking=False)
    W._DRAIN_CONF_LOCK.release()


def _package_sources():
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    yield os.path.relpath(path, PKG), f.read()


def test_one_drain_and_one_write_pool_in_the_package():
    """``trigger(availableNow=True)`` and ``awaitTermination(`` live only
    in the one drain, ``ThreadPoolExecutor`` only in
    ``epoch_store.run_concurrently``."""
    hits = {"trigger(availableNow=True)": [], "awaitTermination(": [],
            "ThreadPoolExecutor": []}
    for rel, src in _package_sources():
        for needle, where in hits.items():
            where.extend([rel] * src.count(needle))
    drain = os.path.join("streaming", "incremental.py")
    store = os.path.join("streaming", "epoch_store.py")
    assert hits["trigger(availableNow=True)"] == [drain]
    assert hits["awaitTermination("] == [drain]
    assert set(hits["ThreadPoolExecutor"]) == {store}

    with open(os.path.join(PKG, store)) as f:
        src = f.read()
    (fn,) = [
        n for n in ast.parse(src).body
        if isinstance(n, ast.FunctionDef) and n.name == "run_concurrently"
    ]
    lines = src.splitlines()
    pool_lines = [i for i, line in enumerate(lines, 1)
                  if "ThreadPoolExecutor" in line]
    assert all(fn.lineno <= i <= fn.end_lineno for i in pool_lines)
    assert src.count("ThreadPoolExecutor(") == 1


def test_one_pointer_flip_store_format_in_the_package():
    """Only ``epoch_store`` reads or writes a store's ``_VERSION``
    pointer and per-version ``_META.json``; every other store commits
    through it, and no store-global meta sidecar remains."""
    store = os.path.join("streaming", "epoch_store.py")
    hits = {"_version_file(": set(), '"_VERSION"': set(),
            "_meta_path(": set(), "_CDC_META": set()}
    for rel, src in _package_sources():
        for needle, where in hits.items():
            if needle in src:
                where.add(rel)
    assert hits["_version_file("] == {store}
    assert hits['"_VERSION"'] == {store}
    assert hits["_meta_path("] == {store}
    assert hits["_CDC_META"] == set()
