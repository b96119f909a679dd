"""Extended operators: observe metrics, source-file filter, salted join,
as-of join, and streaming windows/stateful sessionization."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amazon_personalize_connectors_spark.operators.asof import asof_join
from amazon_personalize_connectors_spark.operators.drift import filter_by_source_file
from amazon_personalize_connectors_spark.operators.metrics import observe_counts
from amazon_personalize_connectors_spark.operators.skew import salted_join
from amazon_personalize_connectors_spark.streaming.windows import (
    sessionize_stateful,
    windowed_event_counts,
)


def test_observe_counts_no_extra_jobs(spark):
    df = spark.createDataFrame([(i, i % 3 == 0) for i in range(30)], "id long, flag boolean")
    observed, obs = observe_counts(df, n_flagged=F.col("flag"))
    observed.write.format("noop").mode("overwrite").save()
    assert obs.get["n_rows"] == 30
    assert obs.get["n_flagged"] == 10


def test_filter_by_source_file(spark, tmp_path):
    good = tmp_path / "etl_jobs" / "output" / "braze"
    bad = tmp_path / "etl_jobs" / "state"
    good.mkdir(parents=True), bad.mkdir(parents=True)
    (good / "a.json").write_text('{"v": 1}\n')
    (bad / "b.json").write_text('{"v": 2}\n')
    df = spark.read.json(f"{tmp_path}/etl_jobs/*/*")
    kept = filter_by_source_file(df, r".*/output/braze/.*")
    assert [r.v for r in kept.collect()] == [1]


def test_salted_join_matches_plain_join(spark):
    # skewed fact: one hot key
    fact = spark.createDataFrame(
        [(1, f"r{i}") for i in range(500)] + [(2, "cold")], "k int, payload string"
    )
    dim = spark.createDataFrame([(1, "hot-dim"), (2, "cold-dim"), (3, "unused")], "k int, d string")
    salted = salted_join(fact, dim, on="k", salt_factor=4)
    plain = fact.join(dim, "k")
    assert salted.count() == plain.count() == 501
    assert salted.exceptAll(plain).isEmpty() and plain.exceptAll(salted).isEmpty()


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, "2026-01-05 10:00:00", "e1"),
         (1, "2026-01-01 00:00:00", "e0"),   # before any right row
         (2, "2026-01-05 10:00:00", "e2")],
        "k int, t string, ev string",
    )
    right = spark.createDataFrame(
        [(1, "2026-01-02 00:00:00", 100.0),
         (1, "2026-01-04 00:00:00", 200.0),  # latest prior for e1
         (1, "2026-01-06 00:00:00", 300.0),  # after e1 — must not leak
         (2, "2026-01-05 10:00:00", 400.0)], # exact tie with e2 (non-strict → match)
        "k int, rt string, amount double",
    )
    out = asof_join(left, right, on="k", left_time="t", right_time="rt",
                    right_payload=["amount"])
    got = {r.ev: r.amount for r in out.collect()}
    assert got == {"e0": None, "e1": 200.0, "e2": 400.0}
    strict = asof_join(left, right, on="k", left_time="t", right_time="rt",
                       right_payload=["amount"], strict=True)
    got_s = {r.ev: r.amount for r in strict.collect()}
    assert got_s["e2"] is None  # tie excluded under strict


def test_asof_join_duplicate_right_rows_deterministic(spark):
    # two right rows at the same (key, time): which payload wins is
    # arbitrary but must be STABLE across partition layouts (the
    # window ordering carries a payload-hash tiebreak)
    left = spark.createDataFrame(
        [(1, "2026-01-05 10:00:00", "e1")], "k int, t string, ev string"
    )
    right_rows = [(1, "2026-01-02 00:00:00", 100.0),
                  (1, "2026-01-02 00:00:00", 999.0)]
    winners = set()
    for nparts in (1, 2, 7):
        right = spark.createDataFrame(
            right_rows, "k int, rt string, amount double"
        ).repartition(nparts)
        out = asof_join(left, right, on="k", left_time="t",
                        right_time="rt", right_payload=["amount"])
        winners.add(out.collect()[0].amount)
    assert len(winners) == 1


def test_windowed_counts_batch_equals_manual(spark, sf_dir):
    from amazon_personalize_connectors_spark.sources import synthetic

    ev = synthetic.load_events(spark, sf_dir)
    out = windowed_event_counts(ev, "1 hour", "30 minutes")
    manual = ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    assert out.exceptAll(manual).isEmpty() and manual.exceptAll(out).isEmpty()


def test_stateful_sessionization_stream(spark, tmp_path):
    """Drive applyInPandasWithState through a real streaming query:
    events for one user with a >30min gap → first session closes."""
    import json as jsonlib

    inp = tmp_path / "events"
    inp.mkdir()
    base = 1_700_000_000_000_000  # us
    rows = [
        {"user_id": 7, "ts_us": base},
        {"user_id": 7, "ts_us": base + 60_000_000},          # same session
        {"user_id": 7, "ts_us": base + 3_600_000_000},       # 1h later → new session
        {"user_id": 8, "ts_us": base},
    ]
    (inp / "a.json").write_text("\n".join(jsonlib.dumps(r) for r in rows))
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("ts_us", T.LongType())]
    )
    stream = spark.readStream.schema(schema).json(str(inp))
    sessions = sessionize_stateful(stream, gap_minutes=30)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # ProcessingTimeTimeout keeps the availableNow query cycling empty
    # batches until all state times out — poll for the closed session
    # and stop early instead of waiting for full termination.
    import time as time_mod

    got = set()
    deadline = time_mod.time() + 90
    while time_mod.time() < deadline:
        got = {
            (r.user_id, r.n_events)
            for r in spark.sql("select * from sess_test").collect()
        }
        if (7, 2) in got:
            break
        time_mod.sleep(1)
    q.stop()
    # user 7's first session (2 events) closed by the 1h-later event;
    # open sessions (u7 second, u8) stay in state awaiting timeout
    assert (7, 2) in got


# ---------------------------------------------------------------------------
# band join / top-k per group
# ---------------------------------------------------------------------------

from amazon_personalize_connectors_spark.operators.band import (  # noqa: E402
    band_join,
    top_k_per_group,
)


def _ts_df(spark, name_prefix, rows):
    return spark.createDataFrame(
        [(i, f"{name_prefix}{i}", ts) for i, ts in rows],
        "id long, name string, t timestamp",
    ).withColumn("t", F.col("t").cast("timestamp"))


def test_band_join_equi_keyed(spark):
    left = spark.createDataFrame(
        [(1, "k", "2024-01-10 00:00:00"), (2, "k", "2024-01-20 00:00:00")],
        "lid long, key string, lt string",
    )
    right = spark.createDataFrame(
        [("k", "2024-01-09 00:00:00"), ("k", "2024-01-12 00:00:00"),
         ("k", "2024-01-19 00:00:00"), ("z", "2024-01-10 00:00:00")],
        "rkey string, rt string",
    )
    out = band_join(
        left, right, "lt", "rt", lower_seconds=-2 * 86400, upper_seconds=0,
        equi_keys=[("key", "rkey")],
    )
    got = sorted((r.lid, r.rt) for r in out.collect())
    assert got == [(1, "2024-01-09 00:00:00"), (2, "2024-01-19 00:00:00")]


def test_band_join_bucketed_matches_naive_cross(spark):
    import random

    rnd = random.Random(7)
    rows = [(i, 1_700_000_000 + rnd.randrange(0, 50_000)) for i in range(120)]
    df = spark.createDataFrame(rows, "id long, sec long").withColumn(
        "t", F.col("sec").cast("timestamp")
    )
    a = df.select(F.col("id").alias("aid"), F.col("t").alias("at"))
    b = df.select(F.col("id").alias("bid"), F.col("t").alias("bt"))
    bucketed = band_join(a, b, "at", "bt", -900, 900)
    naive = a.crossJoin(b).where(
        (F.col("bt").cast("long") >= F.col("at").cast("long") - 900)
        & (F.col("bt").cast("long") <= F.col("at").cast("long") + 900)
    )
    got = sorted((r.aid, r.bid) for r in bucketed.collect())
    want = sorted((r.aid, r.bid) for r in naive.collect())
    assert got == want and len(got) > 120  # some non-self matches exist


def test_band_join_bucketed_no_duplicate_pairs(spark):
    # right rows replicated into several buckets must not produce
    # duplicate joined pairs
    a = spark.createDataFrame([(1, 10_000)], "aid long, sec long").withColumn(
        "at", F.col("sec").cast("timestamp")
    )
    b = spark.createDataFrame([(9, 10_500)], "bid long, sec long").withColumn(
        "bt", F.col("sec").cast("timestamp")
    )
    out = band_join(
        a.select("aid", "at"), b.select("bid", "bt"), "at", "bt",
        -3600, 3600, bucket_width_seconds=600,
    )
    assert out.count() == 1


def test_band_join_validates_args(spark):
    df = spark.range(1).withColumn("t", F.current_timestamp())
    with pytest.raises(ValueError):
        band_join(df, df, "t", "t", 10, -10)
    with pytest.raises(ValueError):
        band_join(
            df.select(F.col("id").alias("a"), F.col("t").alias("ta")),
            df.select(F.col("id").alias("b"), F.col("t").alias("tb")),
            "ta", "tb", -10, 10, how="left",
        )


def test_top_k_per_group_deterministic_ties(spark):
    df = spark.createDataFrame(
        [("g1", 1, 5.0), ("g1", 2, 5.0), ("g1", 3, 7.0), ("g1", 4, 1.0),
         ("g2", 5, 2.0)],
        "grp string, id long, score double",
    )
    out = top_k_per_group(df, ["grp"], ["score", "id"], k=2)
    got = {(r.grp, r.id, r.rank_in_group) for r in out.collect()}
    # ties broken by ascending id: score 5.0 → id 1 wins rank 2
    assert got == {("g1", 3, 1), ("g1", 1, 2), ("g2", 5, 1)}


def test_add_contiguous_ids_dense_and_ordered(spark):
    from amazon_personalize_connectors_spark.operators.ids import add_contiguous_ids

    df = (
        spark.range(0, 5000)
        .selectExpr("id AS k", "CAST(id % 97 AS INT) AS grp")
        .repartition(13)  # scrambled layout
    )
    out = add_contiguous_ids(df, ["grp", "k"], num_partitions=7)
    rows = out.orderBy("row_id").collect()
    assert [r.row_id for r in rows] == list(range(5000))  # dense 0..n-1
    keys = [(r.grp, r.k) for r in rows]
    assert keys == sorted(keys)  # ids follow the requested order


def test_add_running_total_matches_global_window(spark):
    """Distributed prefix sum == single-task global window, regardless
    of input layout."""
    from pyspark.sql.window import Window

    from amazon_personalize_connectors_spark.operators.ids import add_running_total

    df = (
        spark.range(0, 3000)
        .selectExpr("id AS k", "CAST((id * 37) % 1000 AS DECIMAL(10,2)) AS v")
        .repartition(11)
    )
    out = add_running_total(df, ["k"], "v", num_partitions=5)
    got = {r.k: r.running_total for r in out.collect()}
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    expected = {
        r.k: r.rt
        for r in df.withColumn("rt", F.sum("v").over(w)).collect()
    }
    assert got == expected
    assert got[0] == expected[0] and got[2999] == sum(
        (i * 37) % 1000 for i in range(3000)
    )


def test_stream_dedup_exactly_once_across_file_batches(spark, tmp_path):
    from amazon_personalize_connectors_spark.streaming.windows import (
        run_stream_to_memory,
        stream_dedup,
    )

    rows = [
        (i, f"2024-01-01 10:{i % 50:02d}:00", i % 7) for i in range(100)
    ]
    batch = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    landing = str(tmp_path / "landing")
    # the same rows land twice (duplicate delivery)
    batch.coalesce(2).write.mode("append").parquet(landing)
    batch.coalesce(2).write.mode("append").parquet(landing)
    stream = spark.readStream.schema(batch.schema).parquet(landing)
    out = run_stream_to_memory(
        stream_dedup(stream, ["event_id"], "ts", "1 hour"),
        output_mode="append",
    )
    got = out.select("event_id").collect()
    assert len(got) == 100  # exactly once despite double delivery
    assert {r["event_id"] for r in got} == set(range(100))


def test_expectations_audit_and_valid_row(spark):
    from amazon_personalize_connectors_spark.operators.expectations import (
        Expectation,
        expectations_audit,
        valid_row,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, None)], "id bigint, v double"
    )
    rules = [
        Expectation("v_pos", F.col("v") > 0),
        Expectation("id_small", F.col("id") <= 2),
    ]
    row = expectations_audit(df, rules).first()
    # NULL comparison counts as a violation, not an unknown
    assert (row["n_rows"], row["v_pos"], row["id_small"]) == (3, 2, 1)
    kept = df.where(valid_row(rules)).select("id").collect()
    assert [r["id"] for r in kept] == [1]


def test_triangles_each_counted_once(spark):
    from amazon_personalize_connectors_spark.functions.dedup import triangles

    # 4-clique on {1,2,3,4} plus a dangling edge (4,9): C(4,3) = 4
    # triangles, the dangler closes nothing
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 9)],
        "id_a bigint, id_b bigint",
    )
    tri = sorted(
        (r["a"], r["b"], r["c"]) for r in triangles(edges).collect()
    )
    assert tri == [(1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)]


def test_key_containment_full_partial_and_empty(spark):
    from amazon_personalize_connectors_spark.operators.expectations import (
        key_containment,
    )

    child = spark.createDataFrame(
        [(1,), (2,), (2,), (3,), (None,)], "k long"
    )
    parent = spark.createDataFrame([(1,), (2,), (9,)], "p long")
    r = key_containment(child, "k", parent, "p", "c->p").collect()[0]
    # distinct non-null child keys {1,2,3}; matched {1,2}
    assert (r["n_child_keys"], r["n_parent_keys"], r["n_matched"]) == (3, 3, 2)
    assert r["containment"] == 2 / 3
    assert r["relation"] == "c->p"

    empty = spark.createDataFrame([], "k long")
    r0 = key_containment(empty, "k", parent, "p", "e->p").collect()[0]
    assert r0["n_child_keys"] == 0 and r0["containment"] is None


def test_functional_dependency_holds_violated_and_null_aware(spark):
    from amazon_personalize_connectors_spark.operators.expectations import (
        functional_dependency,
    )

    rows = [
        (1, "x"), (1, "x"),       # group 1: consistent
        (2, "x"), (2, "y"),       # group 2: violation (fanout 2)
        (3, None), (3, "z"),      # group 3: NULL + value IS a violation
        (4, None), (4, None),     # group 4: all-NULL is consistent
    ]
    df = spark.createDataFrame(rows, "a long, b string")
    r = functional_dependency(df, ["a"], "b", "a->b").collect()[0]
    assert (r["n_groups"], r["n_violating"], r["max_fanout"]) == (4, 2, 2)
    assert r["violation_rate"] == 0.5 and r["holds"] == 0

    clean = spark.createDataFrame([(1, "x"), (2, "y")], "a long, b string")
    r1 = functional_dependency(clean, ["a"], "b", "pk").collect()[0]
    assert r1["holds"] == 1 and r1["n_violating"] == 0
