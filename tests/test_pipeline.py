"""End-to-end pipeline semantics, pinned to the reference behaviors
documented in SURVEY.md §2-3 and FIXTURES.md edge cases."""

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.config import ConnectorConfig, PipelineConfig
from amazon_personalize_connectors_spark.operators.attribution import attribute_users
from amazon_personalize_connectors_spark.operators.decorate import decorate_items
from amazon_personalize_connectors_spark.operators.delta import delta_check
from amazon_personalize_connectors_spark.operators.split import split_errors
from amazon_personalize_connectors_spark.plans.pipeline import (
    related_items_pipeline,
    user_personalization_pipeline,
)
from amazon_personalize_connectors_spark.sources import synthetic

RUN_TS = datetime(2026, 8, 13, 12, 0, 0, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def config():
    return PipelineConfig(
        batch_inference_path="unused",
        connectors=(
            ConnectorConfig(
                name="braze",
                item_metadata_fields=("name", "price", "category"),
                attribute_prefix="recs_",
                other_attributes={"other_attrib1": "custom"},
            ),
        ),
        perform_delta_check=False,
        job_name="test-job",
        run_datetime=RUN_TS,
    )


@pytest.fixture(scope="module")
def fixtures(spark, sf_dir):
    return {
        "recs": synthetic.related_items_batch_inference(spark, sf_dir).cache(),
        "user_recs": synthetic.user_personalization_batch_inference(spark, sf_dir).cache(),
        "mapping": synthetic.user_item_mapping(spark, sf_dir).cache(),
        "meta": synthetic.item_metadata(spark, sf_dir).cache(),
    }


def test_error_split_partitions_source(fixtures):
    recs = fixtures["recs"]
    ok, errors = split_errors(recs)
    total = recs.count()
    assert ok.count() + errors.count() == total
    assert "error" not in ok.columns
    assert errors.where(F.col("error").isNull()).count() == 0
    # every 10th part key is an error row
    assert errors.count() == recs.where(F.col("input.itemId").cast("long") % 10 == 0).count()


def test_related_items_pipeline_shape(fixtures, config):
    res = related_items_pipeline(
        fixtures["recs"], fixtures["mapping"], fixtures["meta"],
        config.connectors[0], config,
    )
    row = res.decorated.where(F.size("recommendations") > 0).first()
    assert set(res.decorated.columns) == {
        "queryItemId", "userId", "recommendations", "jobInfo", "syncDirectives",
    }
    rec = row.recommendations[0]
    assert set(rec.asDict().keys()) == {"name", "price", "category", "itemId"}
    assert row.jobInfo.name == "test-job"
    assert row.jobInfo.runDateTime == RUN_TS.isoformat()
    assert row.syncDirectives.attributePrefix == "recs_"
    assert row.syncDirectives.otherAttributes == {"other_attrib1": "custom"}


def test_empty_and_null_rec_lists_yield_empty_array(spark, fixtures, config):
    """posexplode_outer + null-guard + collect_list null-dropping
    (SURVEY.md §7.4): parents with [] or null recs survive with []."""
    ok, _ = split_errors(fixtures["recs"])
    decorated = decorate_items(
        ok, fixtures["meta"], key_cols=[("input.itemId", "queryItemId")],
    )
    # every 13th non-error part key has an empty rec list
    empties = decorated.where(F.size("recommendations") == 0)
    empty_keys = {r.queryItemId for r in empties.collect()}
    expected = {
        str(r[0]) for r in ok.select(F.col("input.itemId").cast("long")).collect()
        if r[0] % 13 == 0
    }
    assert empty_keys == expected
    assert decorated.count() == ok.count()  # no parents lost


def test_recommendation_order_preserved(fixtures):
    """Rank order (pos) must survive the re-nest: recs for part k are
    (k+1..k+5) mod n in that exact order."""
    ok, _ = split_errors(fixtures["recs"])
    decorated = decorate_items(
        ok, fixtures["meta"], key_cols=[("input.itemId", "queryItemId")],
    )
    n = fixtures["meta"].count()  # not the modulus; recompute from recs
    rows = decorated.where(F.size("recommendations") == 5).take(20)
    # modulus = max part key + 1; infer from the fixture contract
    npart = (
        fixtures["recs"].select(F.max(F.col("input.itemId").cast("long"))).first()[0]
        + 1
    )
    for row in rows:
        k = int(row.queryItemId)
        expected = [str((k + i) % npart) for i in range(1, 6)]
        assert [r.itemId for r in row.recommendations] == expected


def test_max_recommendations_caps_delivery(fixtures, config):
    """maxRecommendations=2: every delivered rec list is the top-2
    prefix of the uncapped list (rank order intact); no-rec parents
    keep their empty arrays and no parents are lost."""
    from amazon_personalize_connectors_spark.config import (
        ConfigError,
        ConnectorConfig,
    )

    ok, _ = split_errors(fixtures["recs"])
    full = decorate_items(
        ok, fixtures["meta"], key_cols=[("input.itemId", "queryItemId")],
    )
    capped = decorate_items(
        ok, fixtures["meta"], key_cols=[("input.itemId", "queryItemId")],
        max_recommendations=2,
    )
    f = {r.queryItemId: [x.itemId for x in r.recommendations] for r in full.collect()}
    c = {r.queryItemId: [x.itemId for x in r.recommendations] for r in capped.collect()}
    assert set(f) == set(c)                      # no parents lost
    for k, items in c.items():
        assert items == f[k][:2]                 # exact top-2 prefix
    assert any(len(v) == 0 for v in c.values())  # empty parents survive

    # config plumbing: the knob parses and reaches the pipeline
    conn = ConnectorConfig.from_dict("braze", {"maxRecommendations": 2})
    assert conn.max_recommendations == 2
    res = related_items_pipeline(
        fixtures["recs"], fixtures["mapping"], fixtures["meta"], conn, config,
    )
    assert res.decorated.where(F.size("recommendations") > 2).count() == 0
    # validation: zero / negative / non-int rejected
    import pytest as _pytest
    for bad in (0, -3, "five", True):
        with _pytest.raises(ConfigError):
            ConnectorConfig.from_dict("braze", {"maxRecommendations": bad})


def test_legacy_window_mode_equivalence(fixtures, config):
    """W1+A1 literal form == idiomatic single-aggregate form."""
    conn = config.connectors[0]
    # compare pre-stamp frames: set ops reject MapType (syncDirectives)
    idiomatic = related_items_pipeline(
        fixtures["recs"], fixtures["mapping"], fixtures["meta"], conn, config
    ).pre_delta
    ok, _ = split_errors(fixtures["recs"], cache=False)
    legacy = attribute_users(
        decorate_items(
            ok,
            fixtures["meta"],
            key_cols=[("input.itemId", "queryItemId")],
            metadata_fields=conn.item_metadata_fields,
            legacy_window_mode=True,
        ),
        fixtures["mapping"],
        recs_item_col="queryItemId",
    ).select("queryItemId", "userId", "recommendations")
    assert idiomatic.exceptAll(legacy).isEmpty()
    assert legacy.exceptAll(idiomatic).isEmpty()


def test_metadata_miss_keeps_item(fixtures):
    """Left-outer J2: recommended items with no metadata row keep their
    itemId with null metadata fields (every 7th key missing)."""
    ok, _ = split_errors(fixtures["recs"])
    decorated = decorate_items(
        ok, fixtures["meta"], key_cols=[("input.itemId", "queryItemId")],
        metadata_fields=["name"],
    )
    exploded = decorated.select(F.explode("recommendations").alias("r"))
    misses = exploded.where(F.col("r.name").isNull())
    assert misses.count() > 0
    assert misses.where(F.col("r.itemId").isNull()).count() == 0
    miss_keys = {int(r["r"].itemId) for r in misses.collect()}
    assert all(k % 7 == 0 for k in miss_keys)


def test_no_metadata_decorates_bare_item_ids(fixtures):
    ok, _ = split_errors(fixtures["recs"])
    decorated = decorate_items(ok, None, key_cols=[("input.itemId", "queryItemId")])
    row = decorated.where(F.size("recommendations") > 0).first()
    assert set(row.recommendations[0].asDict().keys()) == {"itemId"}


def test_user_personalization_pipeline(fixtures, config):
    res = user_personalization_pipeline(
        fixtures["user_recs"], fixtures["meta"], config.connectors[0], config,
    )
    assert "queryUserId" in res.decorated.columns
    assert "userId" not in res.decorated.columns
    assert res.decorated.count() > 0


def test_delta_idempotence(fixtures, config):
    """FIXTURES.md §5: state = run-1 output → run 2 yields 0 rows."""
    res = related_items_pipeline(
        fixtures["recs"], fixtures["mapping"], fixtures["meta"],
        config.connectors[0], config,
    )
    state = res.pre_delta
    again = delta_check(res.pre_delta, state)
    assert again.isEmpty()


def test_delta_detects_change(spark, fixtures, config):
    res = related_items_pipeline(
        fixtures["recs"], fixtures["mapping"], fixtures["meta"],
        config.connectors[0], config,
    )
    current = res.pre_delta
    # state missing one user's records → exactly that user reappears
    victim = current.select("userId").first().userId
    state = current.where(F.col("userId") != victim)
    delta = delta_check(current, state)
    assert delta.where(F.col("userId") != victim).isEmpty()
    assert delta.count() == current.where(F.col("userId") == victim).distinct().count()


def test_delta_column_order_invariance(fixtures, config):
    """D1 resolves by name — shuffled state column order must not matter."""
    res = related_items_pipeline(
        fixtures["recs"], fixtures["mapping"], fixtures["meta"],
        config.connectors[0], config,
    )
    state_shuffled = res.pre_delta.select(*reversed(res.pre_delta.columns))
    assert delta_check(res.pre_delta, state_shuffled).isEmpty()


def test_delta_survives_jsonl_roundtrip(spark, tmp_path, fixtures, config):
    """run_job's state is read back from a JSONL snapshot. A JSONL
    round-trip alphabetizes nested struct fields and re-infers types;
    without by-name schema conformance the delta would silently resync
    everything."""
    res = related_items_pipeline(
        fixtures["recs"], fixtures["mapping"], fixtures["meta"],
        config.connectors[0], config,
    )
    state_path = str(tmp_path / "state")
    res.pre_delta.write.mode("overwrite").json(state_path)
    state = spark.read.json(state_path)
    # sanity: the round-trip really did reorder nested struct fields
    rt_fields = [
        f.name for f in state.schema["recommendations"].dataType.elementType.fields
    ]
    cur_fields = [
        f.name
        for f in res.pre_delta.schema["recommendations"].dataType.elementType.fields
    ]
    assert rt_fields != cur_fields
    assert delta_check(res.pre_delta, state).isEmpty()


def test_merge_schema_evolution_read(spark, tmp_path):
    """Operational robustness: a dataset whose later files gained a
    column reads as ONE frame under mergeSchema, old rows null-filled —
    the storage-side counterpart of F7 conform_to_schema (which
    handles the in-flight union case)."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, price double"
    ).write.mode("append").parquet(p)
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"id", "name", "price"}
    rows = {r.id: (r.name, r.price) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_renest_window_legacy_operator_law(spark):
    """W1 literal-mode law, pinned at the OPERATOR level (retirement
    prerequisite for the q:renest_legacy_window registry entry —
    VERIFIED.md retirement policy item 5): the window-prefix
    collect_list + groupBy/max form (ri:202-214) must (a) order by
    pos, not input order; (b) DROP null recs the way collect_list
    does; (c) yield [] for a group whose recs are all null; and
    (d) agree with the idiomatic single-aggregate renest_ordered on
    exactly those inputs."""
    from amazon_personalize_connectors_spark.operators.decorate import (
        renest_ordered,
        renest_window_legacy,
    )

    rows = [
        # out-of-order pos within group g1 + one null rec at pos 1
        ("g1", 2, "c"),
        ("g1", 0, "a"),
        ("g1", 1, None),
        ("g1", 3, "d"),
        # group with ONLY null recs -> []
        ("g2", 0, None),
        ("g2", 1, None),
        # singleton
        ("g3", 0, "z"),
    ]
    exploded = spark.createDataFrame(rows, "k string, pos int, rec string")
    legacy = {
        r["k"]: r["recommendations"]
        for r in renest_window_legacy(exploded, ["k"], F.col("rec")).collect()
    }
    assert legacy == {"g1": ["a", "c", "d"], "g2": [], "g3": ["z"]}
    idiomatic = {
        r["k"]: r["recommendations"]
        for r in renest_ordered(exploded, ["k"], F.col("rec")).collect()
    }
    assert idiomatic == legacy


def test_stored_digest_delta_equals_anti_hash(spark, tmp_path):
    """r13: delta_check_stored_digests over a with_record_digests
    snapshot must produce EXACTLY delta_check's rows (EXCEPT DISTINCT
    over the payload columns) — the digest only narrows the keys. Also
    pins the point of the change: the stored digests equal what the
    read-back side would recompute (parquet round-trips the digest
    inputs exactly)."""
    from amazon_personalize_connectors_spark.operators.delta import (
        _digest_cols,
        delta_check_stored_digests,
        with_record_digests,
    )

    rows = [
        (1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5), (4, "d", 4.5),
        (2, "b", 2.5),  # duplicate record — dedup semantics must hold
    ]
    df = spark.createDataFrame(rows, "k long, s string, v double")
    snap = str(tmp_path / "snap")
    with_record_digests(df).write.parquet(snap)
    back = spark.read.parquet(snap)
    # stored digests == recomputed-after-round-trip digests
    h1, h2 = _digest_cols(back.drop("__h1", "__h2"))
    mism = back.where((F.col("__h1") != h1) | (F.col("__h2") != h2))
    assert mism.isEmpty()
    state = back.where(F.col("k") % 2 == 0)
    got = delta_check_stored_digests(back, state)
    want = delta_check(back.drop("__h1", "__h2"), state.drop("__h1", "__h2"))
    assert got.columns == want.columns
    # row-level equality (exceptAll trips INTERNAL_ERROR_ATTRIBUTE_NOT
    # _FOUND on this dedup+anti plan in 4.1.2; the frames are tiny)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # first-sync path (state None) dedups like delta_check
    got0 = delta_check_stored_digests(back, None)
    want0 = delta_check(back.drop("__h1", "__h2"), None)
    assert got0.count() == want0.count() == 4
