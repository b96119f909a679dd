"""Direct reader-level tests (S1/S2/S3/S4/S6) plus the P2 payload
rank-order property — complements the end-to-end coverage in
test_job.py with per-function checks."""

import json

from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.config import ConnectorConfig
from amazon_personalize_connectors_spark.operators.payload import (
    build_user_track_payloads,
)
from amazon_personalize_connectors_spark.sources.readers import (
    path_exists,
    read_batch_inference,
    read_item_metadata,
    read_user_item_mapping,
    split_corrupt,
)


def test_path_exists_file_dir_prefix_and_missing(spark, tmp_path):
    d = tmp_path / "data"
    d.mkdir()
    (d / "part-0.json").write_text("{}\n")
    assert path_exists(spark, str(d))
    assert path_exists(spark, str(d / "part-0.json"))
    assert not path_exists(spark, str(tmp_path / "nope"))


def test_read_batch_inference_permissive_corrupt_capture(spark, tmp_path):
    p = tmp_path / "bi"
    p.mkdir()
    lines = [
        json.dumps(
            {"input": {"itemId": "1"}, "output": {"recommendedItems": ["2", "3"]}}
        ),
        "{this is not json",
        json.dumps({"input": {"itemId": "4"}, "error": "BOOM"}),
    ]
    (p / "part-0.json").write_text("\n".join(lines) + "\n")
    clean, corrupt = split_corrupt(read_batch_inference(spark, str(p)))
    assert clean.count() == 2
    bad = corrupt.collect()
    assert len(bad) == 1 and bad[0]._corrupt_record.startswith("{this")
    row = {r["input"]["itemId"]: r for r in clean.collect()}
    assert row["1"]["output"]["recommendedItems"] == ["2", "3"]
    assert row["4"]["error"] == "BOOM"


def test_read_batch_inference_gzipped_parts(spark, tmp_path):
    """S1 gzip-awareness (enq:40-43): `.json.gz` part files read
    transparently, mixed with plain parts in the same folder scan."""
    import gzip

    p = tmp_path / "bi_gz"
    p.mkdir()
    gz_lines = [
        json.dumps(
            {"input": {"itemId": str(i)}, "output": {"recommendedItems": ["x"]}}
        )
        for i in range(3)
    ]
    with gzip.open(p / "part-0.json.gz", "wt") as f:
        f.write("\n".join(gz_lines) + "\n")
    (p / "part-1.json").write_text(
        json.dumps(
            {"input": {"itemId": "9"}, "output": {"recommendedItems": ["y"]}}
        )
        + "\n"
    )
    clean, corrupt = split_corrupt(read_batch_inference(spark, str(p)))
    assert corrupt.count() == 0
    ids = {r["input"]["itemId"] for r in clean.collect()}
    assert ids == {"0", "1", "2", "9"}


def test_read_user_item_mapping_recursive_quoted_untyped(spark, tmp_path):
    root = tmp_path / "mapping"
    sub = root / "nested"
    sub.mkdir(parents=True)
    (root / "a.csv").write_text('USER_ID,ITEM_ID\n"u,1",100\n')
    (sub / "b.csv").write_text("USER_ID,ITEM_ID\nu2,200\n")
    df = read_user_item_mapping(spark, str(root))
    rows = {r.USER_ID: r.ITEM_ID for r in df.collect()}
    # recursive listing found both files; quoted comma preserved;
    # numerics stay strings (no inference)
    assert rows == {"u,1": "100", "u2": "200"}
    assert dict(df.dtypes) == {"USER_ID": "string", "ITEM_ID": "string"}


def test_read_item_metadata_missing_path_returns_none(spark, tmp_path):
    assert read_item_metadata(spark, str(tmp_path / "absent")) is None
    p = tmp_path / "meta"
    p.mkdir()
    (p / "items.json").write_text('{"id": "1", "name": "x"}\n')
    df = read_item_metadata(spark, str(p))
    assert df is not None and df.count() == 1


def test_payload_pivot_preserves_rank_order_and_length(spark):
    # P2 property: every pivoted attribute array aligns 1:1 with the
    # ordered recommendations array
    recs = [
        {"itemId": str(i), "name": f"n{i}", "price": float(i)} for i in range(7)
    ]
    df = spark.createDataFrame(
        [("u1", recs), ("u2", recs[:3]), ("u3", [])],
        "queryUserId string, recommendations array<struct<itemId:string,name:string,price:double>>",
    )
    connector = ConnectorConfig(name="braze", attribute_prefix="rec_")
    payloads, invalid = build_user_track_payloads(df, connector)
    got = {r.external_id: r for r in payloads.collect()}
    assert set(got) == {"u1", "u2"}  # empty-recs user routed to invalid
    assert invalid.count() == 1
    for uid, n in [("u1", 7), ("u2", 3)]:
        r = got[uid]
        assert list(r.rec_itemId) == [str(i) for i in range(n)]
        assert list(r.rec_name) == [f"n{i}" for i in range(n)]
        assert list(r.rec_price) == [float(i) for i in range(n)]


def test_payload_merges_other_attributes_and_shadows_reserved(spark):
    # P3: otherAttributes merged as literal columns; reserved keys
    # (external_id) shadowed out rather than overriding the real id
    df = spark.createDataFrame(
        [("u1", [{"itemId": "1"}])],
        "queryUserId string, recommendations array<struct<itemId:string>>",
    )
    connector = ConnectorConfig(
        name="braze",
        attribute_prefix="rec_",
        other_attributes={"campaign": "summer", "external_id": "spoofed"},
    )
    payloads, _ = build_user_track_payloads(df, connector)
    row = payloads.collect()[0]
    assert row.external_id == "u1"          # not "spoofed"
    assert row.campaign == "summer"
    assert "external_id" not in [c for c in payloads.columns if c != "external_id"] or \
        payloads.columns.count("external_id") == 1


def test_drift_reader_parity_on_clean_input(spark, tmp_path):
    """S1-drift == S1 PERMISSIVE on clean input (modulo _drift=false):
    the variant path changes nothing when there is nothing to absorb."""
    import json

    from amazon_personalize_connectors_spark.sources.readers import (
        parse_batch_inference_drift,
        read_batch_inference,
    )

    p = tmp_path / "clean"
    p.mkdir()
    lines = [
        {"input": {"itemId": "1"}, "output": {"recommendedItems": ["2", "3"]}},
        {"input": {"itemId": "4"}, "output": {"recommendedItems": []}},
        {"input": {"itemId": "5"}, "error": "ITEM_NOT_IN_DATASET"},
    ]
    (p / "part-0.json").write_text("\n".join(json.dumps(l) for l in lines))

    def snap(df):
        return sorted(
            (
                r["input"]["itemId"],
                tuple(r["output"]["recommendedItems"]) if r["output"] else None,
                r["error"],
                r["_corrupt_record"],
            )
            for r in df.collect()
        )

    base = read_batch_inference(spark, str(p))
    drift = parse_batch_inference_drift(spark.read.text(str(p)))
    assert snap(base) == snap(drift)
    assert [r["_drift"] for r in drift.collect()] == [False] * 3


def test_drift_reader_absorbs_choice_types(spark, tmp_path):
    """Per-record type drift (Glue choice types, ri:99-107): numeric
    itemId / numeric rec lists are CAST into the declared string
    schema and flagged, instead of landing in _corrupt_record; only
    unparseable lines are corrupt."""
    from amazon_personalize_connectors_spark.sources.readers import (
        parse_batch_inference_drift,
        read_batch_inference,
    )

    p = tmp_path / "drifty"
    p.mkdir()
    (p / "part-0.json").write_text(
        "\n".join(
            [
                '{"input":{"itemId":"1"},"output":{"recommendedItems":["2"]}}',
                '{"input":{"itemId":34},"output":{"recommendedItems":[5,6]}}',
                '{"input":{"itemId":{"id":7}},"output":{"recommendedItems":["8"]},"error":null}',
                '{"input":{"itemId":"9"},"output":{"recommendedItems":"8"},"error":null}',
                '{"broken',
            ]
        )
    )
    out = {
        (r["input"]["itemId"] if r["input"] else None): r
        for r in parse_batch_inference_drift(spark.read.text(str(p))).collect()
    }
    assert out["1"]["_drift"] is False
    assert out["34"]["_drift"] is True  # absorbed, typed, flagged
    assert out["34"]["output"]["recommendedItems"] == ["5", "6"]
    # structural drift (object where a scalar id was declared): the
    # record is SALVAGED — id kept as its JSON text, rec list intact,
    # flagged — where PERMISSIVE dumps the whole line into
    # _corrupt_record
    salvaged = out['{"id":7}']
    assert salvaged["_drift"] is True
    assert salvaged["output"]["recommendedItems"] == ["8"]
    # scalar where the array was declared: PERMISSIVE corrupts the
    # whole line; the drift reader keeps the id, NULLs the list, flags
    scalar_recs = out["9"]
    assert scalar_recs["_drift"] is True and scalar_recs["output"] is None
    corrupt = out[None]
    assert corrupt["_corrupt_record"] == '{"broken'
    assert corrupt["_drift"] is None
    # the PERMISSIVE reader would have corrupted the drifted row too
    from amazon_personalize_connectors_spark.sources.readers import (
        split_corrupt,
    )

    base = read_batch_inference(spark, str(p))
    _clean, bad = split_corrupt(base)
    assert bad.count() == 2  # the scalar-recs row AND the broken line
