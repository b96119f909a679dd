"""Z-order layout keys (operators/layout.py): bijectivity of the
interleave and the file-pruning property the layout exists for."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from amazon_personalize_connectors_spark.operators.layout import (
    zorder_key,
    zorder_unkey,
)


def test_zorder_roundtrip_bijective(spark):
    """interleave -> deinterleave is the identity on the bucket grid,
    and distinct keys == distinct (x, y) points (true bijection)."""
    grid = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("bigint").alias("y")
    )
    keyed = grid.withColumn("z", zorder_key([F.col("x"), F.col("y")], bits=6))
    ux, uy = zorder_unkey(F.col("z"), 2, bits=6)
    bad = keyed.where((ux != F.col("x")) | (uy != F.col("y"))).count()
    assert bad == 0
    assert keyed.select("z").distinct().count() == 4096
    # key range is exactly the 12-bit square
    lo, hi = keyed.agg(F.min("z"), F.max("z")).first()
    assert (lo, hi) == (0, 4095)


def test_zorder_overflow_guard():
    with pytest.raises(ValueError):
        zorder_key([F.lit(1), F.lit(2), F.lit(3)], bits=21)


def test_zordered_files_bound_both_dimensions(spark, tmp_path):
    """The point of the layout: sorted by the Morton key and cut into
    files, EVERY file covers a compact square-ish region — per-file
    min/max bounds on BOTH x and y stay small, so a predicate on
    either (or both) prunes most files. A single-column sort bounds
    only its own column; y-ranges stay near the full domain."""
    n = 64
    grid = spark.range(0, n * n).select(
        (F.col("id") % n).alias("x"), (F.col("id") / n).cast("bigint").alias("y")
    )
    zpath = str(tmp_path / "zordered")
    keyed = grid.withColumn("z", zorder_key([F.col("x"), F.col("y")], bits=6))
    clustered = keyed.repartitionByRange(16, "z").sortWithinPartitions("z")
    clustered.drop("z").write.parquet(zpath)

    xpath = str(tmp_path / "xsorted")
    grid.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(xpath)

    def max_spans(path):
        spans = []
        for f in glob.glob(os.path.join(path, "part-*.parquet")):
            row = (
                spark.read.parquet(f)
                .agg(
                    (F.max("x") - F.min("x")).alias("sx"),
                    (F.max("y") - F.min("y")).alias("sy"),
                )
                .first()
            )
            spans.append((row["sx"], row["sy"]))
        return max(s[0] for s in spans), max(s[1] for s in spans)

    zx, zy = max_spans(zpath)
    bx, by = max_spans(xpath)
    # 16 files over a 64x64 grid -> each Z file is a 16x16 quadrant
    assert zx <= 16 and zy <= 16
    # the x-sorted layout leaves y unclustered (full-domain span)
    assert by >= n - 1
    # and the z layout beats it on the unclustered dimension by 4x
    assert zy * 4 <= by


def test_compact_dataset_rejects_in_place_overwrite(spark, tmp_path):
    from amazon_personalize_connectors_spark.sinks.jsonl import compact_dataset
    import pytest

    src = str(tmp_path / "data")
    spark.range(0, 10).write.parquet(src)
    with pytest.raises(ValueError, match="out_path must differ"):
        compact_dataset(spark, src, src, target_rows_per_file=5)
    # source untouched after the rejected call
    assert spark.read.parquet(src).count() == 10


def test_compact_dataset_reduces_files_and_keeps_ranges(spark, tmp_path):
    from amazon_personalize_connectors_spark.sinks.jsonl import compact_dataset
    import pyarrow.parquet as pq
    import glob

    src = str(tmp_path / "many")
    out = str(tmp_path / "compact")
    # 40 tiny files of 25 rows each
    spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).repartition(40).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*")) == 40

    n = compact_dataset(spark, src, out, target_rows_per_file=250,
                        order_cols=["k"])
    assert n <= 5  # 1000 rows / 250 -> ~4 files
    # same data
    a = sorted(r.k for r in spark.read.parquet(out).collect())
    assert a == list(range(1000))
    # range layout: per-file k ranges must not overlap
    ranges = []
    for f in glob.glob(f"{out}/part-*"):
        t = pq.read_table(f, columns=["k"])
        ks = t.column("k").to_pylist()
        ranges.append((min(ks), max(ks)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2


def test_compaction_bins_packs_in_order(spark):
    from amazon_personalize_connectors_spark.operators.layout import (
        compaction_bins,
    )

    rows = [("p", i, sz) for i, sz in enumerate([60, 60, 60, 10, 200, 5])]
    df = spark.createDataFrame(rows, "part string, k long, sz long")
    out = {r["bin_id"]: (r["n_files"], r["bin_bytes"], r["first_key"], r["last_key"])
           for r in compaction_bins(df, ["part"], "k", "sz", 100).collect()}
    # cum_before: 0,60,120,180,190,390 -> bins 0,0,1,1,1,3
    assert out == {0: (2, 120, 0, 1), 1: (3, 270, 2, 4), 3: (1, 5, 5, 5)}


def test_compaction_bins_partitions_independent(spark):
    from amazon_personalize_connectors_spark.operators.layout import (
        compaction_bins,
    )

    rows = [("a", 1, 50), ("a", 2, 60), ("b", 1, 50), ("b", 2, 60)]
    df = spark.createDataFrame(rows, "part string, k long, sz long")
    out = compaction_bins(df, ["part"], "k", "sz", 100).collect()
    # identical layout per partition: both get bins {0: both files}
    per = {(r["part"], r["bin_id"]): r["n_files"] for r in out}
    assert per == {("a", 0): 2, ("b", 0): 2}


def test_compaction_bins_total_bytes_conserved(spark):
    from amazon_personalize_connectors_spark.operators.layout import (
        compaction_bins,
    )

    df = spark.range(200).select(
        (F.col("id") % 3).cast("string").alias("part"),
        F.col("id").alias("k"),
        (F.col("id") % 97 + 1).alias("sz"),
    )
    out = compaction_bins(df, ["part"], "k", "sz", 500)
    total = out.agg(F.sum("bin_bytes")).collect()[0][0]
    want = df.agg(F.sum("sz")).collect()[0][0]
    assert total == want
