"""Physical-layout properties: Hive-partitioned output enables
partition pruning downstream (K1's date/time path encoding, upgraded
to real `partitionBy` so Catalyst prunes instead of listing)."""

from pyspark.sql import functions as F


def test_partitioned_write_prunes_scan(spark, tmp_path):
    out = str(tmp_path / "decorated")
    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 4 + 2020).cast("int").alias("year"),
        (F.col("id") % 12 + 1).cast("int").alias("month"),
    )
    df.write.partitionBy("year", "month").mode("overwrite").parquet(out)

    back = spark.read.parquet(out).where(
        (F.col("year") == 2021) & (F.col("month") == 2)
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    # the filter must appear as PartitionFilters on the scan (pruned
    # listing), not as a post-scan data filter
    assert "PartitionFilters: [" in scan
    assert "year" in scan.split("PartitionFilters:")[1][:200]
    n = back.count()
    assert n == df.where((F.col("year") == 2021) & (F.col("month") == 2)).count()
    assert n > 0


def test_partition_values_roundtrip(spark, tmp_path):
    out = str(tmp_path / "by_day")
    df = spark.createDataFrame(
        [(1, "2026", "01", "05"), (2, "2026", "01", "06")],
        "v long, year string, month string, day string",
    )
    df.write.partitionBy("year", "month", "day").mode("overwrite").parquet(out)
    # default: partition values type-infer to ints ("01" -> 1)
    back = spark.read.parquet(out)
    got = {(r.year, r.month, r.day) for r in back.collect()}
    assert got == {(2026, 1, 5), (2026, 1, 6)}
    # zero-padded string partitions (the reference's path shape,
    # ri:303) need inference off to round-trip exactly
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got_s = {
            (r.year, r.month, r.day) for r in spark.read.parquet(out).collect()
        }
    finally:
        spark.conf.set(key, old)
    assert got_s == {("2026", "01", "05"), ("2026", "01", "06")}
