"""The check_oracle.py final-schema lint (VERDICT r6 items 1/4): no
DECIMAL on either side and no HUGEINT on the oracle side may reach a
final SELECT — the driver's DuckDB/pandas convert those
version-dependently (float64 vs Decimal object), which a local gate
whose own DuckDB agrees with itself can never see. Three
driver-vs-local parity incidents (r5 revenue_anomalies, r6
mannwhitney_value + seasonal_decompose) were all this class."""

import os
import sys

import duckdb

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from check_oracle import lint_final_types, versions_line  # noqa: E402


def test_lint_flags_engine_decimal_final_column(spark):
    df = spark.sql("SELECT CAST(1 AS DECIMAL(38,0)) AS x, 2 AS y")
    con = duckdb.connect()
    problems = lint_final_types(df.schema, con, None)
    assert len(problems) == 1 and "x" in problems[0]
    assert "DECIMAL" in problems[0].upper()


def test_lint_flags_oracle_decimal_and_hugeint(spark):
    df = spark.sql("SELECT 1 AS x")  # clean engine side
    con = duckdb.connect()
    # the exact shape of the r6 red rows: exact sums left as
    # DECIMAL(38,0) / widened to HUGEINT in the final SELECT
    bad_dec = "SELECT CAST(1 AS DECIMAL(38,0)) AS x"
    bad_huge = "SELECT CAST(1 AS HUGEINT) AS x"
    assert any("DECIMAL" in p for p in lint_final_types(df.schema, con, bad_dec))
    assert any("HUGEINT" in p for p in lint_final_types(df.schema, con, bad_huge))


def test_lint_passes_bigint_and_varchar_bridges(spark):
    df = spark.sql(
        "SELECT CAST(CAST(1 AS DECIMAL(38,0)) AS BIGINT) AS x,"
        " CAST(CAST(1 AS DECIMAL(38,0)) AS STRING) AS s"
    )
    con = duckdb.connect()
    ok = (
        "SELECT CAST(CAST(1 AS DECIMAL(38,0)) AS BIGINT) AS x,"
        " CAST(CAST(1 AS DECIMAL(38,0)) AS VARCHAR) AS s"
    )
    assert lint_final_types(df.schema, con, ok) == []


def test_versions_line_names_every_conversion_layer():
    line = versions_line()
    for pkg in ("duckdb=", "pandas=", "pyarrow=", "numpy=", "pyspark="):
        assert pkg in line
