#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over
the same parquet tables, then compare row count, column names, and
(sorted) values. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
    python tools/check_oracle.py --lint [sf_dir] [query ...]

``--lint`` runs only the final-schema lint (below) without executing.

Final-schema lint: no DECIMAL (either side) and no HUGEINT (oracle
side) may reach a final SELECT. Rationale: the driver's DuckDB/pandas
versions are not pinned to local's, and DECIMAL -> pandas conversion
is version-dependent (float64 vs Decimal object), as is HUGEINT
(float64 widening). Three driver-vs-local parity incidents (r5
revenue_anomalies, r6 mannwhitney_value + seasonal_decompose) all
came from this class. Keep exact arithmetic DECIMAL *internally*;
emit BIGINT, or route through a VARCHAR bridge when the magnitude
genuinely exceeds int64.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # spill instead of OOM on large-SF oracles: an in-memory DuckDB
    # has NO temp dir by default, so a 25M-row EXCEPT ALL hash table
    # (the flagship family at the local sf1 decade) must fit in RAM
    # or die — give it a spill path and a bounded budget so one big
    # oracle cannot take down the whole sweep process (r11 sf1 sweep).
    # ADVICE r11: the budget is min(24GB, DuckDB's own 80%-of-RAM
    # default) — a flat 24GB RAISED the cap above physical memory on
    # small hosts — and the spill dir is removed at process exit
    # instead of leaking one mkdtemp per sweep.
    import atexit
    import shutil
    import tempfile

    spill = tempfile.mkdtemp(prefix="apcs_duck_")
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
    con.execute(f"SET temp_directory='{spill}'")
    default_cap = con.execute(
        "SELECT value FROM duckdb_settings() WHERE name='memory_limit'"
    ).fetchone()[0]
    try:
        unit = {"KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
        num, suffix = default_cap.split()
        default_bytes = int(float(num) * unit[suffix])
    except (ValueError, KeyError):
        default_bytes = 24 * 2**30  # unparseable -> keep old behavior
    con.execute(f"SET memory_limit='{min(24 * 2**30, default_bytes)}B'")
    for t in TABLES:
        # a table may be a single file (driver testdata) or a
        # DIRECTORY of part files (tools/gen_scaled_data.py output,
        # e.g. the local sf1 decade) — Spark reads both identically,
        # DuckDB needs a glob for the directory form
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True, na_position="last")
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def _dtype_family(dt) -> str:
    """Coarse dtype family for parity checks: the driver's value hash
    distinguishes int64 from float64 representations of the same number,
    so an integral Spark column paired with a float oracle column (the
    DuckDB HUGEINT->pandas float64 widening artifact) must fail locally
    too."""
    import numpy as np

    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "datetime"
    return "other"


def versions_line() -> str:
    """One-line environment stamp: the oracle compare is only as
    portable as these conversion layers, so every VERIFIED.md window
    placement records them (VERDICT r6 item 4)."""
    import numpy as np
    import pyarrow
    import pyspark

    return (
        f"oracle-env: duckdb={duckdb.__version__} pandas={pd.__version__} "
        f"pyarrow={pyarrow.__version__} numpy={np.__version__} "
        f"pyspark={pyspark.__version__}"
    )


def lint_final_types(spark_schema, con, sql: str | None) -> list[str]:
    """Flag engine/oracle final-SELECT types that convert
    engine-dependently (see module docstring). ``spark_schema`` is a
    pyspark StructType; ``sql`` may be None for rows-only queries."""
    from pyspark.sql.types import DecimalType

    problems = []
    for f in spark_schema.fields:
        if isinstance(f.dataType, DecimalType):
            problems.append(
                f"lint: engine final column {f.name} is {f.dataType.simpleString()}"
                " (DECIMAL converts engine-dependently; emit BIGINT or VARCHAR)"
            )
    if sql is not None:
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
        for row in desc:
            col, typ = row[0], str(row[1]).upper()
            if typ.startswith("DECIMAL") or typ == "HUGEINT":
                problems.append(
                    f"lint: oracle final column {col} is {typ}"
                    " (converts engine-dependently; CAST AS BIGINT or VARCHAR)"
                )
    return problems


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
        )
        return problems
    # dtype parity: an int-vs-float pair hashes differently at the driver
    # even when values are numerically equal (e.g. DuckDB widening a
    # window SUM to HUGEINT which pandas renders as float64). 'other'
    # (object/decimal/list) columns are left to the value comparison.
    for col in sorted(spark_df.columns):
        sf, of = _dtype_family(spark_df[col].dtype), _dtype_family(oracle_df[col].dtype)
        if sf != of and "other" not in (sf, of):
            # empty frames surface as object dtype on the spark side;
            # only flag when both sides actually carry rows
            if len(spark_df) and len(oracle_df):
                problems.append(
                    f"dtype family differs col {col}: spark={spark_df[col].dtype}"
                    f" oracle={oracle_df[col].dtype} (driver hash will mismatch)"
                )
    if len(spark_df) != len(oracle_df):
        problems.append(f"row count differs: spark={len(spark_df)} oracle={len(oracle_df)}")
    s = normalize(spark_df)
    o = normalize(oracle_df)
    n = min(len(s), len(o))
    mismatches = 0
    for col in s.columns:
        sv, ov = s[col].tolist()[:n], o[col].tolist()[:n]
        for i in range(n):
            a, b = sv[i], ov[i]
            a = None if (isinstance(a, float) and math.isnan(a)) else a
            b = None if (isinstance(b, float) and math.isnan(b)) else b
            if not values_equal(a, b):
                mismatches += 1
                if mismatches <= 3:
                    problems.append(f"value diff row {i} col {col}: spark={a!r} oracle={b!r}")
    if mismatches > 3:
        problems.append(f"... {mismatches} total value mismatches")
    return problems


def main() -> int:
    argv = sys.argv[1:]
    lint_only = "--lint" in argv
    argv = [a for a in argv if a != "--lint"]
    # --max-hash-rows N: above N result rows, compare COUNT + column
    # names only (both engines still execute fully) instead of
    # collecting both sides into pandas for the value hash — the
    # multi-million-row flagship family at the local sf1 decade
    # exceeds driver/pandas memory, and count parity one decade above
    # the bench SF is the evidence sought there; full value-hash
    # parity stands at sf0.001/0.01. Default: unlimited (the driver
    # gate's behavior, unchanged).
    max_hash_rows = None
    if "--max-hash-rows" in argv:
        i = argv.index("--max-hash-rows")
        max_hash_rows = int(argv[i + 1])
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as e
    from amazon_personalize_connectors_spark.session import get_spark

    print(versions_line())
    spark = get_spark("oracle-check")
    con = duck_connection(sf_dir)
    qs, oracles = e.queries(), e.oracle_sql()

    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            lint = lint_final_types(df.schema, con, oracles.get(name))
        except Exception as ex:
            print(f"[FAIL] {name}: spark/lint error: {ex}")
            failed.append(name)
            continue
        if lint:
            print(f"[FAIL] {name} ({time.time()-t0:.1f}s)")
            for p in lint:
                print(f"       {p}")
            failed.append(name)
            continue
        if lint_only:
            print(f"[lint ok] {name} ({time.time()-t0:.1f}s)")
            continue
        if max_hash_rows is not None and name in oracles:
            try:
                scnt = df.count()
                spark.catalog.clearCache()
            except Exception as ex:
                print(f"[FAIL] {name}: spark error: {ex}")
                failed.append(name)
                continue
            if scnt > max_hash_rows:
                try:
                    ocnt = con.execute(
                        f"SELECT count(*) FROM ({oracles[name]})"
                    ).fetchone()[0]
                    ocols = [
                        r[0]
                        for r in con.execute(f"DESCRIBE {oracles[name]}").fetchall()
                    ]
                except Exception as ex:
                    print(f"[FAIL] {name}: oracle error: {ex}")
                    failed.append(name)
                    continue
                probs = []
                if scnt != ocnt:
                    probs.append(f"row count differs: spark={scnt} oracle={ocnt}")
                if sorted(df.columns) != sorted(ocols):
                    probs.append(
                        f"columns differ: spark={sorted(df.columns)}"
                        f" oracle={sorted(ocols)}"
                    )
                if probs:
                    print(f"[FAIL] {name} ({time.time()-t0:.1f}s)")
                    for p in probs:
                        print(f"       {p}")
                    failed.append(name)
                else:
                    print(
                        f"[count-only] {name}: {scnt} rows both engines"
                        f" (> {max_hash_rows} hash cap) ({time.time()-t0:.1f}s)"
                    )
                continue
        try:
            sdf = df.toPandas()
            spark.catalog.clearCache()
            # reclaim accumulated broadcasts between queries — the
            # same heap-creep control bench.py uses; a 295-query
            # sweep at a large SF otherwise exhausts the machine
            # mid-run (r11 sf1 sweep)
            spark.sparkContext._jvm.System.gc()
        except Exception as ex:
            print(f"[FAIL] {name}: spark error: {ex}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"[FAIL] {name}: oracle error: {ex}")
            failed.append(name)
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"[FAIL] {name} ({time.time()-t0:.1f}s)")
            for p in problems:
                print(f"       {p}")
            failed.append(name)
        else:
            print(f"[ OK ] {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
    print(f"\n{len(failed)} failed of {len(only) or len(qs)}: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
