"""The executable form-change gate (VERDICT r11 item 2).

Round 11 proved a hand-kept re-verify list missable: commit b856482
changed `matrix_profile_ssd`'s plan (new int64 range guard) after
`revenue_matrix_profile`'s r7 driver row, and nothing forced a
ledger touch — the stale driver evidence silently attested a query
that no longer existed. tools/plan_fingerprints.py makes the
detection executable, and PLAN_FP.json's per-query ``since`` round
makes the re-verification bookkeeping derived; these tests pin:

* coverage/hygiene of the committed PLAN_FP.json (cheap, always on);
* the gate LOGIC: every fingerprint drift fails, and `--write`
  stamps ``since`` only on changed or new fingerprints (pure,
  always on);
* the b856482 DEMONSTRATION: an operator-level plan change (a guard
  grafted onto the plan, exactly the r11 class) moves the
  fingerprint even though the query function's source is untouched —
  i.e. this gate WOULD have caught it (spark, always on);
* the full-registry recompute+compare when SPARK_GRAFT_FP_FULL=1
  (minutes — part of the round-close checklist beside the oracle
  sweeps, not the default suite).
"""

import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import plan_fingerprints as pf  # noqa: E402

import __spark_entry__ as entry  # noqa: E402


@pytest.fixture(scope="module")
def committed():
    assert os.path.exists(pf.FP_PATH), (
        "PLAN_FP.json missing — run `python tools/plan_fingerprints.py "
        "--write` and commit it"
    )
    with open(pf.FP_PATH) as f:
        return json.load(f)


def test_fingerprint_coverage(committed):
    """Every registry query has a committed fingerprint and no
    orphans linger after a retirement."""
    names = set(entry.queries())
    missing = names - set(committed)
    orphans = set(committed) - names
    assert not missing, f"queries without a committed fingerprint: {sorted(missing)}"
    assert not orphans, f"fingerprints for retired/unknown queries: {sorted(orphans)}"


def test_no_error_fingerprints(committed):
    """A committed ERR: value means a builder crashed during --write;
    that must never be snapshot as the accepted form."""
    bad = {k: v for k, v in committed.items() if v["fp"].startswith("ERR:")}
    assert not bad, f"error fingerprints committed: {bad}"


def test_committed_entries_are_fp_and_since(committed):
    """Each PLAN_FP.json value is ``{"fp": <16 hex>, "since": <round>}``
    with ``since`` no later than the upcoming round (`--write` stamps
    the current round, never a future one)."""
    nxt = pf.current_round(ROOT)
    bad = {
        k: v
        for k, v in committed.items()
        if set(v) != {"fp", "since"}
        or not re.fullmatch(r"[0-9a-f]{16}", v["fp"])
        or not (isinstance(v["since"], int) and 0 <= v["since"] <= nxt)
    }
    assert not bad, f"malformed PLAN_FP.json entries: {bad}"


def test_normalizer_strips_session_noise():
    plan = (
        "Project [o_orderkey#123L, cast(o_totalprice#124 as bigint)]\n"
        "+- Relation [o_orderkey#123L] parquet, "
        "file:/root/testdata/sf0.001/orders.parquet, plan_id=42"
    )
    plan2 = plan.replace("#123", "#9871").replace("#124", "#9872").replace(
        "plan_id=42", "plan_id=7"
    )
    assert pf.normalize_plan(plan) == pf.normalize_plan(plan2)
    # but a real literal change is NOT stripped
    assert pf.normalize_plan(plan) != pf.normalize_plan(
        plan.replace("bigint", "double")
    )


def test_gate_logic_flags_unexcused_drift():
    got = {"a": "1111", "b": "2222", "c": "3333"}
    committed = {
        "a": {"fp": "1111", "since": 0},
        "b": {"fp": "0000", "since": 0},
        "c": {"fp": "0000", "since": 12},
    }
    # every drift fails, whatever its `since` — no exemption path
    bad = pf.compare(got, committed)
    assert [line.split(":")[0] for line in bad] == ["b", "c"]
    # a new registration missing from the committed file is a
    # mismatch too
    bad2 = pf.compare({"new": "4444"}, {})
    assert bad2 and bad2[0].startswith("new:")
    # --write stamps the current round on changed and new
    # fingerprints only; the unchanged one keeps its `since`
    stamped = pf.stamp({**got, "new": "4444"}, committed, 14)
    assert stamped == {
        "a": {"fp": "1111", "since": 0},
        "b": {"fp": "2222", "since": 14},
        "c": {"fp": "3333", "since": 14},
        "new": {"fp": "4444", "since": 14},
    }
    assert pf.compare(got, stamped) == []


def test_operator_level_plan_change_moves_fingerprint(spark):
    """The b856482 demonstration: graft a broadcast scalar guard onto
    a plan — the exact shape the r11 int64 guard added inside
    matrix_profile_ssd, with the QUERY function untouched — and the
    fingerprint moves. Source-hashing the query function would have
    missed this; the analyzed-plan hash catches it."""
    from pyspark.sql import functions as F

    base = spark.range(10).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    fp_before = pf.fingerprint(base, sql="SELECT 1")

    bound = base.agg((F.max("v") - F.min("v")).alias("_rng"))
    guarded = base.crossJoin(F.broadcast(bound)).where(
        F.assert_true(F.col("_rng") < F.lit(10**9)).isNull()
    ).select("id", "v")
    fp_after = pf.fingerprint(guarded, sql="SELECT 1")
    assert fp_before != fp_after

    # and the fingerprint is STABLE across rebuilds of the same form
    rebuilt = spark.range(10).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    assert pf.fingerprint(rebuilt, sql="SELECT 1") == fp_before
    # the oracle side is part of the form: an oracle edit alone drifts
    assert pf.fingerprint(rebuilt, sql="SELECT 2") != fp_before


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_FP_FULL") != "1",
    reason="full 295-plan recompute (minutes) — round-close gate; "
    "set SPARK_GRAFT_FP_FULL=1",
)
def test_full_registry_fingerprints_match(committed):
    """Runs the tool in a SUBPROCESS: compute() asks for a 4-core
    session but getOrCreate() returns whatever session the suite
    already built (conftest's is 8-core), and parallelism-derived
    literals in the analyzed plans (fixture repartition widths) then
    drift EVERY fingerprint — the gate was order-dependent inside
    pytest (r12 find: green standalone, red after any spark-fixture
    test). A fresh interpreter reproduces exactly what --write ran."""
    import subprocess

    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "plan_fingerprints.py"),
         "--check"],
        capture_output=True,
        text=True,
        timeout=1800,
    )
    assert proc.returncode == 0, (
        "form change(s) not recorded in PLAN_FP.json:\n"
        + proc.stdout[-3000:]
    )
