#!/usr/bin/env python
"""Per-query plan fingerprints — the executable form-change gate.

A query whose REGISTERED FORM changes after its last driver-green row
must re-enter the driver verification window: its old evidence
attests a query that no longer exists. Round 11 showed a hand-kept
list of such queries is missable (commit b856482 changed
`matrix_profile_ssd`'s plan, a new int64 range guard, after
`revenue_matrix_profile`'s r7 driver row, and nothing forced a ledger
touch). This tool makes both the detection and the bookkeeping
mechanical:

* fingerprint(query) = sha256 of
    - the NORMALIZED analyzed logical plan at sf0.001 (expression
      ids `#123`, plan ids, and absolute paths stripped — those vary
      per session; the operator tree, literals, and schema do not), and
    - the query's `oracle_sql()` text (an oracle edit is equally a
      form change: the driver compares both sides).
  The analyzed plan is the right level: it captures changes made in
  OPERATOR code the query calls (the b856482 class), which
  source-hashing the query function would miss, while staying free
  of physical-planning noise (stats, AQE, codegen ids).

* PLAN_FP.json (committed) maps each query to
  ``{"fp": <fingerprint>, "since": <round>}``: ``since`` is the round
  from which that form is current. `tools/rotate_window.py` ranks a
  query for re-verification while its latest driver evidence round is
  below its ``since``.

* `--write [names...]` recomputes fingerprints and stamps
  ``since = rotate_window.current_round()`` on those that changed or
  are new; every other entry keeps its ``since``. Without names the
  file is rewritten for the whole registry (retired queries drop out).

* `--check [names...]` recomputes and compares. Every mismatch fails
  (exit 1) until the change is recorded with
  `--write <names>` followed by `tools/rotate_window.py --apply`.

tests/test_plan_fingerprints.py pins the cheap invariants (coverage,
file hygiene) in the default suite and runs the full recompute gate
when SPARK_GRAFT_FP_FULL=1 (it is part of the round-close checklist
next to the oracle sweeps; a full recompute builds 300 analyzed
plans and takes minutes, not seconds).

Streaming/stateful builders execute real micro-batches when called,
so fingerprinting ALSO exercises them; their plans are the final
returned DataFrame's, which is deterministic for the fixed sf0.001
fixture. Store- and checkpoint-backed queries therefore never drift
when only their fold code changes.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

from rotate_window import current_round, read_plan_fp  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.001")
FP_PATH = os.path.join(ROOT, "PLAN_FP.json")

# session-varying tokens to strip from the analyzed plan string:
#   #123              expression ids (monotonic per session)
#   plan_id=42        cached-plan ids
#   file:/... , /root/...   absolute input paths (location lists are
#                     truncated and reordered by the file index)
#   [N paths]         path-count renderings
#   cast hints with object addresses never appear in analyzed plans.
_NORMALIZERS = [
    (re.compile(r"#\d+"), "#"),
    # higher-order-function lambda variables are numbered by a
    # SESSION-GLOBAL counter (x_1, x_2, ... keep climbing as earlier
    # queries run), so the same plan built in a different order gets
    # different names
    (re.compile(r"\blambda ([xyz])_\d+"), r"lambda \1_"),
    (re.compile(r"\b([xyz])_\d+#"), r"\1_#"),
    # per-session temp-view counter in the streaming result reader
    (re.compile(r"\bapc_stream_result_\d+"), "apc_stream_result_"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(?:file:)?/[^,\s\]\)]*"), "<path>"),
    (re.compile(r"\.\.\. \d+ more fields"), "<more>"),
    (re.compile(r"\[\d+ paths\]"), "<paths>"),
]


def normalize_plan(plan: str) -> str:
    for pat, rep in _NORMALIZERS:
        plan = pat.sub(rep, plan)
    return plan


def fingerprint(df, sql: str | None) -> str:
    plan = df._jdf.queryExecution().analyzed().toString()
    h = hashlib.sha256()
    h.update(normalize_plan(plan).encode())
    h.update(b"\x00")
    h.update((sql or "<rows-only>").encode())
    return h.hexdigest()[:16]


def compute(names=None) -> dict[str, str]:
    from amazon_personalize_connectors_spark.session import get_spark

    import __spark_entry__ as e

    spark = get_spark("plan-fingerprints", cores=4, shuffle_partitions=4)
    qs = e.queries()
    sqls = e.oracle_sql()
    out: dict[str, str] = {}
    for i, (name, fn) in enumerate(qs.items()):
        if names and name not in names:
            continue
        try:
            out[name] = fingerprint(fn(spark, SF_DIR), sqls.get(name))
        except Exception as exc:  # noqa: BLE001 — a broken builder IS a form change
            out[name] = f"ERR:{type(exc).__name__}"
        print(f"[{len(out):3d}] {name} {out[name]}", file=sys.stderr)
    return out


def stamp(got: dict[str, str], committed: dict[str, dict], rnd: int) -> dict[str, dict]:
    """PLAN_FP.json entries for the recomputed ``got``: an unchanged
    fingerprint keeps its committed entry (and ``since``); a changed
    or new one is current from round ``rnd``."""
    return {
        name: committed[name]
        if committed.get(name, {}).get("fp") == fp
        else {"fp": fp, "since": rnd}
        for name, fp in got.items()
    }


def compare(got: dict[str, str], committed: dict[str, dict]) -> list[str]:
    """Pure gate logic: every query whose recomputed fingerprint
    differs from the committed one. A query absent from the committed
    file counts too — a new registration ships its fingerprint in the
    same commit."""
    return [
        f"{name}: committed={committed.get(name, {}).get('fp')} recomputed={fp}"
        for name, fp in got.items()
        if committed.get(name, {}).get("fp") != fp
    ]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    ap.add_argument("--check", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    if args.write == args.check:
        ap.error("exactly one of --write / --check")
    names = set(args.names) or None
    got = compute(names)
    committed = read_plan_fp(ROOT)
    if args.write:
        entries = stamp(got, committed, current_round(ROOT))
        if names:
            entries = {**committed, **entries}
        with open(FP_PATH, "w") as f:
            json.dump(dict(sorted(entries.items())), f, indent=1)
        print(f"wrote {len(entries)} fingerprints -> {FP_PATH}")
        return
    bad = compare(got, committed)
    if bad:
        print(f"\n{len(bad)} FORM CHANGE(S) against PLAN_FP.json:")
        for line in bad:
            print(f"  {line}")
        changed = " ".join(line.split(":")[0] for line in bad)
        print(
            "\nEither revert the plan change, or record it in the SAME "
            "commit (stamps `since` and re-plans the driver window):\n"
            f"  python tools/plan_fingerprints.py --write {changed}\n"
            "  python tools/rotate_window.py --apply"
        )
        sys.exit(1)
    print(f"OK: {len(got)} fingerprints match")


if __name__ == "__main__":
    main()
