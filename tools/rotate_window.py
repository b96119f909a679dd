#!/usr/bin/env python
"""Plan the next round's 50-query driver verification window.

The driver oracle-checks only the FIRST 50 entries of
``__spark_entry__.queries()`` (dict order). This tool reads every
CORRECTNESS_r*.json in the repo root, classifies each query by its
latest driver evidence, and prints a recommended window for the next
round, prioritized:

1. queries whose latest driver row is RED (regressions — must re-enter)
2. queries whose registered form is newer than their latest driver row
   (re-verification: the row attests a form that no longer exists)
3. queries never driver-verified (new operators)
4. queries whose green row is oldest (stalest evidence first)

plus a handful of §2 sentinels that should stay in every window.

Re-verification is derived, not kept by hand: PLAN_FP.json records
per query ``{"fp": ..., "since": N}``, where ``since`` is the round
from which that plan fingerprint is current (stamped by
``tools/plan_fingerprints.py --write`` on changed or new fingerprints
only). A query is active for re-verification while its latest driver
evidence round is below its ``since``; the first driver row of round
``since`` or later drains it.

``--apply`` rewrites the ``_R{N}_WINDOW`` list in __spark_entry__.py
(which reorders queries()); the prose comment above it and VERIFIED.md
are updated by hand. A plan-changing commit therefore runs

    python tools/plan_fingerprints.py --write <names>
    python tools/rotate_window.py --apply

Usage: python tools/rotate_window.py [--window 50] [--apply]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SENTINELS = ["flagship_related_flat", "attribution_join", "delta_except"]

# Window-debt policy (VERDICT r9 item 8, documented in VERIFIED.md):
# with a 50-slot driver window, oldest-first rotation bounds every
# query's evidence at ceil(Q/50) rounds. The registry is capped so
# that bound never exceeds this constant; the tool refuses to plan
# past it, and tests/test_window_rotation.py pins the same cap.
MAX_STALENESS_ROUNDS = 6


def classify(repo_root: str, upto: int | None = None):
    """Classify every registry query by its latest driver evidence.

    ``upto``: only consider CORRECTNESS rounds strictly BELOW this
    number. The window for round N is planned from evidence through
    round N-1, so passing ``upto=N`` reproduces that plan even after
    CORRECTNESS_r{N}.json itself lands (ADVICE r8: the invariant test
    must not go red the moment the current round's results file
    appears in the working tree).
    """
    import __spark_entry__ as e

    names = list(e.queries().keys())
    rounds = sorted(
        glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    latest: dict[str, tuple[int, str]] = {}  # name -> (round, 'green'|'red')
    for path in rounds:
        rnum = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        if upto is not None and rnum >= upto:
            continue
        with open(path) as f:
            data = json.load(f)
        for name, row in data.items():
            if name not in names or row is None:
                continue
            if row.get("err") == "no_oracle":
                # rows-only row from an older round (the registry has
                # had zero rows-only queries since r8: hll_user_rollup
                # gained an executable accuracy contract and
                # multimodal_decode a byte-histogram oracle): treat the
                # historical weaker pass as green-tier evidence
                latest[name] = (rnum, "rows-only")
            elif row.get("err"):
                latest[name] = (rnum, "red")
            elif row.get("rows_match") and row.get("hash_match") in (True, None):
                latest[name] = (rnum, "green")
            else:
                latest[name] = (rnum, "red")
    return names, latest


def read_plan_fp(repo_root: str) -> dict[str, dict]:
    """PLAN_FP.json: query -> {"fp": its plan fingerprint, "since":
    the round from which that form is current}; {} when absent."""
    path = os.path.join(repo_root, "PLAN_FP.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def since_rounds(repo_root: str) -> dict[str, int]:
    return {n: v["since"] for n, v in read_plan_fp(repo_root).items()}


def active_reverify(latest, since) -> set:
    """Driver-verified queries whose latest evidence round is below
    the round their current form dates from (a query with no driver
    row ranks as never-verified instead)."""
    return {n for n, s in since.items() if n in latest and latest[n][0] < s}


def plan(names, latest, window: int, since):
    red = [n for n in names if latest.get(n, (0, ""))[1] == "red"]
    red_set = set(red)
    # re-verification pool: the old evidence of a form-changed query
    # attests a query that no longer exists, so it ranks just below
    # red — ahead of never-verified — until a newer driver row lands
    active = active_reverify(latest, since)
    rev = [n for n in names if n in active and n not in red_set]
    never = [n for n in names if n not in latest]
    # rows-only evidence (historical `err=no_oracle` rows that have
    # since gained a real oracle) is weaker than hash-green: drain it
    # right after never-verified so converted queries earn a full
    # hash row in the very next window (VERDICT r8 item 1).
    rows_only = sorted(
        (n for n in names if latest.get(n, (0, ""))[1] == "rows-only"),
        key=lambda n: latest[n][0],
    )
    greens = sorted(
        (n for n in names if latest.get(n, (0, ""))[1] == "green"),
        key=lambda n: latest[n][0],  # oldest evidence first
    )
    chosen: list[str] = []
    for pool in ([s for s in SENTINELS if s in names], red, rev, never, rows_only, greens):
        for n in pool:
            if n not in chosen and len(chosen) < window:
                chosen.append(n)
    return chosen


def current_round(repo_root: str) -> int:
    """Rounds are numbered by driver output: the next round is
    1 + the highest CORRECTNESS_r{N}.json present."""
    rounds = [
        int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
        for p in glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))
    ]
    return (max(rounds) + 1) if rounds else 1


def max_staleness(n_queries: int, window: int) -> int:
    """The rotation bound the ledger promises: with W slots per round
    over Q queries, oldest-evidence-first rotation keeps every
    query's driver evidence within ceil(Q/W) rounds."""
    return -(-n_queries // window)


def apply_window(repo_root: str, chosen: list[str], rnd: int) -> str:
    """Rewrite the ``_R{N}_WINDOW`` block in __spark_entry__.py in
    place (list literal only — the explanatory comment above it is
    updated by hand), retarget the queries() reorder line, and empty
    ``_STAGED``: the plan ranks staged queries like any other, so they
    drain into this window. Returns the new variable name."""
    path = os.path.join(repo_root, "__spark_entry__.py")
    with open(path) as f:
        src = f.read()
    m = re.search(r"_R(\d+)_WINDOW = \[[^\]]*\]", src, re.S)
    if not m:
        raise SystemExit("no _R{N}_WINDOW block found")
    new_name = f"_R{rnd}_WINDOW"
    body = "\n".join(f'    "{n}",' for n in chosen)
    src = src[: m.start()] + f"{new_name} = [\n{body}\n]" + src[m.end():]
    src = re.sub(r"_R\d+_WINDOW\)", f"{new_name})", src)
    src = re.sub(r"for name in _R\d+_WINDOW", f"for name in {new_name}", src)
    src = re.sub(r"(_STAGED\b[^=\n]*= )\[[^\]]*\]", r"\1[]", src)
    with open(path, "w") as f:
        f.write(src)
    return new_name


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--window", type=int, default=50)
    ap.add_argument(
        "--apply",
        action="store_true",
        help="rewrite the _R{N}_WINDOW list in __spark_entry__.py "
        "with the planned window for the upcoming round",
    )
    args = ap.parse_args()
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rnd = current_round(repo_root)
    names, latest = classify(repo_root, upto=rnd)
    bound = max_staleness(len(names), args.window)
    if bound > MAX_STALENESS_ROUNDS:
        sys.exit(
            f"registry debt cap exceeded: {len(names)} queries / "
            f"{args.window} slots -> staleness bound {bound} rounds "
            f"> {MAX_STALENESS_ROUNDS} (policy: VERIFIED.md). Retire "
            f"queries or grow the driver window before adding more."
        )
    since = since_rounds(repo_root)
    chosen = plan(names, latest, args.window, since)
    active = active_reverify(latest, since)
    print(f"# proposed window ({len(chosen)} of {len(names)} queries)")
    for n in chosen:
        rnum, state = latest.get(n, (None, "never"))
        tag = f"r{rnum}:{state}" if rnum else "never-verified"
        if n in active:
            tag += " (form changed — reverify)"
        print(f"{n:40s} {tag}")
    outside = [n for n in names if n not in chosen]
    stale = [n for n in outside if n not in latest]
    if stale:
        print(f"\n# WARNING: {len(stale)} never-verified queries did NOT fit:")
        for n in stale:
            print(f"  {n}")
    if args.apply:
        name = apply_window(repo_root, chosen, rnd)
        print(f"\n# applied: {name} rewritten in __spark_entry__.py")


if __name__ == "__main__":
    main()
