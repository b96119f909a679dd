"""Driver-window rotation invariants (VERDICT r7 item 6).

The driver oracle-checks only the FIRST 50 entries of
``__spark_entry__.queries()``; ``tools/rotate_window.py --apply``
regenerates the ``_R{N}_WINDOW`` block from the CORRECTNESS_r*.json
ledger. These tests make the rotation discipline executable:

* the active window is exactly the tool's plan for the upcoming
  round (never-verified first, then oldest evidence) — a manual edit
  that drops a stale query fails here, not in a judge review;
* the staleness bound holds: with Q registry queries and 50 slots,
  oldest-first rotation keeps every query's driver evidence within
  ceil(Q/50) rounds — no query outside the window (and outside the
  explicit ``_STAGED`` list for this round's additions) may be older
  than that;
* every never-driver-verified query is either in the window or
  staged — the round-7 "6 queries silently missed the window" gap
  class cannot recur;
* every query whose form is newer than its latest driver row
  (PLAN_FP.json ``since``) is in the window, and the plan for the
  upcoming round holds every such query — so a window that
  ``--apply`` writes passes these tests without hand edits.

No SparkSession needed: queries() builds a dict of callables.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402


def _rw():
    spec = importlib.util.spec_from_file_location(
        "rotate_window", os.path.join(REPO, "tools", "rotate_window.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def ledger():
    """Ledger AS OF the active window's round: only CORRECTNESS
    rounds strictly below the window round count. This keeps the
    invariants stable when the current round's results file lands in
    the working tree (ADVICE r8 item 4 — previously the suite went
    red the moment CORRECTNESS_r{N}.json for the window's own round
    appeared, because the plan input advanced under the test)."""
    rw = _rw()
    rnd, _ = _active_window()
    names, latest = rw.classify(REPO, upto=rnd)
    return rw, names, latest


def _active_window():
    rnd = max(
        int(k[2:-7]) for k in vars(entry) if k.startswith("_R") and k.endswith("_WINDOW")
    )
    return rnd, list(getattr(entry, f"_R{rnd}_WINDOW"))


def test_window_shape(ledger):
    rw, names, latest = ledger
    rnd, window = _active_window()
    assert len(window) == 50
    assert len(set(window)) == 50, "window has duplicate entries"
    missing = [n for n in window if n not in names]
    assert not missing, f"window names not in registry: {missing}"
    for s in rw.SENTINELS:
        assert s in window, f"sentinel {s} missing from window"


def test_window_matches_plan(ledger):
    """The applied window must be byte-identical to the tool's plan —
    the rotation is generated, not hand-curated. Staged queries are
    the one sanctioned divergence: they are new this round, so the
    planner (which sees them as never-verified) would pull them in,
    but the staging discipline defers them to the NEXT round."""
    rw, names, latest = ledger
    rnd, window = _active_window()
    staged = set(entry._STAGED)
    plannable = [n for n in names if n not in staged]
    expected = rw.plan(plannable, latest, 50, rw.since_rounds(REPO))
    assert window == expected, (
        "active window diverges from tools/rotate_window.py plan; "
        "re-run `python tools/rotate_window.py --apply`"
    )


def test_staleness_bound(ledger):
    """No registry query's driver evidence may be older than
    ceil(Q/50) rounds, once the active window (about to refresh) and
    the explicitly staged additions are excluded."""
    rw, names, latest = ledger
    rnd, window = _active_window()
    bound = rw.max_staleness(len(names), 50)
    cur = rnd  # evaluate as of the window's round, not the live ledger
    staged = set(entry._STAGED) | set(window)
    too_old = {
        n: latest[n][0]
        for n in names
        if n not in staged and n in latest and cur - latest[n][0] > bound
    }
    assert not too_old, (
        f"driver evidence older than {bound} rounds (current={cur}): {too_old}"
    )


def test_never_verified_all_covered(ledger):
    """Every query with NO driver row ever is in the window or in
    _STAGED — the r7 'silently unstaged additions' gap class."""
    rw, names, latest = ledger
    rnd, window = _active_window()
    staged = set(entry._STAGED) | set(window)
    orphans = [n for n in names if n not in latest and n not in staged]
    assert not orphans, f"never-driver-verified queries unplaced: {orphans}"


def test_staged_names_resolve(ledger):
    rw, names, latest = ledger
    bad = [n for n in entry._STAGED if n not in names]
    assert not bad, f"_STAGED names not in registry: {bad}"


def test_reverify_names_resolve_and_are_windowed(ledger):
    """Every PLAN_FP.json ``since`` entry resolves in the registry, and
    every query whose registered form is newer than its latest driver
    row (as of the window's round) sits in the active window — a
    form-changed query left outside would carry stale-form evidence
    forward."""
    rw, names, latest = ledger
    rnd, window = _active_window()
    since = rw.since_rounds(REPO)
    bad = [n for n in since if n not in names]
    assert not bad, f"PLAN_FP.json names not in registry: {bad}"
    unwindowed = sorted(rw.active_reverify(latest, since) - set(window))
    assert not unwindowed, (
        f"form-changed queries missing from window: {unwindowed}; "
        "re-run `python tools/rotate_window.py --apply`"
    )


def test_next_round_plan_holds_every_active_reverify():
    """The window `tools/rotate_window.py --apply` would write for the
    upcoming round, planned from the live ledger, holds every query
    still due for re-verification in that round — so applying it
    needs no hand edit of a re-verify registry (drained entries leave
    the pool by themselves once a newer driver row lands)."""
    rw = _rw()
    rnd = rw.current_round(REPO)
    names, latest = rw.classify(REPO, upto=rnd)
    since = rw.since_rounds(REPO)
    plannable = [n for n in names if n not in set(entry._STAGED)]
    chosen = rw.plan(plannable, latest, 50, since)
    due = rw.active_reverify(latest, since)
    assert due <= set(chosen), (
        f"round-{rnd} plan drops re-verify queries: {sorted(due - set(chosen))}"
    )


def test_apply_window_rewrites_block(tmp_path):
    """`rotate_window.apply_window` rewrites the _R{N}_WINDOW block by
    regex — pin it against a miniature entry file in the CURRENT
    format (r9 split the real file; this guards the regexes against
    format drift without touching the repo's own entry file)."""
    rw = _rw()
    fake = tmp_path / "__spark_entry__.py"
    fake.write_text(
        "# header\n"
        "_R8_WINDOW = [\n"
        '    "a",\n'
        '    "b",\n'
        "]\n"
        "_STAGED: list = [\n"
        '    "s",\n'
        "]\n"
        "def queries():\n"
        "    all_q = {}\n"
        "    out = {name: all_q[name] for name in _R8_WINDOW}\n"
        "    for name in _R8_WINDOW:\n"
        "        pass\n"
        "    return out\n"
    )
    name = rw.apply_window(str(tmp_path), ["x", "y", "z"], 9)
    assert name == "_R9_WINDOW"
    src = fake.read_text()
    assert '_R9_WINDOW = [\n    "x",\n    "y",\n    "z",\n]' in src
    assert "for name in _R9_WINDOW" in src
    assert "_R8_WINDOW" not in src
    # staged queries drain into the new window: the list is emptied
    assert "_STAGED: list = []\n" in src and '"s"' not in src


def test_registry_debt_cap(ledger):
    """Window-debt policy (VERDICT r9 item 8, VERIFIED.md): with 50
    driver slots per round, the registry may not grow past the point
    where the rotation staleness bound exceeds MAX_STALENESS_ROUNDS.
    An over-cap query addition fails here the moment it is
    registered, independent of the rotation tool being re-run."""
    rw, names, latest = ledger
    bound = rw.max_staleness(len(names), 50)
    assert bound <= rw.MAX_STALENESS_ROUNDS, (
        f"registry has {len(names)} queries -> staleness bound {bound} "
        f"rounds > {rw.MAX_STALENESS_ROUNDS}; retire queries or grow "
        f"the driver window (policy: VERIFIED.md)"
    )


def test_reverify_drains_on_newer_evidence():
    """Re-verification is DERIVED from PLAN_FP.json's ``since`` (the
    round a query's current form dates from): a query is active while
    its latest driver evidence round is below ``since`` and drains by
    itself once a row of round ``since`` or later lands — no registry
    entry to delete, and a never-verified query ranks as
    never-verified, not as re-verify."""
    rw = _rw()
    sent = rw.SENTINELS[0]
    names = [sent, "a", "b", "c"]
    latest = {
        sent: (11, "green"),
        "a": (8, "green"),
        "b": (11, "green"),
        "c": (4, "green"),
    }
    since = {sent: 0, "a": 11, "b": 11, "c": 0, "new": 12}
    # a: evidence r8 < 11 -> active; b: evidence r11 >= 11 -> drained;
    # new: no driver row -> never-verified pool
    assert rw.active_reverify(latest, since) == {"a"}
    chosen = rw.plan(names, latest, window=3, since=since)
    # a (active reverify) outranks the much staler c; drained b falls
    # back to plain oldest-first and misses the 3-slot window
    assert chosen == [sent, "a", "c"]
