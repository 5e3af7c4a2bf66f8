"""Unit tests for the rotation tool's pure window derivation
(tools/rotate_window.py, VERDICT r07 item 7) — the logic that twice
shipped broken when done by hand (r06 stale inventory, r07 phantom
names) — plus an end-to-end --check that the committed registry state IS
the ledger-derived window.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
from rotate_window import derive_window  # noqa: E402

sys.path.pop(0)


REG = [f"q{i:02d}" for i in range(12)]


def test_stale_and_new_fill_the_window_stalest_first():
    # round 8: r05 rows are 3 rounds stale (mandatory), r06/r07 are not
    ledger = {n: 7 for n in REG}
    ledger.update({"q01": 5, "q02": 6, "q03": 5, "q04": 4})
    window = derive_window(REG, ledger, 8, defer=[], window_size=6)
    # mandatory, stalest first: q04 (r04), then q01/q03 (r05, registry
    # order); filler: q02 (r06) before any r07 entry
    assert window[:4] == ["q04", "q01", "q03", "q02"]
    assert len(window) == 6


def test_never_certified_are_mandatory():
    ledger = {n: 7 for n in REG[:10]}  # q10, q11 never certified
    window = derive_window(REG, ledger, 8, defer=[], window_size=4)
    assert "q10" in window and "q11" in window


def test_filler_slots_go_to_next_stalest():
    ledger = {n: 7 for n in REG}
    ledger["q05"] = 6  # not yet at the deadline, but the stalest
    window = derive_window(REG, ledger, 8, defer=[], window_size=3)
    assert len(window) == 3
    assert window[0] == "q05"


def test_overcommit_raises_with_candidates():
    ledger = {n: 5 for n in REG[:8]}  # 8 stale + 4 new > 10 slots
    with pytest.raises(SystemExit, match="over-committed"):
        derive_window(REG, ledger, 8, defer=[], window_size=10)


def test_overcommit_resolved_by_deferring_new():
    ledger = {n: 5 for n in REG[:8]}
    window = derive_window(
        REG, ledger, 8, defer=["q10", "q11"], window_size=10
    )
    assert len(window) == 10
    assert "q10" not in window and "q11" not in window


def test_defer_unknown_name_raises():
    with pytest.raises(SystemExit, match="not registered"):
        derive_window(REG, {}, 8, defer=["nope"], window_size=50)


def test_defer_certified_name_raises():
    ledger = {"q00": 5}
    with pytest.raises(SystemExit, match="not by fiat"):
        derive_window(REG, ledger, 8, defer=["q00"], window_size=50)


def test_retired_excluded_from_mandatory_and_filler():
    # q01 is 3 rounds stale (mandatory if active) and q05 is the stalest
    # filler candidate — retiring both must keep them out of the window
    # without tripping the over-commit check they would otherwise force.
    ledger = {n: 7 for n in REG}
    ledger.update({"q01": 5, "q02": 5, "q05": 6})
    window = derive_window(
        REG, ledger, 8, defer=[], window_size=2, retired=("q01", "q05")
    )
    assert window[0] == "q02"  # the remaining stale entry
    assert "q01" not in window and "q05" not in window
    assert len(window) == 2


def test_retired_never_certified_raises():
    ledger = {n: 7 for n in REG if n != "q03"}
    with pytest.raises(SystemExit, match="never-certified"):
        derive_window(REG, ledger, 8, defer=[], window_size=6,
                      retired=("q03",))


def test_retired_unknown_name_raises():
    with pytest.raises(SystemExit, match="not registered"):
        derive_window(REG, {"q00": 7}, 8, defer=[], window_size=6,
                      retired=("nope",))


def test_retired_and_deferred_overlap_raises():
    ledger = {"q00": 7}
    with pytest.raises(SystemExit, match="both retired and deferred"):
        derive_window(REG, ledger, 8, defer=["q00"], window_size=6,
                      retired=("q00",))


def test_committed_rotation_matches_ledger_derivation():
    """--check end-to-end: the DRIVER_PRIORITY/WINDOW_DEFERRED actually
    committed in registry.py must equal what the tool derives from the
    on-disk CORRECTNESS ledger — a hand-edit that drifts from the ledger
    math fails here."""
    from filmdatawarehouse_spark.queries.registry import (
        CURRENT_ROUND,
        WINDOW_DEFERRED,
    )

    res = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "rotate_window.py"),
            "--round",
            str(CURRENT_ROUND),
            "--defer",
            ",".join(WINDOW_DEFERRED),
            "--check",
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert res.returncode == 0, f"rotation drift:\n{res.stdout}\n{res.stderr}"


def test_derive_window_invariants_random_ledgers():
    """Property sweep over random ledgers/retirement sets: the derived
    window always (a) has exactly window_size entries when enough active
    names exist, (b) contains every at-deadline active entry and every
    never-certified non-deferred active entry, (c) never contains a
    retired or deferred name, and (d) is a pure function of its inputs
    (same inputs -> same window)."""
    import random

    rng = random.Random(20260814)
    reg = [f"q{i:02d}" for i in range(30)]
    for trial in range(200):
        target = rng.randint(5, 12)
        ledger = {
            n: rng.randint(1, target - 1)
            for n in reg
            if rng.random() < 0.8
        }
        certified = [n for n in reg if n in ledger]
        never = [n for n in reg if n not in ledger]
        retired = tuple(
            rng.sample(certified, k=min(len(certified), rng.randint(0, 3)))
        )
        defer_pool = [n for n in never]
        defer = rng.sample(defer_pool, k=min(len(defer_pool), rng.randint(0, 2)))
        wsize = rng.randint(8, 20)
        try:
            w1 = derive_window(reg, ledger, target, defer, wsize, retired)
            w2 = derive_window(reg, ledger, target, defer, wsize, retired)
        except SystemExit:
            # over-commit: mandatory really must exceed the window
            active = [n for n in reg if n not in retired]
            stale = [
                n for n in active
                if n in ledger and ledger[n] <= target - 3
            ]
            nvr = [n for n in active if n not in ledger and n not in defer]
            assert len(stale) + len(nvr) > wsize
            continue
        assert w1 == w2  # deterministic
        assert len(w1) == min(wsize, len([n for n in reg if n not in retired and n not in defer]))
        assert len(set(w1)) == len(w1)
        for n in w1:
            assert n not in retired and n not in defer
        for n in reg:
            if n in retired or n in defer:
                continue
            at_deadline = n in ledger and ledger[n] <= target - 3
            never_seen = n not in ledger
            if at_deadline or never_seen:
                assert n in w1, (trial, n, ledger.get(n), target)


def test_include_takes_priority_filler_slots():
    # r17: --include re-certifies changed paths ahead of staleness math
    ledger = {n: 7 for n in REG}
    ledger["q05"] = 6  # stalest filler candidate
    window = derive_window(
        REG, ledger, 8, defer=[], window_size=3, include=["q09"]
    )
    assert window[0] == "q09"  # included before the stalest filler
    assert "q05" in window


def test_include_duplicate_name_takes_one_slot():
    ledger = {n: 7 for n in REG}
    ledger["q05"] = 6
    window = derive_window(
        REG, ledger, 8, defer=[], window_size=3,
        include=["q09", "q10", "q09"],
    )
    assert window == ["q09", "q10", "q05"]


def test_include_validates_names_and_capacity():
    import pytest as _pytest

    ledger = {n: 7 for n in REG}
    with _pytest.raises(SystemExit, match="not registered"):
        derive_window(REG, ledger, 8, defer=[], window_size=3,
                      include=["nope"])
    with _pytest.raises(SystemExit, match="retired"):
        derive_window(REG, ledger, 8, defer=[], window_size=3,
                      include=["q02"], retired=("q02",))
    stale_ledger = {n: 5 for n in REG[:3]}
    stale_ledger.update({n: 7 for n in REG[3:]})
    with _pytest.raises(SystemExit, match="overflows"):
        derive_window(REG, stale_ledger, 8, defer=[], window_size=3,
                      include=["q09"])
