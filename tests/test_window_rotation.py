"""Contract tests for the data-driven driver window (window.py).

Round 10 proved the hand-maintained window's failure mode: a round
with no commits re-spends all 50 driver slots re-proving already-green
rows while 80 never-checked queries wait. The window is now a pure
function of (committed CORRECTNESS history, registration order, the
``CHANGED_THIS_ROUND`` name -> as-of round mapping); the hand-kept
window lists are gone from queries/__init__.py. These tests pin that
function's priority semantics against synthetic histories AND pin the
live window against the repo's real committed history.
"""

import json
from pathlib import Path

from impractical_impala_spark.queries import CHANGED_THIS_ROUND, WINDOW
from impractical_impala_spark.registry import all_queries, registered_names
from impractical_impala_spark.window import (
    WINDOW_SLOTS, changed_lead, computed_window, driver_history)


# ------------------------------------------------------- live window
def test_live_window_shape():
    qs = all_queries()
    assert len(WINDOW) == WINDOW_SLOTS
    assert len(set(WINDOW)) == WINDOW_SLOTS
    for name in WINDOW:
        assert name in qs, f"window name {name} not registered"
    # the driver reads the first 50 of all_queries() — identical
    assert list(qs)[:WINDOW_SLOTS] == WINDOW


def test_live_window_prioritizes_never_checked():
    """While the never-checked queue holds >= 50 names, every window
    slot (past the still-ACTIVE changed names) must be a never-checked
    name; once the queue drains below 50, the remainder must be
    failed-then-stalest-green. This is the idle-round-proof property:
    re-importing after the driver commits a new CORRECTNESS file
    advances the window automatically."""
    hist = driver_history()
    names = registered_names()
    lead = changed_lead(names, CHANGED_THIS_ROUND, hist)
    never = [n for n in names
             if n not in hist and n not in lead]
    tail = WINDOW[len(lead):]
    if len(never) >= len(tail):
        assert tail == never[:len(tail)]
    else:
        assert tail[:len(never)] == never


def test_no_registered_query_has_a_latest_fail_row():
    """VERDICT r10 ask #3: zero error rows anywhere in the registry's
    latest driver evidence. The three no_oracle FAIL carriers
    (o22_hp_detrend_sd, q_approx_distinct, q_approx_percentile) were
    deregistered in favor of their hash-evidence twins; any FUTURE
    registered query whose latest row is red must sit in the window
    (priority 3) until it goes green."""
    hist = driver_history()
    qs = all_queries()
    red = [n for n in qs if n in hist and not hist[n][1]]
    for name in red:
        assert name in WINDOW, (
            f"{name}'s latest driver row is a failure but it is not in "
            "the re-check window")
    # current state: nothing red at all
    assert red == [], f"registered queries with latest-row FAIL: {red}"


def test_hand_lists_do_not_feed_the_window():
    """The r10 verdict's done-criterion: the window is computable from
    history + registration order + CHANGED_THIS_ROUND alone — byte-for-
    byte, with no reference to the historical wave lists in
    queries/__init__.py."""
    assert WINDOW == computed_window(registered_names(), CHANGED_THIS_ROUND)


def test_next_round_window_advances_automatically(tmp_path):
    """Verdict r10 ask #6, made structural: simulate the driver
    committing a green CORRECTNESS_r11 for the current window and
    recompute — the next window must lead with the REMAINING
    never-checked names (no hand edit), then fill with stalest-green
    re-proofs."""
    import shutil

    for p in REPO_HISTORY:
        shutil.copy(p, tmp_path / p.name)
    next_round = max(int(p.name[13:-5]) for p in REPO_HISTORY) + 1
    _write_round(tmp_path, next_round, {
        n: {"hash_match": True, "rows_match": True, "err": None}
        for n in WINDOW})
    names = registered_names()
    nxt = computed_window(names, {}, root=tmp_path)
    hist = driver_history(tmp_path)
    still_never = [n for n in names if n not in hist]
    assert nxt[:len(still_never)] == still_never[:WINDOW_SLOTS]
    # any remaining slots re-prove the stalest green evidence first
    fill = nxt[len(still_never):]
    if fill:
        rounds = [hist[n][0] for n in fill]
        assert rounds == sorted(rounds)
        others = [hist[n][0] for n in names
                  if n in hist and n not in set(nxt)]
        assert not others or max(rounds) <= min(others)


def test_r13_window_is_stalest_green_reproofs(tmp_path):
    """VERDICT r11 ask #4: once the driver lands green rows for the
    whole r12 window (which drains the never-checked queue to zero),
    the NEXT window must be pure stalest-green re-proof — the 50 oldest
    green rows, ascending latest-round then registration order — so
    fixture drift cannot silently rot old evidence. Also pins that the
    queue actually empties: the r12 window contains every
    never-checked name."""
    import shutil

    for p in REPO_HISTORY:
        shutil.copy(p, tmp_path / p.name)
    names = registered_names()
    hist = driver_history(tmp_path)
    never = [n for n in names if n not in hist]
    # the r12 window must hold the ENTIRE residual queue (<= 50 now)
    assert len(never) <= WINDOW_SLOTS
    assert set(never) <= set(WINDOW), (
        "never-checked names missing from the r12 window: "
        f"{sorted(set(never) - set(WINDOW))}")
    next_round = max(int(p.name[13:-5]) for p in REPO_HISTORY) + 1
    _write_round(tmp_path, next_round, {
        n: {"hash_match": True, "rows_match": True, "err": None}
        for n in WINDOW})
    hist2 = driver_history(tmp_path)
    assert [n for n in names if n not in hist2] == [], (
        "queue did not drain after a green r12 window")
    nxt = computed_window(names, {}, root=tmp_path)
    pos = {n: i for i, n in enumerate(names)}
    expect = sorted(names, key=lambda n: (hist2[n][0], pos[n]))
    assert nxt == expect[:WINDOW_SLOTS]
    # every name in the predicted r13 window is strictly staler than
    # every name outside it (round-level: max inside <= min outside)
    inside = max(hist2[n][0] for n in nxt)
    outside = min(hist2[n][0] for n in names if n not in set(nxt))
    assert inside <= outside


def test_queue_script_matches_window_module(tmp_path):
    """ROADMAP cites scripts/window_queue.py output (VERDICT r11 ask
    #5); the script must agree with the window module byte for byte."""
    import scripts.window_queue as wq

    state = wq.queue_state()
    assert state["registry"] == len(registered_names())
    assert state["window"] == WINDOW
    hist = driver_history()
    assert state["never_checked"] == [
        n for n in registered_names() if n not in hist]
    assert state["never_checked_count"] == len(state["never_checked"])


REPO_HISTORY = sorted(
    (Path(__file__).resolve().parent.parent).glob("CORRECTNESS_r*.json"))


# --------------------------------------------------- priority semantics
def _write_round(tmp_path, rnd, rows):
    (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def test_priority_order_on_synthetic_history(tmp_path):
    reg = ["a", "b", "c", "d", "e", "f"]
    _write_round(tmp_path, 1, {
        "a": {"hash_match": True, "rows_match": True, "err": None},
        "b": {"hash_match": False, "rows_match": True, "err": None},
        "c": {"hash_match": False, "rows_match": False, "err": "boom"},
    })
    _write_round(tmp_path, 2, {
        "a": {"hash_match": True, "rows_match": True, "err": None},
    })
    # changed 'f' leads; never-checked d, e in registration order; then
    # the failed rows b (explicit hash mismatch — NOT green even with
    # rows_match, ADVICE r11) and c (error), registration order; then
    # green a
    assert computed_window(reg, {"f": 0}, slots=6, root=tmp_path) == \
        ["f", "d", "e", "b", "c", "a"]
    # a later GREEN row overrides an earlier fail, not vice versa
    _write_round(tmp_path, 3, {
        "c": {"hash_match": True, "rows_match": True, "err": None},
    })
    assert computed_window(reg, {}, slots=6, root=tmp_path) == \
        ["d", "e", "f", "b", "a", "c"]


def test_rows_only_green_requires_absent_hash_evidence(tmp_path):
    """ADVICE r11: rows_match-green counts as green ONLY when hash
    evidence is absent (hash_match missing or null). An explicit
    hash_match=false is a recorded value mismatch — rows counted equal
    but content differed — and must stay in the window as a failure."""
    reg = ["a", "b", "c", "d"]
    _write_round(tmp_path, 1, {
        "a": {"rows_match": True, "err": None},               # rows-only green
        "b": {"hash_match": None, "rows_match": True, "err": None},  # ditto
        "c": {"hash_match": False, "rows_match": True, "err": None},  # FAIL
        "d": {"hash_match": None, "rows_match": True, "err": "no_oracle"},  # FAIL
    })
    # failed c, d (registration order) ahead of the rows-only greens
    assert computed_window(reg, {}, slots=4, root=tmp_path) == \
        ["c", "d", "a", "b"]


def test_changed_name_retires_once_green_postdates_change(tmp_path):
    """VERDICT r12 ask #1: a CHANGED_THIS_ROUND entry (``name -> as-of
    round``) must drop out of the window lead AUTOMATICALLY once the
    driver lands a green row in a round strictly newer than the as-of —
    no round-open hand edit. Until then (or after a non-green row) it
    keeps leading."""
    reg = ["a", "b", "c", "d"]
    _write_round(tmp_path, 11, {
        n: {"hash_match": True, "rows_match": True, "err": None}
        for n in reg})
    # change landed while r11 was the newest evidence -> leads
    assert computed_window(reg, {"c": 11}, slots=4, root=tmp_path) == \
        ["c", "a", "b", "d"]
    # green r12 row postdates the change -> retired to ordinary green
    # (freshest evidence, so it sorts LAST, not first)
    _write_round(tmp_path, 12, {
        "c": {"hash_match": True, "rows_match": True, "err": None}})
    assert computed_window(reg, {"c": 11}, slots=4, root=tmp_path) == \
        ["a", "b", "d", "c"]
    # a NON-green newer row does not retire the change; priority-1 lead
    # and priority-3 failure agree the name must be checked
    _write_round(tmp_path, 13, {
        "c": {"hash_match": False, "rows_match": True, "err": None}})
    assert computed_window(reg, {"c": 12}, slots=4, root=tmp_path) == \
        ["c", "a", "b", "d"]


def test_reproof_failure_holds_the_window(tmp_path):
    """VERDICT r12 ask #5, in r13's exact shape: the queue is fully
    drained (every name green), the window is pure stalest-green
    re-proof, and one re-proof comes back ``hash_match: false`` (the
    fixture-drift residual risk). The next window must HOLD that name —
    ahead of every green re-proof — until it is re-green."""
    reg = [f"q{i:02d}" for i in range(8)]
    _write_round(tmp_path, 3, {
        n: {"hash_match": True, "rows_match": True, "err": None}
        for n in reg[:4]})
    _write_round(tmp_path, 12, {
        n: {"hash_match": True, "rows_match": True, "err": None}
        for n in reg[4:]})
    # r13 window = stalest-green re-proofs, registration order
    assert computed_window(reg, {}, slots=4, root=tmp_path) == reg[:4]
    # the driver re-proves them; q01 regresses (equal rows, wrong hash)
    _write_round(tmp_path, 13, {
        "q00": {"hash_match": True, "rows_match": True, "err": None},
        "q01": {"hash_match": False, "rows_match": True, "err": None},
        "q02": {"hash_match": True, "rows_match": True, "err": None},
        "q03": {"hash_match": True, "rows_match": True, "err": None},
    })
    nxt = computed_window(reg, {}, slots=4, root=tmp_path)
    assert nxt[0] == "q01", "failed re-proof must lead the next window"
    assert nxt == ["q01", "q04", "q05", "q06"]


def test_unknown_changed_names_are_ignored(tmp_path):
    reg = ["a", "b"]
    assert computed_window(reg, {"zz": 0, "b": 0}, slots=2, root=tmp_path) == \
        ["b", "a"]


def test_empty_history_means_registration_order(tmp_path):
    reg = [f"q{i}" for i in range(8)]
    assert computed_window(reg, {}, slots=5, root=tmp_path) == reg[:5]


def test_corrupt_history_file_is_skipped(tmp_path):
    reg = ["a", "b"]
    (tmp_path / "CORRECTNESS_r01.json").write_text("{not json")
    _write_round(tmp_path, 2, {
        "a": {"hash_match": True, "rows_match": True, "err": None}})
    assert computed_window(reg, {}, slots=2, root=tmp_path) == ["b", "a"]
