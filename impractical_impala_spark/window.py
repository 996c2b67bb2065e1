"""Data-driven driver-window rotation.

The correctness driver checks the FIRST 50 entries of ``all_queries()``
each round. Through round 9 that window was a hand-maintained list in
``queries/__init__.py``; round 10 demonstrated the failure mode — a
round that lands no commits silently re-spends all 50 slots re-proving
already-green rows while 80 never-checked queries wait (VERDICT r10,
"What's wrong" #2). The window is therefore now COMPUTED at import time
from the committed driver evidence itself (``CORRECTNESS_r*.json`` at
the repo root), so even an idle round drains the evidence queue:

1. names whose implementation changed this round — the only input the
   history cannot know; hand-declared per round in
   ``queries/__init__.py::CHANGED_THIS_ROUND`` as ``name -> as-of
   round`` (the newest committed CORRECTNESS round at the moment the
   change landed). A changed name drops out of the lead AUTOMATICALLY
   once a green driver row POSTDATES the change (VERDICT r12 "what's
   wrong" #1: a hand list left over from the previous round must not
   re-spend window slots on names whose change is already proven);
2. names with NO driver row in any committed round, registration order
   (first-exposure evidence is the gap every verdict ranks first);
3. names whose LATEST driver row is not green (error or mismatch) —
   a failure must stay in the window until it is fixed or the query is
   deregistered, never rotate out of sight;
4. green names, stalest evidence first (ascending latest round,
   registration order within a round) — re-proof pressure against
   fixture drift once the queue above is empty.

The window is a function of the history, the registration order and
``CHANGED_THIS_ROUND`` alone; the hand-kept lists of rounds 4-10 were
deleted from ``queries/__init__.py`` (they are in git history).
"""

from __future__ import annotations

import json
import re
from collections.abc import Mapping
from pathlib import Path
from types import MappingProxyType

WINDOW_SLOTS = 50

# Repo root: the package sits at <root>/impractical_impala_spark, and the
# driver's CORRECTNESS_r*.json evidence files live next to bench.py at
# <root>. The driver always imports the package from the repo checkout,
# so this resolution is stable.
_ROOT = Path(__file__).resolve().parents[1]


def driver_history(root: Path | None = None) -> dict[str, tuple[int, bool]]:
    """``name -> (latest round with a CORRECTNESS row, row was green)``.

    Green = ``hash_match`` true, or — ONLY when hash evidence is absent
    (``hash_match`` missing/null, the driver's weaker rows-only record)
    — ``rows_match`` true with a null ``err``. An EXPLICIT
    ``hash_match: false`` is a recorded value mismatch and is never
    green, whatever ``rows_match`` says (ADVICE r11: a genuine
    equal-row-count content mismatch must stay in the window, per
    priority rule 3, not rotate out as green). A missing or unparseable
    file is skipped — worst case the window over-prioritizes (treats a
    query as never checked), never under-prioritizes.
    """
    hist: dict[str, tuple[int, bool]] = {}
    for path in sorted((root or _ROOT).glob("CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            hm = row.get("hash_match")
            green = hm is True or (
                hm is None
                and bool(row.get("rows_match")) and not row.get("err"))
            prev = hist.get(name)
            if prev is None or rnd >= prev[0]:
                hist[name] = (rnd, green)
    return hist


def changed_lead(registered: list[str],
                 changed: Mapping[str, int],
                 hist: dict[str, tuple[int, bool]]) -> list[str]:
    """The still-ACTIVE changed names (window priority 1), in
    declaration order: registered, and not yet proven by a green driver
    row from a round strictly newer than the change's as-of round."""
    reg = set(registered)
    return [n for n, as_of in changed.items()
            if n in reg and not (
                n in hist and hist[n][1] and hist[n][0] > as_of)]


def computed_window(registered: list[str],
                    changed: Mapping[str, int] = MappingProxyType({}),
                    slots: int = WINDOW_SLOTS,
                    root: Path | None = None,
                    history: dict[str, tuple[int, bool]] | None = None,
                    ) -> list[str]:
    """The driver window: ``slots`` names in checking-priority order.

    ``registered`` is the registry's insertion order (ties break on it);
    ``changed`` maps this round's changed-implementation names to the
    newest committed CORRECTNESS round at change time (unknown names are
    ignored so a stale entry cannot crash the import — the registry
    itself raises on unknown WINDOW names later anyway). A changed name
    whose latest history row is GREEN and NEWER than its as-of round is
    already proven and falls through to ordinary green priority — the
    hand list self-retires without a round-open edit.

    ``history`` lets callers inject a synthetic evidence dict (ADVICE
    r12: scripts/window_queue.py's next-window prediction must reuse
    THIS ordering, not re-implement it); defaults to
    ``driver_history(root)``.
    """
    hist = history if history is not None else driver_history(root)
    pos = {n: i for i, n in enumerate(registered)}
    lead = changed_lead(registered, changed, hist)
    lead_set = set(lead)
    rest = [n for n in registered if n not in lead_set]
    never = [n for n in rest if n not in hist]
    failed = [n for n in rest if n in hist and not hist[n][1]]
    green = sorted((n for n in rest if n in hist and hist[n][1]),
                   key=lambda n: (hist[n][0], pos[n]))
    return (lead + never + failed + green)[:slots]
