#!/usr/bin/env python
"""Emit the computed driver-window state (VERDICT r11 ask #5: the
queue count is GENERATED, never hand-typed — ROADMAP cites this
script's output).

Prints, from the committed CORRECTNESS_r*.json history and the live
registry:
  - registry size,
  - the never-driver-checked queue (count + names, registration order),
  - any latest-row-failed names,
  - this round's computed 50-slot window,
  - the PREDICTED next-round window, assuming the driver lands a green
    CORRECTNESS row for every name in the current window (the
    auto-advance contract pinned by tests/test_window_rotation.py).
"""

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from impractical_impala_spark.queries import CHANGED_THIS_ROUND  # noqa: E402
from impractical_impala_spark.registry import registered_names  # noqa: E402
from impractical_impala_spark.window import (  # noqa: E402
    changed_lead, computed_window, driver_history)


def queue_state(root: Path = REPO) -> dict:
    names = registered_names()
    hist = driver_history(root)
    never = [n for n in names if n not in hist]
    failed = [n for n in names if n in hist and not hist[n][1]]
    window = computed_window(names, CHANGED_THIS_ROUND, root=root)

    # predicted next window: every current-window name gets a green row
    # in a synthetic round newer than anything in the history, then the
    # SAME ordering implementation recomputes (ADVICE r12: inject the
    # synthetic history into computed_window instead of re-implementing
    # the priority rules here).
    nxt_round = 1 + max(
        (r for r, _ in hist.values()), default=0)
    synth = dict(hist)
    for n in window:
        synth[n] = (nxt_round, True)
    predicted = computed_window(
        names, CHANGED_THIS_ROUND, root=root, history=synth)

    return {
        "registry": len(names),
        "never_checked": never,
        "never_checked_count": len(never),
        "latest_row_failed": failed,
        "changed_this_round": dict(CHANGED_THIS_ROUND),
        "changed_still_leading": changed_lead(
            names, CHANGED_THIS_ROUND, hist),
        "window": window,
        "predicted_next_window": predicted,
        "predicted_next_window_stalest_round": (
            min(synth[n][0] for n in predicted if n in synth)
            if predicted and all(n in synth for n in predicted) else None),
    }


def main() -> None:
    state = queue_state()
    print(json.dumps(state, indent=1))


if __name__ == "__main__":
    main()
