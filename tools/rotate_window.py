#!/usr/bin/env python
"""Generate the round's certified-window rotation, deterministically.

The external driver certifies the FIRST 50 entries of
``__spark_entry__.queries()`` each round. This tool computes the next
``_PRIORITY`` window from the driver-pass record:

  slot 1        — the flagship repeat anchor (``mart_union_cast``).
  slots 2..50   — first-ever picks: names with NO passing entry in any
                  committed CORRECTNESS_r*.json (pass = rows_match and
                  hash_match true, err null — r10 ADVICE), oracle-backed
                  only (a no-oracle query can never convert a window
                  slot into a pass).

Pick order (all deterministic):
  1. repairs — names with a FAILED driver entry on record (they pass
     the local oracle now; a driver pass clears the record);
  2. the heavy families the r10 verdict named (streaming, then the
     substring/winnowing dedup battery) — costliest to re-verify later;
  3. breadth-first round-robin over the remaining families with
     certifiable backlog (alphabetical family order, alphabetical
     within family).

Emits the ``_PRIORITY`` tuple source on stdout and writes
``WINDOW_ROTATION.json`` — the rotation stamp the tripwire test keys
on: {round, window_sha, first_ever} where ``round`` is
max(committed CORRECTNESS round) + 1 and ``first_ever`` counts window
names with no pass in rounds < round (stable even after this round's
own CORRECTNESS file lands — that is the whole point).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

# repo root only — inserting the tools dir too would shadow repo-root
# modules on a name collision (r11 VERDICT hygiene item); the package
# import below is the same one the tests use
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_priority_window import (  # noqa: E402
    WINDOW,
    _correctness_files,
    _ever_driver_checked,
    _is_driver_pass,
    _load_correctness,
)

ANCHOR = "mart_union_cast"

# Verdict-named heavy families to lead the round-robin (r10 item 6):
# their members are the costliest to re-verify later.
LEAD_FAMILIES = ("streaming", "dedup")


def committed_round_max() -> int:
    rounds = [0]
    for f in _correctness_files():
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", f)
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds)


def ever_failed() -> set[str]:
    """Names whose ONLY driver record is a failure (oracle-backed)."""
    failed: set[str] = set()
    for f in _correctness_files():
        for name, entry in _load_correctness(f).items():
            if isinstance(entry, dict) and not _is_driver_pass(entry):
                if entry.get("err") != "no_oracle":
                    failed.add(name)
    return failed - _ever_driver_checked()


def window_sha(names) -> str:
    return hashlib.sha256("\n".join(names).encode()).hexdigest()[:16]


def rotate() -> list[str]:
    from ytspark.queries import registry

    reg = registry()
    passed = _ever_driver_checked()
    backlog = [
        n for n in reg
        if n not in passed and reg[n].oracle is not None and n != ANCHOR
    ]
    fams: dict[str, list[str]] = {}
    for n in backlog:
        fam = reg[n].tags[0] if reg[n].tags else "untagged"
        fams.setdefault(fam, []).append(n)
    for members in fams.values():
        members.sort()

    picks: list[str] = []

    def take(name: str) -> None:
        if name not in picks and len(picks) < WINDOW - 1:
            picks.append(name)

    # 1. repairs: failed-on-record, repaired locally — clear the record
    for n in sorted(ever_failed()):
        if n in backlog:
            take(n)
    # 2. verdict-named heavy families, whole certifiable roster
    for fam in LEAD_FAMILIES:
        for n in fams.get(fam, []):
            take(n)
    # 3. breadth-first round-robin (alphabetical families, then names)
    while len(picks) < WINDOW - 1:
        progressed = False
        for fam in sorted(fams):
            for n in fams[fam]:
                if n not in picks:
                    take(n)
                    progressed = True
                    break
            if len(picks) >= WINDOW - 1:
                break
        if not progressed:
            break  # backlog smaller than the window
    # 4. backfill: once the certifiable backlog is smaller than the
    #    window (the end state this whole rotation discipline drives
    #    toward), re-anchor already-certified oracle-backed names in
    #    registry order — repeat passes, not wasted slots, and the
    #    window stays exactly WINDOW long for the driver.
    if len(picks) < WINDOW - 1:
        for n in reg:
            if len(picks) >= WINDOW - 1:
                break
            if n != ANCHOR and n not in picks and reg[n].oracle is not None:
                picks.append(n)
    return [ANCHOR] + picks


def main() -> int:
    names = rotate()
    rnd = committed_round_max() + 1
    passed = _ever_driver_checked()
    first_ever = [n for n in names if n not in passed]
    stamp = {
        "round": rnd,
        "window_sha": window_sha(names),
        "first_ever": len(first_ever),
        "window": names,
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "WINDOW_ROTATION.json"), "w") as fh:
        json.dump(stamp, fh, indent=2)
    print("_PRIORITY: tuple[str, ...] = (")
    print(f'    "{names[0]}",  # repeat anchor: the flagship')
    for n in names[1:]:
        print(f'    "{n}",')
    print(")")
    print(
        f"\n# round {rnd}: {len(first_ever)} first-ever of {len(names)}; "
        "stamp written to WINDOW_ROTATION.json",
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
