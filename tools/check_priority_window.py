#!/usr/bin/env python
"""Guard the driver-certified window: every operator family must keep
at least one representative inside the first 50 registry entries.

The external driver checks only the first 50 entries of
``__spark_entry__.queries()`` (observed: CORRECTNESS_r01/r02). The
registry front-loads a breadth-first ``_PRIORITY`` ordering; this check
makes that property enforceable — a new operator family registered
OUTSIDE the window (or a rotation that drops a family's last member
from it) fails loudly instead of silently shipping uncertified.

Family = a query's FIRST tag (the coarse operator family by
convention: "dedup", "similarity", "text", "streaming", ...). A family
counts as covered when EITHER

  (a) ANY first-50 query carries that tag anywhere in its tag tuple —
      e.g. the "limit" family is certified through
      top_revenue_customers' ORDER BY + LIMIT 10 tail, and "sequence"
      through the funnel query, without burning a dedicated window
      slot on a single-operator micro-family; OR
  (b) EVERY registered member of the family already has a driver pass
      on record (appears in a committed CORRECTNESS_r*.json). Added
      round 10: by r9, 21 families were fully driver-certified, and
      re-anchoring all of them would cap never-checked rotation at 38
      of 50 slots (an 11-query minimal set cover) — below both the
      r9-verdict mandate (>=40 first-evers) and the backlog target
      (<=100 at r10 close). Rule (b) preserves the gate's intent
      exactly: certification is on record for every member, and the
      moment a NEW query is registered in such a family it has an
      unchecked member, rule (b) stops applying, and the family must
      again carry a window representative or this check fails loudly.

Exit 0 and print the family → window coverage map; exit 1 listing any
family with zero members in the window and unchecked members on its
roster.
"""

from __future__ import annotations

import glob
import json
import os
import sys

WINDOW = 50

# Driver-certified names deliberately removed from the registry, each
# mapped to the registered query that now computes the same result.
# The MinHash "checkable" twins became identical to the main queries
# once the store and the eval queries moved onto portable_hash64.
RETIRED = {
    "dedup_minhash_lsh_checkable": "dedup_minhash_lsh",
    "dedup_minhash_clusters_checkable": "dedup_minhash_clusters",
}


def _correctness_files() -> list[str]:
    """Committed CORRECTNESS_r*.json paths (git-tracked), so an
    uncommitted working-tree file cannot satisfy the gate (r10 ADVICE).
    Falls back to the disk glob when git is unavailable (e.g. an
    exported tree). Pair with ``_load_correctness`` — the r11 ADVICE
    point is that the LIST coming from git is not enough if the
    CONTENT is then read from a possibly hand-edited working tree."""
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        out = subprocess.run(
            ["git", "ls-files", "CORRECTNESS_r*.json"],
            cwd=root, capture_output=True, text=True, timeout=30,
        )
        if out.returncode == 0 and out.stdout.strip():
            return [os.path.join(root, f) for f in out.stdout.split()]
    except (OSError, subprocess.SubprocessError):
        pass
    return sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))


def _load_correctness(path: str) -> dict:
    """Entry content for a tracked CORRECTNESS file, read from the
    COMMIT (``git show HEAD:<file>``) rather than the working tree, so
    edits appended to an already-tracked file don't count as driver
    passes (r11 ADVICE — previously only the file LIST came from git).
    Falls back to the on-disk file when git can't serve the blob
    (exported tree, or the file is tracked-but-new at HEAD)."""
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rel = os.path.relpath(path, root)
    try:
        out = subprocess.run(
            ["git", "show", f"HEAD:{rel}"],
            cwd=root, capture_output=True, text=True, timeout=30,
        )
        if out.returncode == 0 and out.stdout.strip():
            return json.loads(out.stdout)
    except (OSError, subprocess.SubprocessError, ValueError):
        pass
    with open(path) as fh:
        return json.load(fh)


def _is_driver_pass(entry: dict) -> bool:
    """A driver PASS, not mere key presence (r10 ADVICE: 4 names on
    record only ever FAILED — rows/hash mismatch or err set — and must
    not exempt their family from window coverage)."""
    return (
        entry.get("rows_match") is True
        and entry.get("hash_match") is True
        and not entry.get("err")
    )


def _ever_driver_checked() -> set[str]:
    """Names with a PASSING entry in any committed CORRECTNESS_r*.json."""
    checked: set[str] = set()
    for f in _correctness_files():
        for name, entry in _load_correctness(f).items():
            if isinstance(entry, dict) and _is_driver_pass(entry):
                checked.add(name)
    return checked


def family_coverage():
    """Return (families: dict[family, (in_window, total)], missing)."""
    from ytspark.queries import registry

    reg = registry()
    names = list(reg)
    checked = _ever_driver_checked()
    window_tags: set[str] = set()
    for name in names[:WINDOW]:
        window_tags.update(reg[name].tags)
    fams: dict[str, list[int]] = {}
    fully_certified: dict[str, bool] = {}
    for pos, name in enumerate(names):
        q = reg[name]
        fam = q.tags[0] if q.tags else "untagged"
        fams.setdefault(fam, []).append(pos)
        fully_certified[fam] = fully_certified.get(fam, True) and name in checked
    cover = {
        fam: (sum(1 for p in pos if p < WINDOW), len(pos))
        for fam, pos in sorted(fams.items())
    }
    missing = [
        fam
        for fam in cover
        if fam not in window_tags and not fully_certified[fam]
    ]
    return cover, missing


def main() -> int:
    # Round-open rotation check (r10 VERDICT item 3): if the rotation
    # stamp's target round already has a committed CORRECTNESS file,
    # the current window has been consumed — a new round is opening on
    # a stale window. This tool runs at round open (memory checklist),
    # so it is the early catch; the pytest tripwire
    # (tests/test_priority_window.py) is the late one.
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        with open(os.path.join(root, "WINDOW_ROTATION.json")) as fh:
            stamp_round = json.load(fh)["round"]
    except (OSError, ValueError, KeyError):
        stamp_round = None
    if stamp_round is not None:
        consumed = [
            f for f in _correctness_files()
            if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", f))
            and int(m.group(1)) >= stamp_round
        ]
        if consumed:
            print(
                f"FAIL: window rotation stamped for round {stamp_round} "
                f"already consumed ({os.path.basename(consumed[-1])} is "
                "committed) — run tools/rotate_window.py before this "
                "round's registrations"
            )
            return 1
    cover, missing = family_coverage()
    for fam, (inw, total) in cover.items():
        print(f"{fam:14s} {inw:2d}/{total:2d} in first-{WINDOW} window")
    if missing:
        print(
            "\nFAIL: families with unchecked members and NO representative "
            f"in the certified window: {missing}"
        )
        return 1
    print(
        f"\nok: all {len(cover)} families covered — window representative "
        "or fully driver-certified roster"
    )
    return 0


if __name__ == "__main__":
    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
