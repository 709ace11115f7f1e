#!/usr/bin/env python3
"""Self-test for the benchmark (about four minutes on four cores).

Usage: python3 perfbench/selftest.py

For each workload, at a tiny size (sf0.001, seven channels, two-tick
cycles), it runs the benchmark untraced and traced with one raising op
and one wrong-result op injected, and asserts:

- the last stdout line is the result object with exactly the keys
  ``correct attempted failed metrics``;
- every end-to-end metric (untraced) or per-layer metric (traced) is
  printed with its unit, as a finite number;
- both injected ops, and only they, are counted as failed;
- the run leaves no file behind outside ``.perfbench/``.

It also asserts that a directory holding only ``BENCHMARK.json`` and
this directory makes the benchmark exit non-zero without a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402

TINY = {
    "elt_ticks": ["--channels", "7", "--cycle", "2"],
    "curation_batch": ["--sf", "0.001"],
}


def tree(root: str) -> set[str]:
    out = set()
    for dirpath, dirnames, names in os.walk(root):
        dirnames[:] = [d for d in dirnames if d not in (".git", ".perfbench")]
        out.update(os.path.relpath(os.path.join(dirpath, n), root) for n in names)
    return out


def bench(root: str, *args: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), *args],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def check_run(workload: str, trace: int) -> None:
    before = tree(ROOT)
    code, lines = bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                        "--trace", str(trace), "--inject", *TINY[workload])
    assert code == 0, f"{workload} trace={trace} exited {code}"
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    want = PER_LAYER if trace else END_TO_END
    assert set(result["metrics"]) == set(want), set(want) ^ set(result["metrics"])
    for name, unit in want.items():
        m = result["metrics"][name]
        assert m["unit"] == unit and math.isfinite(m["value"]), (name, m)
    assert result["failed"] == 2 and result["correct"] is False, result
    assert result["attempted"] > 2, result
    assert tree(ROOT) == before, tree(ROOT) ^ before
    print(f"ok  {workload} trace={trace}: {result['attempted']} ops, 2 injected failures seen")


def check_bare_directory() -> None:
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = bench(bare, "--workload", "elt_ticks", "--seed", "1", "--seconds", "1")
        assert code != 0, "a directory without ytspark must fail"
        assert not any(line.startswith("{") for line in lines), lines
        print(f"ok  bare directory: exit {code}, no result printed")
    finally:
        shutil.rmtree(bare)


def main() -> int:
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    check_bare_directory()
    for workload in TINY:
        for trace in (0, 1):
            check_run(workload, trace)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
