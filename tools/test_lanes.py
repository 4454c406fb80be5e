"""Run the repository's two test lanes, one after the other.

    python3 tools/test_lanes.py

The lanes are the tier-1 command from ROADMAP.md (the default fast
tier, ``-m 'not slow'`` from ``pyproject.toml``) and the full suite,
``pytest tests/ -m ''``, slow tier included. Both run under the same
environment: ``SPARK_GRAFT_CPUS`` set to the CPUs this process may use
and ``SPARK_LOCAL_DIRS=/tmp/spark-local``. They never run in parallel,
since each starts its own Spark session on every core.

For each lane it prints one line with the passed, failed, skipped and
deselected counts, the errors, and the wall time; the ids of failed or
erroring tests follow on their own lines. The exit status is 1 when
any lane had a failure or error, or printed no pytest summary.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PYTEST = [sys.executable, "-m", "pytest", "tests/", "-q",
          "--continue-on-collection-errors", "-p", "no:cacheprovider"]
LANES = [
    ("tier1", ["timeout", "-k", "10", "2670", *PYTEST]),
    ("full", [*PYTEST, "-m", ""]),
]
COUNTS = ("passed", "failed", "skipped", "deselected", "errors")


def summary_counts(output: str) -> dict[str, int] | None:
    """Counts from pytest's final ``N passed, M skipped ... in Xs`` line."""
    lines = [ln for ln in output.splitlines() if re.search(r"\bin [0-9.]+s\b", ln)
             and re.search(r"\d+ (passed|failed|skipped|deselected|errors?)\b", ln)]
    if not lines:
        return None
    counts = dict.fromkeys(COUNTS, 0)
    for n, word in re.findall(r"(\d+) (passed|failed|skipped|deselected|errors?)\b", lines[-1]):
        counts["errors" if word.startswith("error") else word] = int(n)
    return counts


def main() -> int:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS="/tmp/spark-local")
    bad = False
    for name, cmd in LANES:
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        counts = summary_counts(proc.stdout)
        if counts is None:
            print(f"{name}: no pytest summary (exit {proc.returncode}) wall_s={wall:.0f}")
            print(proc.stdout[-2000:] + proc.stderr[-2000:])
            bad = True
            continue
        print(f"{name}: " + " ".join(f"{k}={v}" for k, v in counts.items())
              + f" wall_s={wall:.0f}", flush=True)
        for ln in proc.stdout.splitlines():
            if ln.startswith(("FAILED ", "ERROR ")):
                print("  " + ln)
        bad = bad or counts["failed"] > 0 or counts["errors"] > 0
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
