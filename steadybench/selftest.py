"""Self-test of the benchmark's output checks: a run whose first operation's
output is corrupted (``run.py --corrupt``) must report the failure and exit
non-zero.

    python3 steadybench/selftest.py [workload ...]

Runs every workload by default; exits 1 if any corrupted run still passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("taxi_nightly", "corpus_dedup")


def corrupted_run_fails(workload: str) -> bool:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "0", "--corrupt"],
        capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    return (
        proc.returncode == 1
        and result.get("correct") is False
        and result.get("failed", 0) >= 1
    )


def main() -> int:
    bad = [w for w in (sys.argv[1:] or WORKLOADS) if not corrupted_run_fails(w)]
    for w in bad:
        print(f"selftest: a corrupted {w} run did not fail", file=sys.stderr)
    print("selftest:", "FAILED" if bad else "ok")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
