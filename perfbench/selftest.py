"""Self-test of the result check: a wrong expected result must fail.

    python3 perfbench/selftest.py [--workload stream_drain]

Runs one short benchmark run with one expected oracle digest replaced
(``run.py --corrupt-expected``) and exits 0 only if that run reports
that entry, and only that entry, as failed, with ``correct`` false.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="stream_drain")
    args = ap.parse_args()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", "0", "--seconds", "1", "--trace", "0", "--corrupt-expected"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(proc.stderr[-2000:], file=sys.stderr)
        print("FAIL: the run did not complete")
        return 1
    result = json.loads(lines[-1])
    flagged = [ln for ln in lines if ln.startswith("# FAILED")]
    # the one corrupted entry fails on its digest; the others still pass
    ok = (not result["correct"] and 0 < result["failed"] < result["attempted"]
          and len(flagged) == 1 and "value digest" in flagged[0])
    print("\n".join(flagged))
    print(("PASS" if ok else "FAIL") + f": failed={result['failed']} of "
          f"{result['attempted']}, correct={result['correct']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
