#!/usr/bin/env python3
"""The benchmark's own tests: negative controls that must fail a run, and
the benign accumulator-GC path of the ERROR trap that must not.

    python3 graftbench/test_negative.py      # ~3 minutes, one JVM per case

Each case runs run.py with --inject and checks the exit code and the
`correct`/`failed` fields of the printed result.
"""
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")

# (workload, injection, must the run fail?)
CASES = [
    ("crawl", "fetch", True),          # wrong expected fetch count
    ("query_mix", "digest", True),     # wrong query digest
    ("crawl", "error", True),     # an ERROR log in the timed region
    ("crawl", "acc-unpaired", True),   # accumulator ERROR without its GC WARN
    ("crawl", "acc-paired", False),    # accumulator ERROR after its GC WARN
]


def run(workload, inject):
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", "0", "--inject", inject],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def main():
    bad = 0
    for workload, inject, must_fail in CASES:
        rc, res = run(workload, inject)
        failed = res is not None and (not res["correct"]) and res["failed"] >= 1
        ok = (rc != 0 and failed) if must_fail else (rc == 0 and res is not None
                                                     and res["correct"])
        print(f"{'PASS' if ok else 'FAIL'} {workload} --inject {inject}: "
              f"rc={rc} result={json.dumps(res and {k: res[k] for k in ('correct', 'attempted', 'failed')})}")
        bad += not ok
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
