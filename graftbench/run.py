#!/usr/bin/env python3
"""graft benchmark: build from source, run one workload, print one JSON line.

    python3 graftbench/run.py --workload crawl|query_mix \
        --seed N --seconds S --trace 0|1 [--inject fetch,digest,error]

The last stdout line is {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer metrics
with --trace 1. Spans of a traced run are written to graftbench/.out/.
--inject breaks one expectation on purpose; the run must then fail
(negative controls, see test_negative.py).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("crawl", "query_mix")
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default="")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build.build()

    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    # no hsperfdata file in the system temp dir: write only under graftbench/
    cmd = ["java", "-Xmx4g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out]
    if a.inject:
        cmd += ["--inject", a.inject]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"graftbench: {a.workload} exceeded {JVM_TIMEOUT_S}s")

    result = None
    if os.path.isfile(out):
        with open(out) as f:
            result = json.loads(f.read())
    if a.trace:
        traces = os.path.join(BENCH, ".out")
        os.makedirs(traces, exist_ok=True)
        for f in os.listdir(work):
            if f.startswith("trace-"):
                shutil.copy(os.path.join(work, f), traces)
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        sys.exit(f"graftbench: no result (exit code {rc})")

    want = spec["per_layer" if a.trace else "end_to_end"]
    got = result["metrics"]
    spec_units = {m["name"]: m["unit"] for m in want}
    got_units = {k: v["unit"] for k, v in got.items()}
    if spec_units != got_units:
        diff = set(spec_units.items()) ^ set(got_units.items())
        sys.exit(f"graftbench: metrics differ from BENCHMARK.json: {sorted(diff)}")
    print(json.dumps(result))
    sys.exit(rc)


if __name__ == "__main__":
    main()
