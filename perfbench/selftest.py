#!/usr/bin/env python3
"""Self-test of the benchmark harness on sf0.001 inputs (about a minute).

    python3 perfbench/selftest.py

Checks that
  * every metric the command prints has a well-formed name and unit, and
    the last-line JSON carries exactly the metrics BENCHMARK.json declares
    (end-to-end untraced, per-layer traced);
  * a query that throws is counted as failed and named, raises fail_ratio
    and marks the run incorrect, and keeps its elapsed time in the pass
    wall instead of being dropped from it (failing must not read as fast).
Exits 0 when every check passes.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
LINE = re.compile(r"^(metric|layer) (\S+) = (\S+) (\S+)$")


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stdout + p.stderr)
        raise SystemExit(f"selftest: run.py exited {p.returncode}")
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1])
    printed = {}
    for l in lines:
        m = LINE.match(l)
        if m:
            float(m.group(3))
            printed[m.group(2)] = m.group(4)
    art = [l.split()[1] for l in lines if l.startswith("artifact ")][0]
    with open(os.path.join(ROOT, art)) as f:
        return last, printed, json.load(f)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = []

    def check(ok, msg):
        if not ok:
            errors.append(msg)

    for workload, trace in (("selftest", 0), ("selftest", 1), ("selftest_throws", 0)):
        declared = bench["per_layer"] if trace else bench["end_to_end"]
        last, printed, art = run(workload, trace)
        for k, unit in printed.items():
            check(NAME.match(k) and UNIT.match(unit), f"bad metric name/unit {k!r} {unit!r}")
        want = {m["name"]: m["unit"] for m in declared}
        got = {k: v["unit"] for k, v in last["metrics"].items()}
        check(got == want, f"{workload} trace={trace}: last line metrics {got} != declared {want}")
        for k, v in last["metrics"].items():
            check(isinstance(v["value"], (int, float)), f"{k}: value {v['value']!r} is not a number")
            check(printed.get(k) == v["unit"], f"{k}: not printed with unit {v['unit']}")
        for k in ("wall_s", "geomean_query_s", "setup_s", "peak_rss_mb", "fail_ratio"):
            check(k in printed, f"{workload} trace={trace}: end-to-end metric {k} not printed")
        if workload == "selftest":
            check(last["correct"] and last["failed"] == 0, f"{workload}: clean run graded incorrect")
            continue
        check(not last["correct"] and last["failed"] >= 1, "throwing query not counted as failed")
        check(art["fail_ratio"] > 0, "throwing query did not raise fail_ratio")
        check("perfbench_throws" in art["failed_queries"], "throwing query not named")
        for p in art["harness"]["passes"]:
            times = {q["query"]: q["s"] for q in p["queries"]}
            check("perfbench_throws" in times, "throwing query dropped from a timed pass")
            check(abs(p["wall_s"] - sum(times.values())) < 1e-6,
                  "pass wall is not the sum of every query's time, failed ones included")
    for e in errors:
        print(f"FAIL {e}")
    print(f"selftest: {'ok' if not errors else f'{len(errors)} failure(s)'}")
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
