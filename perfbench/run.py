#!/usr/bin/env python3
"""One benchmark command for the graft engine.

    python3 perfbench/run.py --workload fits_sf001 --seed 1 --seconds 3 --trace 0

Run from the repository root. It builds the engine and the harness from
source (first run only; later runs reuse the build while the sources are
unchanged), runs the workload's queries over the fixed input tables in
perfbench/data, in an order set by the seed, as one closed-loop client in a
single JVM at local[nproc], grades every query's output against the DuckDB oracle, and
prints every metric with its name and unit. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with
`--trace 0` it carries the end-to-end metrics, with `--trace 1` the
per-layer metrics of a separate traced run. Each run's full record is kept
in perfbench/.work/artifacts/<workload>_c<cpus>_s<seed>_<traced|untimed>.json.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

# name -> (input tables under perfbench/data, blow-up copies, queries).
# The three benchmark workloads stress different layers (README.md). Each runs
# a subset of the family it stands for, chosen for low warm cost so that a run
# fits the time budget, plus q56 (the gaussian GLM the engine is built around)
# and q73 (the loop that checkpoints every round); per-query times are in
# BASELINE.md. The two selftest_* workloads are sf0.001 probes for
# perfbench/selftest.py, where perfbench_throws is a harness query that
# always throws.
WORKLOADS = {
    "fits_sf001": ("sf0.01", 1, [
        "q56_glm_gaussian_coefs", "q260_softmax", "q83_lm_sefit", "q77_lm_interaction",
        "q229_ordinal", "q294_quantreg", "q97_lm_cv"]),
    "loops_sf001": ("sf0.01", 1, [
        "q73_cc_labels", "q255_sssp", "q200_kcore"]),
    "scan_10x": ("sf0.01", 10, [
        "q01_pricing_summary", "q03_join_topk", "q21_dedup_exact", "q24_fingerprint",
        "q56_glm_gaussian_coefs", "q74_heavy_hitters"]),
    "selftest": ("sf0.001", 1, ["q01_pricing_summary"]),
    "selftest_throws": ("sf0.001", 1, ["q01_pricing_summary", "perfbench_throws"]),
}

END_TO_END = [("wall_s", "s"), ("geomean_query_s", "s"), ("setup_s", "s"), ("peak_rss_mb", "MB")]

# per-layer metric -> unit; every traced run reports all of them
PER_LAYER = {
    "entry.build_s": "s", "entry.sink_s": "s", "entry.driver_s": "s",
    "plan.actions": "count", "plan.analysis_s": "s", "plan.optimize_s": "s",
    "plan.physical_s": "s", "plan.codegen_compiles": "count", "plan.codegen_s": "s",
    "plan.bhj": "count", "plan.smj": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.stage_p50_ms": "ms", "sched.task_overhead_s": "s",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.util": "ratio",
    "exec.input_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.fetch_wait_s": "s", "exec.spill_bytes": "bytes",
    "bcast.count": "count", "bcast.bytes": "bytes", "bcast.build_s": "s",
    "store.rdd_blocks": "count", "store.mem_bytes": "bytes", "store.disk_bytes": "bytes",
    "span.query_self_s": "s", "span.build_self_s": "s", "span.sink_self_s": "s",
    "span.job_self_s": "s", "span.stage_self_s": "s",
    "host.steal_frac": "ratio", "trace.overhead_ratio": "ratio",
}

HEAP = "3g"
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            paths += [os.path.join(d, f) for f in files]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    """Builds engine + harness with sbt when the sources changed; returns the classpath."""
    stamp = os.path.join(HERE, "target", "perfbench-classpath.json")
    key = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("key") == key:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "export perfbench/Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "perfbench" not in cp or cp.startswith("["):
        fail(f"build failed (rc={rc}); see {log}", 3)
    with open(stamp, "w") as f:
        json.dump({"key": key, "classpath": cp}, f)
    return cp


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs)) if xs else float("nan")


def run_jvm(cp, args, run_dir):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness"] + args
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=run_dir)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            rc = proc.wait()
    if rc != 0:
        # the run directory, log included, is removed on exit: show its tail
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-20:]))
        fail(f"harness JVM exited with {rc} (killed after {JVM_TIMEOUT_S} s if negative)", 4)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; choose one of {', '.join(WORKLOADS)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT}: run from a full checkout of the repository")
    sf, copies, queries = WORKLOADS[a.workload]
    queries = list(queries)
    cpus = os.cpu_count()
    # the inputs are fixed; the seed sets the order the queries run in
    random.Random(a.seed).shuffle(queries)
    mode = "traced" if a.trace else "untimed"
    tag = f"{a.workload}_c{cpus}_s{a.seed}_{mode}"

    t_build = time.time()
    cp = classpath()
    build_s = time.time() - t_build

    import blowup
    import oracle
    run_dir = os.path.join(WORK, f"run-{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        base = os.path.join(HERE, "data", sf)
        t0 = time.time()
        if copies > 1:
            blown = os.path.join(run_dir, "base")
            blowup.write(base, blown, copies)
            base = blown
        blowup_s = time.time() - t0
        out = os.path.join(run_dir, "out")
        os.makedirs(out)
        t0 = time.time()
        run_jvm(cp, ["--queries", ",".join(queries), "--data", base, "--work", run_dir,
                     "--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace)], run_dir)
        with open(os.path.join(out, "harness.json")) as f:
            h = json.load(f)
        jvm_s = time.time() - t0
        t0 = time.time()
        grades = oracle.grade(base, os.path.join(out, "results"), queries)
        oracle_s = time.time() - t0
        spans = []
        if a.trace:
            with open(os.path.join(out, "spans.jsonl")) as f:
                spans = [json.loads(l) for l in f if l.strip()]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed_queries = sorted({f["query"] for f in h["failures"]}
                            | {q for q, why in grades.items() if why})
    failed = len(h["failures"]) + sum(1 for why in grades.values() if why)
    attempted = h["attempted"] + len(grades)
    untraced = [p for p in h["passes"] if not p["traced"]]
    traced = [p for p in h["passes"] if p["traced"]]
    per_query = {q: median([x["s"] for p in untraced for x in p["queries"] if x["query"] == q])
                 for q in queries}
    e2e = {
        "wall_s": median([p["wall_s"] for p in untraced]),
        "geomean_query_s": geomean(list(per_query.values())),
        # the 10x build plus the JVM's cold set-up
        "setup_s": blowup_s + h["setup_s"],
        "peak_rss_mb": h["peak_rss_mb"],
    }
    fail_ratio = failed / attempted
    layers = {}
    if a.trace:
        for k in PER_LAYER:
            vals = [l[k] for l in h["layers"] if k in l]
            if vals:
                layers[k] = median(vals)
        for kind in ("query", "build", "sink", "job", "stage"):
            per_pass = {}
            for s in spans:
                if s["kind"] == kind:
                    per_pass[s["pass"]] = per_pass.get(s["pass"], 0.0) + s["self_ms"] / 1e3
            layers[f"span.{kind}_self_s"] = median(list(per_pass.values())) if per_pass else 0.0
        layers["host.steal_frac"] = h["steal_frac"]
        layers["trace.overhead_ratio"] = (median([p["wall_s"] for p in traced])
                                          / median([p["wall_s"] for p in untraced]))

    print(f"perfbench {tag}: {len(queries)} queries, {len(h['passes'])} passes "
          f"({len(untraced)} untraced, {len(traced)} traced) in {h['window_s']:.1f} s, "
          f"local[{h['cpus']}], heap {h['heap_max_mb']:.0f} MB")
    for q in queries:
        status = grades.get(q) or "ok"
        print(f"query {q} median_s={per_query[q]:.4f} n={len(untraced)} oracle={status}")
    for f in h["failures"]:
        print(f"FAILED {f['query']} during {f['phase']}: {f['error']}")
    for name, unit in END_TO_END:
        print(f"metric {name} = {e2e[name]:.6g} {unit}")
    print(f"metric fail_ratio = {fail_ratio:.6g} ratio")
    print(f"metric host.steal_frac = {h['steal_frac']:.6g} ratio")
    for k, v in layers.items():
        print(f"layer {k} = {v:.6g} {PER_LAYER[k]}")

    artifact = {
        "workload": a.workload, "seed": a.seed, "cpus": cpus, "mode": mode, "sf": sf,
        "copies": copies, "queries": queries, "seconds": a.seconds, "heap": HEAP,
        "host": {"nproc": os.cpu_count(), "mem_total_kb": _mem_total_kb()},
        "phase_s": {"build": build_s, "blowup": blowup_s, "jvm": jvm_s, "oracle": oracle_s},
        "end_to_end": e2e,
        "fail_ratio": fail_ratio, "failed_queries": failed_queries, "oracle": grades,
        "per_query_median_s": per_query, "layers": layers, "harness": h, "spans": spans,
    }
    artifacts = os.path.join(WORK, "artifacts")
    os.makedirs(artifacts, exist_ok=True)
    path = os.path.join(artifacts, f"{tag}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"artifact {os.path.relpath(path, ROOT)}")
    print(f"summary {tag} correct={failed == 0} fail_ratio={fail_ratio:.4g} "
          f"wall_s={e2e['wall_s']:.4f} setup_s={e2e['setup_s']:.4f} "
          f"failed=[{','.join(failed_queries)}]")
    metrics = layers if a.trace else e2e
    units = PER_LAYER if a.trace else dict(END_TO_END)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


def _mem_total_kb():
    try:
        with open("/proc/meminfo") as f:
            return int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        return None


if __name__ == "__main__":
    main()
