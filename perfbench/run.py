#!/usr/bin/env python3
"""Seeded benchmark of the graft engine: medallion and corpus workloads.

    python3 perfbench/run.py --workload <medallion|corpus|all>
        --seed <n> [--seconds 20] [--trace 0|1] [--out results.json]

Run from the repository root. Builds the engine and the harness from
source (cached by a hash of the sources), generates the seeded inputs,
runs one JVM per workload (closed loop on one driver thread), gates every
pass against counts the generator computes (medallion) or DuckDB oracle
digests (corpus), and prints each metric with its unit.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` -- end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. Exits 1 when a
pass fails the gate, 2 when the engine sources or the toolchain are
missing. Full results and the traced spans go to ``.bench_build/results``.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # the benchmark writes only under .bench_build
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("medallion", "corpus")
INPUTS = {"medallion": "breweries", "corpus": "corpus"}


def _metric_units():
    """({end-to-end name: unit}, {per-layer name: unit}), in the order
    BENCHMARK.json lists them: the one table of the reported metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


END_TO_END, PER_LAYER = _metric_units()

# A fixed 256 MB young generation: G1 collects every 256 MB allocated,
# not at points its pause-time sizing picks, so the post-GC heap readings
# behind peak_heap_mb are dense and fall at the same work on every run.
JAVA_OPTS = ["-Xms2g", "-Xmx2g", "-Xmn256m", "-XX:+UseG1GC"] + [
    x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail_setup(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


# -------------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail_setup("engine sources (src/main/scala) not found next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail_setup("sbt and java are needed to build the benchmark")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = _source_stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
        env = dict(os.environ, COURSIER_MODE="offline")
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
               "-Dsbt.server.autostart=false",
               "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
               "compile", "writeClasspath"]
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=840).returncode
        if rc != 0:
            fail_setup("build failed, see .bench_build/build.log")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return open(cp_file).read().strip()


# ---------------------------------------------------------------------- run

def run_jvm(cp, workload, data, seconds, trace, cores, deadline):
    scratch = os.path.join(BUILD, "run", "%s-%d" % (workload, os.getpid()))
    shutil.rmtree(scratch, ignore_errors=True)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    out = os.path.join(scratch, "result.json")
    cmd = ["java"] + JAVA_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", cp,
                                  "graft.bench.Harness", "--workload", workload,
                                  "--data", data, "--scratch", scratch,
                                  "--seconds", str(seconds), "--trace", str(trace),
                                  "--cores", str(cores), "--out", out]
    log_path = os.path.join(BUILD, "results", "%s-jvm.log" % workload)
    try:
        with open(log_path, "w") as log:
            subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=max(10, deadline - time.time()))
        if not os.path.exists(out):
            return None
        with open(out) as f:
            return json.load(f)
    except subprocess.TimeoutExpired:
        return None
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def gate(workload, res, data, errors):
    """(attempted, failed) over every call of every pass."""
    if workload == "medallion":
        with open(os.path.join(data, "expected.json")) as f:
            expected = json.load(f)
    else:
        expected = {q: {"digest": d} for q, d in
                    oracle.digests(data, res["oracle_sql"], os.path.join(BUILD, "oracle")).items()}
    attempted = failed = 0
    for p in res["passes"]:
        for c in p["calls"]:
            attempted += 1
            want = expected.get(c["name"])
            bad = [k for k in (want or {}) if c["out"].get(k) != want[k]]
            if not c["ok"] or want is None or bad:
                failed += 1
                if len(errors) < 5:
                    errors.append("%s %s pass: %s" % (
                        c["name"], p["kind"], c["error"] or
                        "; ".join("%s=%r want %r" % (k, c["out"].get(k), want[k])
                                  for k in bad) or "no expected output"))
    return attempted, failed


def metrics(res, trace):
    """End-to-end metrics, plus the per-layer ones of a traced run."""
    timed = [p for p in res["passes"] if p["kind"] == "timed"]
    setup = res["setup"]
    out = {
        "batch_s": statistics.median(p["wall_s"] for p in timed),
        "cpu_core_s": statistics.median(p["cpu_s"] for p in timed),
        # the largest heap after any GC of any timed pass
        "peak_heap_mb": max(p["heap_mb"] for p in timed),
        "setup_s": setup["session_s"] + setup["index_s"] + setup["warmup_s"],
    }
    if trace:
        layers = res["layers"]
        out.update({name: float(layers.get(name, 0.0)) for name in PER_LAYER})
        for k in ("session_s", "warmup_s", "index_s"):
            out["setup." + k] = setup[k]
        out["trace.overhead_s"] = layers["traced_wall_s"] - out["batch_s"]
        out["host.calib_s"] = max(res["calib_s"])
    return out


def run_workload(cp, workload, seed, seconds, trace, cores, deadline):
    data = gen.ensure(INPUTS[workload], seed, os.path.join(BUILD, "inputs"))
    res = run_jvm(cp, workload, data, seconds, trace, cores, deadline)
    if res is None:
        return None
    errors = []
    attempted, failed = gate(workload, res, data, errors)
    for e in errors:
        print("perfbench: %s: gate: %s" % (workload, e), file=sys.stderr)
    vals = metrics(res, trace)
    units = dict(END_TO_END, **PER_LAYER)
    record = {"workload": workload, "seed": seed, "trace": trace,
              "correct": failed == 0, "attempted": attempted, "failed": failed,
              "error_rate": failed / attempted,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in vals.items()},
              "passes": [dict({k: p[k] for k in ("kind", "wall_s", "cpu_s", "elapsed_s")
                                 + (("heap_mb",) if p["kind"] == "timed" else ())},
                              calls={c["name"]: c["out"].get("s") for c in p["calls"]})
                         for p in res["passes"]],
              "calib_s": res["calib_s"]}
    if trace:
        spans = os.path.join(BUILD, "results", "%s-seed%d-spans.json" % (workload, seed))
        with open(spans, "w") as f:
            json.dump(res["spans"], f)
        record["spans"] = os.path.relpath(spans, ROOT)
    return record


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="results file (default .bench_build/results/last.json)")
    args = ap.parse_args()
    # a terminated run unwinds, so subprocess.run kills the harness JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    start = time.time()
    cp = build()
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    records = {}
    for w in names:
        budget = 175.0 if args.workload != "all" else 175.0 * (WORKLOADS.index(w) + 1)
        rec = run_workload(cp, w, args.seed, args.seconds, args.trace, cores, start + budget - 20)
        if rec is None:
            print("perfbench: %s: harness failed, see .bench_build/results/%s-jvm.log"
                  % (w, w), file=sys.stderr)
            sys.exit(1)
        records[w] = rec
        with open(os.path.join(BUILD, "results", "%s-seed%d-trace%d.json"
                               % (w, args.seed, args.trace)), "w") as f:
            json.dump(rec, f, indent=1)
        for k, m in rec["metrics"].items():
            print("%-12s %-40s %14.6f %s" % (w, k, m["value"], m["unit"]))
        print("%-12s %-40s %14.6f (%d/%d failed)" % (
            w, "error_rate", rec["error_rate"], rec["failed"], rec["attempted"]))
    out = args.out or os.path.join(BUILD, "results", "last.json")
    with open(out, "w") as f:
        json.dump({"seed": args.seed, "trace": args.trace, "workloads": records}, f, indent=1)
    correct = all(r["correct"] for r in records.values())
    # the last line carries the end-to-end metrics, or with --trace 1 the per-layer ones
    wanted = PER_LAYER if args.trace else END_TO_END
    if len(records) == 1:
        line_metrics = {k: m for k, m in next(iter(records.values()))["metrics"].items()
                        if k in wanted}
    else:
        line_metrics = {"%s.%s" % (w, k): m for w, r in records.items()
                        for k, m in r["metrics"].items() if k in wanted}
    print(json.dumps({"correct": correct,
                      "attempted": sum(r["attempted"] for r in records.values()),
                      "failed": sum(r["failed"] for r in records.values()),
                      "metrics": line_metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
