#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The first run builds graft and the
harness from source (sbt, in perfbench/) and caches the build under
.bench_build/ keyed by a hash of the sources.  Each run starts a fresh
JVM with a fresh, empty java.io.tmpdir, so every stage cache and
committed table is built inside the measured process.  The last line on
stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, taken from a run with a
span around every call into a layer.  The full artifact (per-query and
per-micro-batch layer rows, host sentinels, op-tail percentile) is
written to .bench_build/perfbench/artifacts/.  The exit code is 0 only
when every output checked correct.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("query_heavy", "ingest")
BENCH_SF = 0.01   # fixture scale of the timed queries
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
# A fixed-size heap and young generation, so peak RSS follows the data a
# run keeps rather than when the collector decided to grow the heap.
JVM_HEAP = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn640m"]
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile graft + harness once per source state; return the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("graft's sources are not in this checkout; nothing to build")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(STATE, exist_ok=True)
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
            start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"build exceeded its time limit (see {log})")
        out.write(stdout)
    lines = [l for l in stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (see {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def fixtures():
    sys.path.insert(0, HERE)
    import fixtures as fx
    d = os.path.join(STATE, "fixtures", f"sf{BENCH_SF}")
    fx.write(d, BENCH_SF)
    return d


def metric_specs(traced):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if traced else "end_to_end"]


def artifact_path(args, trace):
    return os.path.join(STATE, "artifacts", f"{args.workload}-seed{args.seed}-trace{trace}.json")


def note_overhead(args):
    """Record in the traced artifact how its end-to-end numbers differ
    from the untraced run of the same workload and seed, if there is one."""
    base, traced = artifact_path(args, 0), artifact_path(args, 1)
    if not os.path.isfile(base):
        return
    with open(base) as fh:
        b = json.load(fh)["end_to_end"]
    with open(traced) as fh:
        art = json.load(fh)
    t = art["end_to_end"]
    art["trace_overhead"] = {k: t[k] / b[k] - 1 for k in t if b.get(k)}
    with open(traced, "w") as fh:
        json.dump(art, fh)
    print("perfbench: traced vs untraced: " + ", ".join(
        f"{k} {v:+.1%}" for k, v in sorted(art["trace_overhead"].items())), file=sys.stderr)


def run_jvm(args, cp, fx, deadline):
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(tmp)
    artifact = artifact_path(args, args.trace)
    os.makedirs(os.path.dirname(artifact), exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += JVM_HEAP + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--fixtures", fx,
            "--lists", os.path.join(HERE, "lists"), "--out", artifact]
    log = os.path.join(STATE, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            fail(f"run exceeded its time limit (log: {log})")
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        fail(f"harness exited with {p.returncode} (log: {log})")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    cp = build()
    # a run that had to build gets the build's time on top of its own
    deadline = max(start, time.time() - 5) + RUN_LIMIT_S
    fx = fixtures()
    res = run_jvm(args, cp, fx, deadline)
    if args.trace:
        note_overhead(args)
    measured = res["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in metric_specs(args.trace):
        if m["name"] in measured:
            value = measured[m["name"]]
        elif args.trace:
            value = 0  # a layer this workload does not call
        else:
            fail(f"harness did not report {m['name']}")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    correct = bool(res["correct"]) and res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
