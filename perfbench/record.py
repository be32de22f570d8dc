#!/usr/bin/env python3
"""Re-record the query workloads' expected outputs (lists/expected.tsv).

    python3 perfbench/record.py

Run from the repository root, only when the benchmark fixture or a
query's intended result changes.  Steps:

1. build graft + harness and write the benchmark fixture (as run.py);
2. cross-check every oracle query against DuckDB on that fixture:
   graft.Verify dumps each query's result and tools/check.py compares
   it with the query's oracle SQL; any FAIL stops the recording;
3. run perfbench.Record, which digests every declared query twice (cold
   and warm stage caches, opposite orders) and writes expected.tsv plus
   each query's cold op time (times.tsv, from which the frozen
   query_tail / query_heavy split was taken).
"""
import os
import shutil
import subprocess
import sys

import run

OUT = os.path.join(run.STATE, "record")


def java(cp, main, *args):
    tmp = os.path.join(OUT, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java"]
    for p in run.JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, main, *args]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    env.pop("SPARK_LOCAL_DIRS", None)
    with open(os.path.join(OUT, f"{main}.log"), "w") as log:
        subprocess.run(cmd, cwd=OUT, env=env, stdout=log, stderr=log, check=True)
    shutil.rmtree(tmp, ignore_errors=True)


def main():
    cp = run.build()
    fx = run.fixtures()
    os.makedirs(OUT, exist_ok=True)
    verify = os.path.join(OUT, "verify")
    java(cp, "graft.Verify", fx, verify)
    check = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "check.py"), fx, verify],
        stdout=subprocess.PIPE, text=True)
    print(check.stdout.splitlines()[-1] if check.stdout else "check.py printed nothing")
    if check.returncode != 0 or "FAIL" in check.stdout:
        sys.exit("oracle cross-check failed; expected outputs not recorded")
    java(cp, "perfbench.Record", fx,
         os.path.join(run.HERE, "lists", "expected.tsv"), os.path.join(OUT, "times.tsv"))
    print(f"wrote {os.path.join(run.HERE, 'lists', 'expected.tsv')}")


if __name__ == "__main__":
    main()
