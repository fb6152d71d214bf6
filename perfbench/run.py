#!/usr/bin/env python3
"""One benchmark run of one workload.

    python3 perfbench/run.py --workload serve|listen --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the program and the harness
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen_chain.py), runs the harness JVM, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones (see README.md).
Everything a run writes goes under .bench_build/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

# Generated chain per workload: 10 chains x heights blocks (plus orphan twins).
# listen ingests heights from base_heights on as one micro-batch each (5 of
# them in the traced run).
SIZES = {
    "serve":  dict(heights=24, base_heights=24),
    "listen": dict(heights=9, base_heights=4),
}
JAVA_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build.build()
    run_dir = build.OUT / "runs" / ("%s-%d-%d" % (a.workload, a.seed, a.trace))
    if run_dir.exists():
        shutil.rmtree(run_dir)
    inputs, work = run_dir / "input", run_dir / "work"
    work.mkdir(parents=True)
    size = SIZES[a.workload]
    gen = [sys.executable, str(HERE / "gen_chain.py"), "--seed", str(a.seed),
           "--out", str(inputs)]
    for k, v in size.items():
        gen += ["--" + k.replace("_", "-"), str(v)]
    subprocess.run(gen, check=True)

    result = run_dir / "result.json"
    cmd = (["java", "-Xmx2g", "-Xss4m", "-Djava.io.tmpdir=" + str(work / "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-cp", build.classpath(), "graft.bench.Harness", a.workload, str(a.seconds),
            str(a.trace), str(inputs), str(work), str(result)])
    (work / "tmp").mkdir()
    with open(run_dir / "harness.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=str(work), stdout=log, stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit("run: stopped by signal %d" % signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("run: harness timed out; see %s" % (run_dir / "harness.log"))
    if rc != 0 or not result.exists():
        sys.exit("run: harness failed (exit %d); see %s" % (rc, run_dir / "harness.log"))
    res = json.loads(result.read_text())
    # inputs and tables are large and rebuilt every run; keep log, trace, result
    shutil.rmtree(inputs)
    for p in work.iterdir():
        if p.name != "trace.jsonl":
            shutil.rmtree(p) if p.is_dir() else p.unlink()
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
