#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The first run builds
the program and the benchmark from source with sbt (offline); later runs
reuse the build while no source file changed. Inputs are generated from
the seed (see gen.py) and cached per seed under perfbench/work/.

With --trace 0 the last line of standard output carries the end-to-end
metrics, with --trace 1 the per-layer metrics of a traced run. Every
line before it is a readable report of the same run.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(BENCH, "work")
TARGET = os.path.join(BENCH, "target")
WORKLOADS = ["bql_interactive", "pipeline_batch", "stream_ingest"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the root build sets
# the same list for its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the program and the benchmark; returns the runtime classpath."""
    cp_file = os.path.join(TARGET, "bench-classpath.txt")
    stamp_file = os.path.join(TARGET, "bench-stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        if open(stamp_file).read().strip() == stamp:
            return open(cp_file).read().strip()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(TARGET, "build.log")
    for attempt in range(2):
        if attempt:
            # an interrupted incremental compile can leave the benchmark's
            # class directory unusable: retry once from clean
            shutil.rmtree(os.path.join(TARGET, "scala-2.13"), ignore_errors=True)
        with open(log_path, "w") as log:
            rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export perfbench/Runtime/fullClasspath"],
                             BENCH, env, log, BUILD_TIMEOUT_S)
        lines = open(log_path).read().strip().splitlines()
        if rc == 0 and lines and "classes" in lines[-1]:
            break
    if rc != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}), see {log_path}", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return cp


def run_bounded(cmd, cwd, env, out, timeout_s):
    """Runs `cmd` in its own process group; kills the whole group on
    timeout. Waits until it has ended either way."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


LAYER_UNITS = (("_ms", "ms"), ("_bytes", "bytes"), ("_pct", "%"))


def layer_unit(name):
    for suffix, unit in LAYER_UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


def finite(v):
    return v if isinstance(v, (int, float)) and math.isfinite(v) else float(1e18)


def main(argv=None):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--write-digests", action="store_true",
                    help="record the default seed's result digests instead of checking them")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("run from the root of a checkout of the repository (no src/main/scala/graft here)")
    if shutil.which("sbt") is None and not os.path.exists(os.path.join(TARGET, "bench-classpath.txt")):
        fail("sbt is not on PATH")

    cp = build()

    sys.path.insert(0, BENCH)
    import gen  # noqa: E402  (after the layout check: needs numpy and pyarrow)
    inputs = gen.generate(a.seed, os.path.join(WORK, "inputs", str(a.seed)))

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    record = os.path.join(run_dir, "record.json")
    cmd = [java_bin(), *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--inputs", inputs, "--work", run_dir,
           "--digests", os.path.join(BENCH, "digests"), "--record", record,
           "--write-digests", "1" if a.write_digests else "0"]
    log_path = os.path.join(run_dir, "jvm.log")
    # Spark's scratch space stays in the run directory even where the
    # environment points it elsewhere
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    t0 = time.time()
    with open(log_path, "w") as log:
        rc = run_bounded(cmd, ROOT, env, log, JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(record):
        sys.stderr.write("".join(open(log_path).readlines()[-60:]))
        fail(f"workload run failed (exit {rc}), see {log_path}", 1)
    rec = json.load(open(record))

    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds}  trace {a.trace}  "
          f"wall {time.time() - t0:.1f}s")
    print("env " + json.dumps(rec["env"], sort_keys=True))
    for name, m in sorted(rec["workload_metrics"].items()):
        print(f"  {name:32s} {m['value']:>14.4f} {m['unit']:8s} samples {m['samples']}")
    print(f"  attempted {rec['attempted']}  failed {rec['failed']}")
    for f in rec["failures"]:
        print(f"  FAILED {f}")
    if a.trace:
        for name in sorted(rec["per_layer"]):
            print(f"  {name:40s} {rec['per_layer'][name]:>16.4f} {layer_unit(name)}")
        metrics = {k: {"value": finite(v), "unit": layer_unit(k)}
                   for k, v in rec["per_layer"].items()}
    else:
        metrics = {k: {"value": finite(m["value"]), "unit": m["unit"]}
                   for k, m in rec["end_to_end"].items()}
    attempted, failed = int(rec["attempted"]), int(rec["failed"])
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
