#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload pay-live --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The engine (src/main/scala) and the
harness (perfbench/harness) are compiled from source with the Scala
compiler that ships in the Spark distribution's jars (the directory
build.sbt names as unmanagedBase, or $SPARK_JARS), into .bench_build/
(or $CARGO_TARGET_DIR); later runs reuse the build while the sources are
unchanged. Run output, traces and Spark scratch space go to .bench_out/.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer with --trace 1).
Any failure exits non-zero without printing that line.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import subprocess
import sys
import time

WORKLOADS = ("pay-live", "pay-backlog", "board-slice")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jars the engine builds against: $SPARK_JARS, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    try:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(os.path.join(root, "build.sbt")).read())
    except OSError:
        m = None
    if not m:
        fail("no Spark jars: set SPARK_JARS or run from a checkout whose build.sbt sets unmanagedBase")
    return m.group(1)


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))
    return engine, harness


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(classpath, out, files, log):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", classpath, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        fail(f"compile failed ({out}); see {log.name}")


def build(root, build_dir, out_dir, jars):
    """Compile the engine, then the harness, each unless its stamp matches its sources."""
    engine, harness = sources(root)
    if not engine:
        fail("engine sources not found under src/main/scala; run from a checkout root")
    if not harness:
        fail("harness sources not found under perfbench/harness")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Scala compiler in {jars}")
    os.makedirs(build_dir, exist_ok=True)
    engine_fp = fingerprint(engine)
    steps = [
        ("engine", engine_fp, f"{jars}/*", engine),
        ("harness", engine_fp + fingerprint(harness),
         f"{os.path.join(build_dir, 'engine')}:{jars}/*", harness),
    ]
    with open(os.path.join(build_dir, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for name, want, classpath, files in steps:
            out = os.path.join(build_dir, name)
            stamp = out + ".stamp"
            if os.path.exists(stamp) and open(stamp).read() == want:
                continue
            if os.path.exists(stamp):
                os.remove(stamp)
            subprocess.run(["rm", "-rf", out], check=True)
            t = time.time()
            with open(os.path.join(out_dir, f"build-{name}.log"), "w") as log:
                scalac(classpath, out, files, log)
            with open(stamp, "w") as fh:
                fh.write(want)
            print(f"[build] {name} compiled in {time.time() - t:.1f} s", flush=True)


def expected_metrics(root, trace):
    """Metric names BENCHMARK.json declares for this mode, if it is present."""
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    spec = json.load(open(path))
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=4, help="Spark local[N] (reference runs only)")
    args = ap.parse_args()

    root = os.getcwd()
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(os.path.join(out_dir, "tmp"), exist_ok=True)
    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    build_dir = os.path.join(root, build_dir)
    jars = spark_jars(root)
    build(root, build_dir, out_dir, jars)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    cp = ":".join([os.path.join(build_dir, "harness"), os.path.join(build_dir, "engine"), f"{jars}/*"])
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-XX:-UsePerfData", "-Xms3g", "-Xmx3g",
        f"-Djava.io.tmpdir={os.path.join(out_dir, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--cpus", str(args.cpus), "--root", root,
        "--work", f".bench_out/work-{tag}",
    ]
    log_path = os.path.join(out_dir, f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{args.workload} did not finish within {RUN_TIMEOUT_S} s; see {log_path}")
    subprocess.run(["rm", "-rf", os.path.join(out_dir, f"work-{tag}")])
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write("".join(open(log_path).readlines()[-30:]))
        fail(f"{args.workload} exited with {proc.returncode}; see {log_path}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"last output line is not JSON: {lines[-1][:200]}")
    want = expected_metrics(root, args.trace)
    if want is not None and set(result["metrics"]) != want:
        fail(f"metrics {sorted(set(result['metrics']) ^ want)} differ from BENCHMARK.json")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
