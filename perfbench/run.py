#!/usr/bin/env python3
"""Benchmark entry point for the graft crawl engine and query surface.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl-deep-durable --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

The first call compiles the engine (src/main/scala) and the benchmark
(perfbench/src) with the Scala compiler that ships in the Spark jars
directory, into .bench_build/classes-<source hash>; later calls reuse it.
Each run is one JVM at local[<cores>]. Its last stdout line is one JSON
object with the keys correct, attempted, failed and metrics; the JVM's
log goes to .bench_build/logs/. The exit code is 0 only when every
output check passed.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
HEAP = "4g"
COMPILE_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# JDK 17 module opens that Spark needs outside spark-submit; the same list
# build.sbt passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars: $SPARK_JARS, else $SPARK_HOME/jars, else the
    directory build.sbt takes its unmanaged jars from."""
    jars = os.environ.get("SPARK_JARS")
    if not jars and os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = ROOT / "build.sbt"
    if not jars and sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        jars = m and m.group(1)
    if not jars or not os.path.isdir(jars):
        fail(f"no Spark jars directory ({jars or 'set SPARK_HOME or SPARK_JARS'})")
    return Path(jars)


SPARK_JARS = spark_jars()


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        fail(f"no engine sources at {engine}; run from the root of a checkout")
    files = sorted(engine.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        fail("no sources to compile")
    return files


def build():
    """Compile engine and benchmark once per source tree; return the class dir."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    out = BUILD / f"classes-{digest.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out
    tmp = BUILD / "classes-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "scalac-args.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp),
           f"@{argfile}"]
    t0 = time.time()
    try:
        proc = subprocess.run(cmd, stdout=sys.stderr, timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("compile timed out")
    if proc.returncode != 0:
        fail("compile failed")
    (tmp / ".complete").write_text(f"{time.time() - t0:.1f}\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def java_cmd(classes, main_args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmpdir = BUILD / "tmp"
    tmpdir.mkdir(parents=True, exist_ok=True)
    return (["java"] + opens + [
        f"-Xmx{HEAP}", "-XX:+UseParallelGC",
        # no hsperfdata file in the system temp directory
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmpdir}",
        f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}{os.pathsep}{SPARK_JARS}/*",
        "graftbench.Main"] + main_args)


def with_all_layers(line):
    """A traced result with exactly the per-layer metrics of
    BENCHMARK.json: a layer the workload never calls reports 0."""
    result = json.loads(line)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = result["metrics"]
    result["metrics"] = {m["name"]: metrics.get(m["name"], {"value": 0.0, "unit": m["unit"]})
                         for m in spec["per_layer"]}
    return json.dumps(result)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if not args.self_test and not args.workload:
        ap.error("--workload is required")

    classes = build()
    logs = BUILD / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    if args.self_test:
        main_args, name = ["--self-test", "1"], "self-test"
    else:
        name = f"{args.workload}-s{args.seed}-t{args.trace}"
        main_args = ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--work", str(BUILD / "run"), "--data", str(BENCH / "data")]
    log = logs / f"{name}.log"
    with open(log, "w") as err:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
        # scratch inside the checkout either way
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(BUILD / "run" / "spark-local"))
        proc = subprocess.Popen(java_cmd(classes, main_args), env=env,
                                stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run timed out after {RUN_TIMEOUT_S} s; log: {log}")
    lines = [l for l in out.splitlines() if l.strip()]
    if args.self_test:
        print("\n".join(lines))
        sys.exit(proc.returncode)
    if not lines or not lines[-1].startswith("{"):
        fail(f"no result (exit {proc.returncode}); log: {log}")
    print(with_all_layers(lines[-1]) if args.trace else lines[-1])
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
