#!/usr/bin/env python3
"""Run one workload of the connector benchmark.

    python3 connbench/run.py --workload scan|lookup|pipeline --seed N \
        --seconds S --trace 0|1 [--scale F]

Run from the repository root. The first run builds the program and the
benchmark with sbt into $CARGO_TARGET_DIR (default .bench_build); later
runs reuse that build while the sources are unchanged. Each run generates
its inputs from the seed (connbench/gen.py), serves them from an
in-process sharing server and measures in one JVM. The last line of
standard output is the result as JSON; the full artifact (stamps, metrics)
and the traced run's spans are written under $CARGO_TARGET_DIR/results.
"""

import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402

BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# C1 only: with C2, op times on a 4-core host keep falling for about 40 s
# of ops while C2 compiles, so a short run lands on a random point of that
# curve. C1 reaches its steady state within about one op (see NOTES.md).
JVM_OPTS = ["-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"connbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns[:] = sorted(d for d in dns if d not in ("target", "project"))
            files += [os.path.join(dp, f) for f in sorted(fns)]
    return files


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark install found (set SPARK_HOME)")
    return home


def build(out):
    """Compile the program and the benchmark unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"program sources not found under {ROOT}/src/main/scala")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath.txt")
    if (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home(), CARGO_TARGET_DIR=out,
               COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
        f"-Dsbt.global.base={os.path.join(out, 'sbt-global')}",
        "-Dsbt.server.autostart=false"])
    try:
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "exportRuntime"], cwd=BENCH, env=env, check=True,
                       stdout=sys.stderr, stdin=subprocess.DEVNULL,
                       timeout=BUILD_TIMEOUT_S)
    except (subprocess.SubprocessError, OSError) as e:
        die(f"build failed: {e}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read()


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        die("no java found (set JAVA_HOME)")
    return exe


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=["scan", "lookup", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (smoke tests use 0.01)")
    a = ap.parse_args()

    out = build_dir()
    classpath = build(out)
    results = os.path.join(out, "results")
    inputs = os.path.join(out, "inputs", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(inputs, ignore_errors=True)
    try:
        t0 = time.time()
        gen.generate(a.workload, a.seed, inputs, a.scale)
        gen_s = time.time() - t0
        cmd = [java(), *JVM_OPTS,
               f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
               "-cp", classpath, "connbench.Main",
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--input", inputs, "--out", results, "--gen-s", repr(gen_s),
               "--launch-ms", str(int(time.time() * 1000))]
        os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"run exceeded {RUN_TIMEOUT_S} s")
        except BaseException:
            proc.kill()
            proc.wait()
            raise
        if code != 0:
            die(f"benchmark JVM exited with {code}")
    finally:
        shutil.rmtree(inputs, ignore_errors=True)


if __name__ == "__main__":
    main()
