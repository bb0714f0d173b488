#!/usr/bin/env python3
"""Engine benchmark driver.

    python3 perfbench/run.py --workload <json_ingest|http_stream|corpus_dedup>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source with sbt (once; later runs
reuse the build until a source file changes), runs the workload in one JVM,
and prints a context line, a details line and, last, the result as one JSON
object. Run from the root of the repository. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
CLASSPATH = os.path.join(BENCH, "target", "perfbench-classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# A fixed, pre-touched heap: when collections run does not depend on when
# the collector chose to grow the heap, and no run pays page faults for
# heap it touches first. peak_mem_mb is read from the collections, so it
# follows what the run holds, not this size.
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs).
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


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        for base in (ROOT, BENCH):
            if os.path.exists(os.path.join(base, f)):
                yield os.path.join(base, f)


def sbt_version():
    props = os.path.join(ROOT, "project", "build.properties")
    if os.path.exists(props):
        for line in open(props):
            if line.strip().startswith("sbt.version"):
                return line.split("=", 1)[1].strip()
    return None


def build():
    """Compiles engine + benchmark unless the recorded build is current."""
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            return open(CLASSPATH).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    cmd = ["sbt", "-batch"]
    v = sbt_version()
    if v:
        cmd.append(f"-Dsbt.version={v}")
    cmd += ["compile", "export Runtime/fullClasspath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip() + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1].strip()


def cpu_steal():
    """Host steal jiffies and all jiffies so far (Linux /proc/stat)."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(classpath, args):
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    out = os.path.join(WORK, "result.txt")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--work", WORK, "--out", out] + args)
    t0 = time.time()
    steal0 = cpu_steal()
    # SPARK_LOCAL_DIRS would take Spark's scratch files out of the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, env=env,
                         stdout=sys.stderr, start_new_session=True)
    try:
        code = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    steal1 = cpu_steal()
    print(f"perfbench: JVM ran {time.time() - t0:.1f} s", file=sys.stderr)
    lines = open(out).read().splitlines() if os.path.exists(out) else []
    # host CPU steal during the run: like calib_s, a contention covariate
    if lines and lines[0].startswith("context {"):
        ctx = json.loads(lines[0][len("context "):])
        ctx["cpu_steal_pct"] = round(100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 2)
        lines[0] = "context " + json.dumps(ctx, sort_keys=True, separators=(",", ":"))
    return code, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}; run from a repository checkout")
    if not a.selftest and not a.workload:
        fail("--workload is required")
    classpath = build()
    if a.selftest:
        code, _ = run_jvm(classpath, ["--selftest"])
        shutil.rmtree(WORK, ignore_errors=True)
        sys.exit(code)
    code, lines = run_jvm(classpath, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace)])
    spans = [f for f in os.listdir(WORK) if f.endswith("-spans.jsonl")] if os.path.isdir(WORK) else []
    if spans:
        os.makedirs(os.path.join(BENCH, "out"), exist_ok=True)
        for f in spans:
            shutil.move(os.path.join(WORK, f), os.path.join(BENCH, "out", f))
    shutil.rmtree(WORK, ignore_errors=True)
    if code != 0 or len(lines) < 1:
        fail(f"workload run failed (exit {code})")
    for line in lines:
        print(line, flush=True)


if __name__ == "__main__":
    main()
