#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, in
perfbench/; rebuilt only when a source file changes), then runs the workload
in one JVM at local[4] and prints its result. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. Everything the
run writes (classes aside, which sbt keeps in perfbench/target) goes under
$CARGO_TARGET_DIR, default .bench_build/: the classpath stamp, the generated
input tables (cached by workload, seed and generator fingerprint), the
world-scale tables, Spark's scratch space and the span files of traced runs.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

BENCH = "perfbench"
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest(root):
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(root, BENCH)]
    for d in dirs:
        for base, subdirs, files in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(base, f)
                    h.update(p[len(root):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    with open(os.path.join(root, BENCH, "project", "build.properties"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def classpath(root, work):
    stamp = os.path.join(work, "classpath.json")
    digest = sources_digest(root)
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("sources") == digest:
            return s["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=os.path.join(root, BENCH), env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    text = out.decode(errors="replace")
    if code != 0:
        sys.stderr.write(text[-6000:])
        fail(f"build failed (sbt exit {code})")
    lines = [l for l in text.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        sys.stderr.write(text[-6000:])
        fail("build printed no classpath")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"sources": digest, "classpath": cp}, fh)
    return cp


def main():
    # a terminated run.py takes its build or JVM process group down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("src/main/scala", "golden", f"{BENCH}/build.sbt", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a checkout: {need} is missing")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    known = [w["name"] for w in spec["workloads"]]
    if a.workload not in known:
        fail(f"unknown workload {a.workload!r}; known: {', '.join(known)}")

    work = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = classpath(root, work)

    cmd = ["java", *HEAP, "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(root, BENCH, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
            str(a.trace), work]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=root, env=env, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL)
    text = out.decode(errors="replace")
    lines = text.splitlines()
    if code != 0 or not lines:
        sys.stdout.write(text)
        fail(f"benchmark JVM exited with {code}")

    result = json.loads(lines[-1])
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    got = list(result["metrics"])
    if sorted(got) != sorted(want):
        fail(f"metrics {sorted(set(got) ^ set(want))} differ from BENCHMARK.json")
    sys.stdout.write("\n".join(lines[:-1] + [json.dumps(result)]) + "\n")


if __name__ == "__main__":
    main()
