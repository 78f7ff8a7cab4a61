#!/usr/bin/env python3
"""Build the engine and the harness from source, run one workload, print its result.

    python3 loopbench/run.py --workload cdc_merge --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is the
result object: {"correct", "attempted", "failed", "metrics"}. Everything the
run writes stays under loopbench/target/; its tables, inputs and checkpoints
are removed when it exits. Traced runs (--trace 1) leave their side file in
loopbench/target/traces/. See loopbench/README.md.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "loopbench-classpath.txt")
WORKLOADS = ("xml_ingest", "cdc_merge", "history_read")

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs these (as the root build sets them).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[loopbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Hash of every input to the build, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles engine and harness with sbt; returns the runtime classpath."""
    stamp = sources_stamp()
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as fh:
            saved = fh.read().split("\n", 1)
        cp = saved[1].strip() if len(saved) == 2 else ""
        # the classpath points into the root build's target/ directories too,
        # which a clean there removes
        if saved[0] == stamp and cp and all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    log("building engine and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cp = next((l for l in reversed(lines) if "loopbench" in l and os.pathsep in l
               and not l.startswith("[")), None)
    if cp is None:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build did not report a classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def run(args, cp):
    work = os.path.join(TARGET, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    side = os.path.join(TARGET, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "loopbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--result", result, "--side", side]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
        if code != 0:
            raise SystemExit(f"benchmark JVM exited with {code}")
        with open(result) as fh:
            out = json.loads(fh.read())
        return out
    except subprocess.TimeoutExpired:
        raise SystemExit(f"benchmark JVM ran past {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def main():
    # A SIGTERM must still stop the JVM and remove the work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no engine sources next to the benchmark: run from a full checkout")
    out = run(args, build())
    for name, m in out["metrics"].items():
        print(f"{name:28s} {m['value']:.6g} {m['unit']}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
