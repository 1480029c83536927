#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. On first use (and whenever a source file
changes) the harness is built together with the engine's sources by sbt;
then one JVM runs the workload (see perfbench/README.md). The result line is
a JSON object with exactly the keys correct, attempted, failed and metrics.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics; a traced run also leaves its spans in
.perfbench/traces/. The exit code is 0 only when every output checked out.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SOURCES = os.path.join(ROOT, "src", "main", "scala")
BUILD_FILES = [os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "perfbench-sources.sha256")
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("star_etl", "query_mix")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# the heap graft.Bench and the verify script give the engine, with the
# default collector
HEAP = "8g"
# Spark 4 on JDK 17 needs these when a session is built outside spark-submit.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(code, msg):
    log(msg)
    sys.exit(code)


def source_files():
    for base in (ENGINE_SOURCES, os.path.join(HERE, "src", "main", "scala")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                if f.endswith(".scala") or f.endswith(".java"):
                    yield os.path.join(d, f)
    yield from BUILD_FILES


def fingerprint():
    h = hashlib.sha256()
    for path in source_files():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, stdout):
    """Run cmd in its own process group; kill the whole group on timeout or
    when this script is interrupted, and wait for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                            start_new_session=True, text=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    old = signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        stop()
        return None, None
    except KeyboardInterrupt:
        stop()
        raise
    finally:
        signal.signal(signal.SIGTERM, old)


def build():
    stamp = fingerprint()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp:
                return
    if shutil.which("sbt") is None:
        fail(4, "sbt is not on PATH; it builds the harness")
    log("building the harness and the engine (sbt compile)")
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        HERE, BUILD_TIMEOUT_S, subprocess.PIPE)
    if code != 0:
        sys.stderr.write(out or "")
        fail(4, f"build failed (exit {code})")
    # `export` prints the classpath as a bare line after sbt's own log lines
    classpath = [l for l in out.splitlines() if l and not l.startswith("[")][-1]
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(classpath + "\n")
    with open(STAMP_FILE, "w") as f:
        f.write(stamp + "\n")


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def check_result(result, expected):
    """The harness's last line must carry exactly the metrics BENCHMARK.json
    names, with their units, as finite numbers."""
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not isinstance(result.get("attempted"), int) or result["attempted"] < 1:
        problems.append("attempted must be a whole number >= 1")
    if not isinstance(result.get("failed"), int) or result["failed"] < 0:
        problems.append("failed must be a whole number >= 0")
    metrics = result.get("metrics", {})
    if set(metrics) != set(expected):
        problems.append(f"metrics differ from BENCHMARK.json: "
                        f"missing {sorted(set(expected) - set(metrics))}, "
                        f"extra {sorted(set(metrics) - set(expected))}")
    for name, m in metrics.items():
        v = m.get("value")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or v != v:
            problems.append(f"{name} is not a number: {v}")
        if name in expected and m.get("unit") != expected[name]:
            problems.append(f"{name} unit {m.get('unit')} != {expected[name]}")
    return problems


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ENGINE_SOURCES, "graft")):
        fail(2, f"engine sources not found under {ENGINE_SOURCES}; "
                "run from a full checkout of the repository")
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail(2, "BENCHMARK.json not found at the repository root")
    build()
    with open(CLASSPATH_FILE) as f:
        classpath = f.read().strip()

    scratch = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scratch", scratch, "--out", os.path.join(WORK, "traces")]
    try:
        code, out = run_child(cmd, scratch, RUN_TIMEOUT_S, subprocess.PIPE)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if code is None:
        fail(5, f"{args.workload} did not finish within {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(5, f"{args.workload} harness exited with {code}")
    try:
        raw = json.loads(lines[-1])
    except json.JSONDecodeError:
        fail(5, f"unparseable harness output: {lines[-1][:200]}")
    result = {k: raw[k] for k in ("correct", "attempted", "failed", "metrics") if k in raw}
    problems = check_result(result, expected_metrics(args.trace == 1))
    if problems:
        fail(3, "malformed result: " + "; ".join(problems))
    print(f"perfbench: workload={args.workload} seed={raw.get('seed')} "
          f"seconds={args.seconds} trace={args.trace}")
    print(json.dumps(result, separators=(",", ":")))
    sys.stdout.flush()
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
