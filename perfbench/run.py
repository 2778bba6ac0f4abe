#!/usr/bin/env python3
"""Pipeline-cycle and registry-slice benchmark launcher.

    python3 perfbench/run.py --workload <pipeline_steady|registry_slice> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck
    python3 perfbench/run.py --pin      # print the registry rows' count/digest

Builds the benchmark together with the engine sources of this checkout
(sbt, first run only or when a source changes), then runs one workload in a
single JVM and prints the result object as the last line of stdout. All
generated inputs, state and temp files live under perfbench/.work and are
removed when the run ends. See perfbench/README.md for the workloads and
metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "perfbench.classpath")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("pipeline_steady", "registry_slice")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, if it is present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return {m["name"] for m in json.load(f)["per_layer" if trace else "end_to_end"]}


def source_stamp():
    """Hash of every input of the build, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(base):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    print("perfbench: building (sbt)", file=sys.stderr)
    try:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false",
             "-Dsbt.server.forcestart=false", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build exceeded {BUILD_TIMEOUT_S} s")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, main_args):
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
           f"-Dperfbench.home={HERE}",
           f"-Dperfbench.work={WORK}",
           f"-Dperfbench.t0={int(time.time() * 1000)}",
           "-cp", cp, "perfbench.Main", *main_args]
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(WORK, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(WORK, ignore_errors=True)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    if not (a.selfcheck or a.pin) and a.workload is None:
        fail("--workload, --selfcheck or --pin is required")
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, os.getcwd())}")
    cp = build()
    main_args = (["--selfcheck"] if a.selfcheck else ["--pin"] if a.pin else
                 ["--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace)])
    rc, out = run_jvm(cp, main_args)
    lines = out.splitlines()
    sys.stdout.write("".join(l + "\n" for l in lines[:-1]))
    if a.selfcheck or a.pin:
        print(lines[-1] if lines else "")
        sys.exit(rc)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if rc != 0 or not isinstance(result, dict) or set(result) != {
            "correct", "attempted", "failed", "metrics"}:
        if lines:
            print(lines[-1], file=sys.stderr)
        fail(f"benchmark JVM exited {rc} without a result")
    want = declared_metrics(a.trace)
    if want is not None and set(result["metrics"]) != want:
        fail(f"metrics {sorted(set(result['metrics']) ^ want)} differ from BENCHMARK.json")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
