#!/usr/bin/env python3
"""Run one cruxspark benchmark workload and print its result line.

    python3 perfbench/run.py --workload dl_hot --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the program and the benchmark
from source with sbt (offline) on first use, writes the fixed catalog once,
then runs the workload in one JVM and prints, as the last line of standard
output, one JSON object with the keys correct, attempted, failed and metrics.
The line before it is the run report: tail percentiles, write-side figures,
set-up samples and the machine-drift controls. Everything the benchmark
writes stays under .perfbench/ in the checkout. See perfbench/README.md.
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
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ["dl_hot", "dl_cold", "node_mixed", "stream_ingest"]
# Workloads that compile new plans on every step run with C1 only. Under C2
# their steps were still getting faster at the end of a run, by a margin
# that differed from run to run; under C1 latency is flat from the first
# timed step. dl_hot repeats preloaded plans, and C2 is at steady state
# before its window opens.
C1_ONLY = {"dl_cold", "node_mixed", "stream_ingest"}
RUN_TIMEOUT_S = 170
HEAP = "2g"
BUILD_TIMEOUT_S = 780
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_logged(cmd, cwd, log_path, timeout, env=None):
    """Run cmd in its own process group, output to log_path; kill the whole
    group on timeout and wait for it, so nothing outlives this script."""
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def tail(path, n=40):
    with open(path, "rb") as f:
        lines = f.read().decode("utf-8", "replace").splitlines()
    return "\n".join(lines[-n:])


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]:
        for d, dirs, files in os.walk(base):
            dirs.sort()
            for name in sorted(files):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    for p in [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]:
        if os.path.exists(p):
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + benchmark with sbt and record the runtime classpath."""
    stamp_path = os.path.join(WORK, "build.stamp")
    cp_path = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_path) and os.path.exists(cp_path):
        with open(stamp_path) as f:
            if f.read().strip() == stamp:
                with open(cp_path) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    sbt_tmp = os.path.join(WORK, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={sbt_tmp} -XX:-UsePerfData".strip()
    log = os.path.join(WORK, "build.log")
    t0 = time.time()
    code = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       "compile", "export Runtime/fullClasspath"],
                      HERE, log, BUILD_TIMEOUT_S, env)
    if code != 0:
        print(tail(log), file=sys.stderr)
        fail(f"build failed (exit {code})", 1)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cps = [l for l in lines if not l.startswith("[") and "perfbench" in l and os.pathsep in l]
    if not cps:
        fail("build printed no classpath", 1)
    with open(cp_path, "w") as f:
        f.write(cps[-1])
    with open(stamp_path, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cps[-1]


def java_cmd(cp, scratch, *args, c1_only=False):
    """The JVM command line; every temporary file goes under `scratch`."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed, pre-touched heap: GC sizing and resident memory then do not
    # drift from run to run with the collector's heap-growth decisions.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if c1_only:
        cmd.append("-XX:TieredStopAtLevel=1")
    for m in JAVA_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", cp] + list(args)


def catalog(cp):
    data = os.path.join(WORK, "data")
    if os.path.exists(os.path.join(data, "_DONE")):
        return data
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    log = os.path.join(WORK, "gen.log")
    code = run_logged(java_cmd(cp, os.path.join(WORK, "gen"), "perfbench.Main", "gen", data),
                      ROOT, log, RUN_TIMEOUT_S)
    if code != 0:
        print(tail(log), file=sys.stderr)
        fail(f"catalog generation failed (exit {code})", 1)
    open(os.path.join(data, "_DONE"), "w").close()
    return data


def main():
    # a terminated run still stops its JVM or sbt (see run_logged)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail("no cruxspark sources next to perfbench/; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    data = catalog(cp)

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "jvm.log")
    code = run_logged(java_cmd(cp, run_dir, "perfbench.Main", "run", "--workload", a.workload,
                               "--seed", str(a.seed), "--seconds", str(a.seconds),
                               "--trace", str(a.trace), "--data", data,
                               "--work", run_dir, "--out", out,
                               c1_only=a.workload in C1_ONLY),
                      ROOT, log, RUN_TIMEOUT_S)
    if code is None or not os.path.exists(out):
        print(tail(log), file=sys.stderr)
        fail("the run timed out" if code is None else f"the run failed (exit {code})", 1)
    with open(out) as f:
        res = json.load(f)
    # keep the trace for reading afterwards; drop the per-run state dirs
    for name in os.listdir(run_dir):
        p = os.path.join(run_dir, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    print("report " + json.dumps(res["report"]))
    print(json.dumps(res["result"]))
    if code != 0:
        print(tail(log), file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
