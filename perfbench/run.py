#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload produce_small --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program (the
repository's own sbt build) and the harness that depends on it (sbt,
offline; the harness's outputs go to .bench_build/) and later runs reuse that
build while the sources are unchanged. The harness JVM prints a
report line and, last, the result line
{"correct", "attempted", "failed", "metrics"}. Untraced runs (--trace 0)
report the end-to-end metrics; traced runs (--trace 1) report the per-layer
metrics, and this script adds a tracing-overhead line: the traced run's
end-to-end values minus those of an untraced run of the same workload and
seed on the same build.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("produce_small", "curate_stream", "produce_consume")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "4g"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(want):
    """Compile program + harness unless the build of source stamp `want` is
    there already; return the classpath."""
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log})")
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed (exit {p.returncode}, log: {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


def run_jvm(cp, args):
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work]
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log})")
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out, log


def overhead_line(args, report, build_stamp):
    """Traced minus untraced end-to-end values of the same workload, seed and
    build: the untraced run saves its values for the traced run to use."""
    saved = os.path.join(BUILD, "results", f"{args.workload}-seed{args.seed}-untraced.json")
    e2e = report.get("e2e", {})
    if args.trace == 0:
        os.makedirs(os.path.dirname(saved), exist_ok=True)
        with open(saved, "w") as fh:
            json.dump({"build": build_stamp, "e2e": e2e}, fh)
        return None
    base = None
    if os.path.exists(saved):
        with open(saved) as fh:
            base = json.load(fh)
    if base is None or base.get("build") != build_stamp:
        return {"tracing_overhead": None,
                "reason": "no untraced run of this workload and seed on this build yet"}
    return {"tracing_overhead": {
        k: {"traced": v, "untraced": base["e2e"][k], "delta": v - base["e2e"][k]}
        for k, v in e2e.items() if k in base["e2e"]}}


def result_line(lines):
    """The harness's result object (its last line), or None."""
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None
    return res if isinstance(res, dict) and "correct" in res else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the root of a checkout holding the program's sources")
    build_stamp = stamp()
    cp = build(build_stamp)
    start = time.time()
    code, out, log = run_jvm(cp, args)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if result_line(lines) is None:
        sys.stdout.write(out)
        fail(f"harness exited {code} without a result (log: {log})", code or 1)
    report = {}
    for ln in lines[:-1]:
        print(ln)
        if ln.startswith("{\"report\""):
            report = json.loads(ln)["report"]
    extra = overhead_line(args, report, build_stamp)
    if extra is not None:
        print(json.dumps(extra))
    print(f"perfbench: {args.workload} seed {args.seed} ran {time.time() - start:.1f} s",
          file=sys.stderr)
    print(lines[-1])
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
