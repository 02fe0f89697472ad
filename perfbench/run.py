#!/usr/bin/env python3
"""Pipeline benchmark: build, generate inputs, run one workload.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl --seed 1 --seconds 20 --trace 0

Workloads: etl, delta_upsert, remote_small, or `all` to run the three in
turn and end with one line for all of them. The first call in a checkout
compiles the engine and the benchmark with sbt (offline) and writes the
input tables; later calls reuse both until a source file changes. All state
lives under `.perfbench/` in the checkout: `build/` (classpath and log),
`data/` (input tables, one root per source digest and size), `work/`
(per-run scratch, removed when the run ends) and `traces/` (span dumps of
traced runs).

The engine runs in one JVM with `local[N]`, N = nproc capped at 4, and a
2 GiB heap. Nothing else about the session is set: it comes from
`graft.Sessions` as the CLI builds it.

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`. The exit code is non-zero when an
output is wrong or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ["etl", "delta_upsert", "remote_small"]
HEAP = "2g"
MAX_CORES = 4
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# a run must end within 180 s; one that builds first may take 900 s
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 880

_child = None
_timed_out = False


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, timeout, relay=False, **kw):
    """Runs cmd in its own process group and waits for it; kills the group
    when `timeout` passes. With `relay`, copies its standard output through
    and returns the lines. Returns (exit code, lines)."""
    global _child, _timed_out
    if relay:
        kw.update(stdout=subprocess.PIPE, text=True)
    _child = subprocess.Popen(cmd, start_new_session=True, **kw)
    _timed_out = False
    timer = threading.Timer(max(1.0, timeout), kill_child, kwargs={"timed_out": True})
    timer.start()
    lines = []
    try:
        if relay:
            for line in _child.stdout:
                sys.stdout.write(line)
                sys.stdout.flush()
                lines.append(line.rstrip("\n"))
        code = _child.wait()
    finally:
        timer.cancel()
    if _timed_out:
        fail(f"{os.path.basename(cmd[0])} exceeded {timeout:.0f} s")
    return code, lines


def kill_child(timed_out=False):
    global _timed_out
    if _child is not None and _child.poll() is None:
        _timed_out = _timed_out or timed_out
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _child.wait()


def on_signal(signum, _frame):
    kill_child()
    sys.exit(128 + signum)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest, deadline):
    """Compiles with sbt unless the classpath for this source digest exists.
    Returns the classpath and whether it compiled."""
    out = os.path.join(STATE, "build")
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as s, open(cp_file) as c:
            if s.read() == digest:
                return c.read(), False
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", "-Dsbt.server.autostart=false",
           "export perfbench/Runtime/fullClasspath"]
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        code, _ = run_child(cmd, deadline - time.time(), cwd=HERE, env=env,
                            stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = [ln.strip() for ln in fh if "perfbench" in ln and
                 not ln.startswith("[") and os.pathsep in ln]
    if code != 0 or not lines:
        fail(f"build failed (exit {code}); see {log}")
    with open(cp_file, "w") as c:
        c.write(lines[-1])
    with open(stamp, "w") as s:
        s.write(digest)
    return lines[-1], True


def generate(cp, cores, digest, toy, deadline):
    """Writes the input tables unless this source digest already did. Toy
    tables have a root of their own; roots of other digests are removed.
    Returns the data directory and whether it generated."""
    key = digest[:16]
    data = os.path.join(STATE, "data", key + ("-toy" if toy else ""))
    ready = os.path.join(data, "READY")
    if os.path.exists(ready):
        return data, False
    parent = os.path.dirname(data)
    if os.path.isdir(parent):
        for name in os.listdir(parent):
            if not name.startswith(key):
                shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
    tmp = os.path.join(STATE, "work", f"gen-{os.getpid()}")
    try:
        code, _ = java(cp, cores, ["gen", "--data", data] + (["--toy"] if toy else []),
                       deadline, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        fail(f"input generation failed (exit {code})")
    open(ready, "w").close()
    return data, True


def java(cp, cores, main_args, deadline, tmp, relay=False):
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
               SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    return run_child(cmd + main_args, deadline - time.time(), relay=relay,
                     env=env, stdin=subprocess.DEVNULL)


def commit_id(digest):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "source-sha256:" + digest[:16]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"],
                   help="one workload, or all of them in turn")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--toy", action="store_true",
                   help="tiny tables, for the self-test")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="alter every expected output, for the self-test")
    a = p.parse_args()

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    start, load1 = time.time(), os.getloadavg()[0]
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"engine sources not found under {ROOT}; run from a full checkout")
    nproc = len(os.sched_getaffinity(0))
    cores = min(nproc, MAX_CORES)

    digest = source_digest()
    deadline = start + BUILD_BUDGET_S
    cp, built = build(digest, deadline)
    data, generated = generate(cp, cores, digest, a.toy, deadline)
    if not (built or generated):
        deadline = start + RUN_BUDGET_S

    results = []
    for w in WORKLOADS if a.workload == "all" else [a.workload]:
        # each workload of `all` gets the per-run budget of its own
        if results:
            deadline = time.time() + RUN_BUDGET_S
        results.append(run_workload(w, a, cp, cores, nproc, data, digest, load1, deadline))
    if a.workload == "all":
        # one line for all workloads, metric names prefixed with the workload
        print(json.dumps({
            "correct": all(r["correct"] for _, r in results),
            "attempted": sum(r["attempted"] for _, r in results),
            "failed": sum(r["failed"] for _, r in results),
            "metrics": {f"{w}.{k}": v for w, (_, r) in zip(WORKLOADS, results)
                        for k, v in r["metrics"].items()},
        }))
    sys.exit(max(code for code, _ in results))


def run_workload(workload, a, cp, cores, nproc, data, digest, load1, deadline):
    """Runs one workload in its own JVM; returns (exit code, result)."""
    work = os.path.join(STATE, "work", f"{workload}-{a.seed}-{os.getpid()}")
    args = ["--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", os.path.join(work, "run"),
            "--nproc", str(nproc), "--heap", HEAP, "--commit", commit_id(digest),
            "--load1", f"{load1:.2f}"]
    if a.trace:
        args += ["--spans", os.path.join(STATE, "traces", f"{workload}-seed{a.seed}.json")]
    if a.toy:
        args.append("--toy")
    if a.corrupt_expected:
        args.append("--corrupt-expected")
    try:
        code, lines = java(cp, cores, args, deadline, os.path.join(work, "tmp"), relay=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    try:
        return code, json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"{workload}: benchmark printed no result (exit {code})", code or 3)


if __name__ == "__main__":
    main()
