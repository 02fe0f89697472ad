#!/usr/bin/env python3
"""Toy-size self-test of the pipeline benchmark.

Run from the root of a checkout:

    python3 perfbench/selftest.py

For every workload, on the tiny (sf0.001-sized) tables, it checks that

  * an untraced run passes its output checks and emits exactly the
    end-to-end metrics of BENCHMARK.json;
  * a traced run passes its output checks, emits exactly the per-layer
    metrics of BENCHMARK.json (each described in perfbench/layers.json) and
    writes a span dump whose pipelines each have a root span;
  * a run whose expected outputs are deliberately corrupted reports
    failures, prints `correct: false` and exits non-zero.

Exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SECONDS = "3"


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", SECONDS, "--trace", str(trace), "--toy", *extra]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(r.stderr[-4000:])
        check(False, f"{workload} trace={trace} {extra}: no result line (exit {r.returncode})")
    return r.returncode, result


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    e2e = {m["name"] for m in bench["end_to_end"]}
    per_layer = {m["name"] for m in bench["per_layer"]}
    check(per_layer == set(layers["per_layer"]), "every per-layer metric is described in layers.json")
    check({w["name"] for w in bench["workloads"]} == set(layers["workloads"]),
          "every workload is described in layers.json")

    for w in sorted(layers["workloads"]):
        code, res = run(w, 0)
        check(code == 0 and res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
              f"{w}: untraced run passes its output checks ({res['attempted']} pipelines)")
        check(set(res["metrics"]) == e2e, f"{w}: every end-to-end metric is emitted")
        check(all(m["value"] > 0 for m in res["metrics"].values()),
              f"{w}: every end-to-end metric is positive")

        code, res = run(w, 1)
        check(code == 0 and res["correct"] and res["failed"] == 0,
              f"{w}: traced run passes its output checks")
        check(set(res["metrics"]) == per_layer, f"{w}: every per-layer metric is emitted")
        with open(os.path.join(ROOT, ".perfbench", "traces", f"{w}-seed7.json")) as f:
            spans = json.load(f)["spans"]
        pipelines = {s["pipeline"] for s in spans}
        roots = {s["pipeline"] for s in spans if s["parent"] == -1}
        check(pipelines and roots == pipelines, f"{w}: each traced pipeline has a root span")

        code, res = run(w, 0, "--corrupt-expected")
        check(code != 0 and not res["correct"] and res["failed"] > 0,
              f"{w}: a corrupted expected output is reported as a failure")
    print("selftest passed")


if __name__ == "__main__":
    main()
