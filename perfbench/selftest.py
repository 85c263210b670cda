#!/usr/bin/env python3
"""Self-test of the benchmark harness on the smallest base tables.

    python3 perfbench/selftest.py

Run from the root of a checkout. For every workload it runs one pass
untraced and one traced, on the sf0.001 base tables, and checks that the
run succeeds, that no operation fails, and that the last line carries
exactly the end-to-end (untraced) or per-layer (traced) metrics named in
BENCHMARK.json. Then it corrupts one operation's output in a batch and in
the stream workload and checks that the run reports failures. Exits 0
when every check holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORRUPT = {"batch_queries": "q_group_agg", "event_stream": "pack_stream"}


def run(workload, trace, corrupt=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "0", "--trace", str(trace), "--base", "sf0.001"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd[1:])} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = json.load(open(os.path.join(HERE, "workloads.json")))["workloads"]
    names = {0: [m["name"] for m in bench["end_to_end"]], 1: [m["name"] for m in bench["per_layer"]]}
    problems = []
    for w in workloads:
        for trace in (0, 1):
            r = run(w, trace)
            ok = r["failed"] == 0 and r["correct"] and sorted(r["metrics"]) == sorted(names[trace])
            print(f"{w} trace={trace}: attempted={r['attempted']} failed={r['failed']} "
                  f"metrics={len(r['metrics'])}/{len(names[trace])} {'ok' if ok else 'FAIL'}")
            if not ok:
                problems.append(f"{w} trace={trace}")
    for w, op in CORRUPT.items():
        r = run(w, 0, corrupt=op)
        ok = r["failed"] > 0 and not r["correct"]
        print(f"{w} with {op} corrupted: fail_ratio={r['failed']}/{r['attempted']} "
              f"{'ok' if ok else 'FAIL: corruption not detected'}")
        if not ok:
            problems.append(f"{w} corrupt {op}")
    if problems:
        print("self-test FAILED: " + ", ".join(problems))
        return 1
    print("self-test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
