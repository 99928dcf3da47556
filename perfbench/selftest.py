#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs (pb-etl: 300 train rows;
queries: sf0.001). Run from the root of a checkout:

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it asserts that
  - an untraced run prints every end-to-end metric with its unit, and
    passes its correctness checks;
  - a traced run prints every per-layer metric with its unit, and the
    span self-times of each operation add up to its wall time within 5 %
    (checked from the harness's own figure and from spans.json: every
    span of an operation lies inside it);
  - a run with a planted digest mismatch counts a failure.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, plant=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if plant:
        cmd.append("--plant-mismatch")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, f"{workload} trace={trace} failed:\n{p.stderr[-3000:]}"
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    report = re.search(r"\[perfbench\] report (\S+)", p.stderr).group(1)
    return res, os.path.dirname(report)


def check_metrics(res, wanted, what):
    got = res["metrics"]
    assert set(got) == {m["name"] for m in wanted}, \
        f"{what}: metric names differ: {set(got) ^ {m['name'] for m in wanted}}"
    for m in wanted:
        assert got[m["name"]]["unit"] == m["unit"], (what, m["name"])
        assert isinstance(got[m["name"]]["value"], (int, float)), (what, m["name"])


def check_nesting(run_dir):
    spans = {s["id"]: s for s in json.load(open(os.path.join(run_dir, "spans.json")))}
    for s in spans.values():
        if s["parent"] >= 0:
            p = spans[s["parent"]]
            assert p["start_ms"] <= s["start_ms"] <= s["end_ms"] <= p["end_ms"], (p, s)


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for w in (x["name"] for x in bench["workloads"]):
        res, _ = run(w, 0)
        check_metrics(res, bench["end_to_end"], f"{w} untraced")
        assert res["correct"] and res["failed"] == 0, f"{w}: checks failed: {res}"
        print(f"ok   {w}: end-to-end metrics, correctness ({res['attempted']} attempted)")

        res, run_dir = run(w, 1)
        check_metrics(res, bench["per_layer"], f"{w} traced")
        err = res["metrics"]["trace.self_cover_err"]["value"]
        assert err <= 0.05, f"{w}: span self-times miss an operation's wall by {err:.1%}"
        check_nesting(run_dir)
        print(f"ok   {w}: per-layer metrics, self-times cover each operation (err {err:.2e})")

        res, _ = run(w, 0, plant=True)
        assert not res["correct"] and res["failed"] >= 1, f"{w}: planted mismatch unseen: {res}"
        print(f"ok   {w}: planted mismatch counted ({res['failed']}/{res['attempted']} failed)")
    print("selftest passed")


if __name__ == "__main__":
    main()
