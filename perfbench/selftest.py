#!/usr/bin/env python3
"""Self-test of the benchmark, on the tiny input variant.

    python3 perfbench/selftest.py [--seed N] [--workloads etl,curation]

For each workload it runs the benchmark untraced once and traced twice
with the same seed, and asserts:
- every metric named in BENCHMARK.json is emitted, with its unit;
- the tail percentile follows the rule "highest percentile with at
  least ten samples beyond it" (on synthetic samples and on the run);
- the exact counts (text.<seam>.rows, sources.scan_rows,
  compose.eager_jobs, streaming.batches) repeat exactly across the two
  traced runs.
Exits non-zero on the first failed assertion, or at the end when an
exact count moved (each one is printed with the job that moved it).
"""
import argparse
import json
import os
import random
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

EXACT = ("sources.scan_rows", "compose.eager_jobs", "streaming.batches")


def run(workload, seed, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--tiny"],
        capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    assert r.returncode == 0 and lines, f"{workload} trace={trace} failed:\n{r.stderr[-3000:]}"
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_tail_rule():
    rng = random.Random(7)
    for n in [1, 5, 11, 20, 21, 22, 40, 57, 200]:
        xs = [rng.random() for _ in range(n)]
        v, pct, count = metrics.tail(xs)
        assert count == n
        if n < 21:
            assert pct == 50.0 and v == metrics.median(xs), (n, v, pct)
            continue
        beyond = sum(1 for x in xs if x > v)
        assert beyond >= 10, (n, beyond)
        # the next order statistic up has fewer than ten beyond it
        nxt = sorted(xs)[n - 10]
        assert sum(1 for x in xs if x > nxt) < 10, n
        assert 50.0 <= pct < 100.0, (n, pct)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", default="etl,curation")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    check_tail_rule()
    print("selftest: tail rule ok")
    failures = 0
    for w in args.workloads.split(","):
        rep, line = run(w, args.seed, 0)
        for m in spec["end_to_end"]:
            got = line["metrics"].get(m["name"])
            assert got is not None and got["unit"] == m["unit"], (w, m["name"], got)
        assert line["correct"] and line["failed"] == 0, (w, rep["mismatches"], rep["errors"])
        traced = [run(w, args.seed, 1) for _ in range(2)]
        for tr, tl in traced:
            for m in spec["per_layer"]:
                got = tl["metrics"].get(m["name"])
                assert got is not None and got["unit"] == m["unit"], (w, m["name"], got)
            # the micro-batch tail on the run's own samples
            n = tr["metrics"]["streaming.batch_samples"]
            want = 50.0 if n < 21 else 100.0 * (n - 11) / (n - 1)
            assert tr["metrics"]["streaming.batch_tail_pct"] == want, (w, n, tr["metrics"])
        a, b = (t[1]["metrics"] for t in traced)
        exact = [k for k in a if k in EXACT or (k.startswith("text.") and k.endswith(".rows"))]
        moved = [k for k in exact if a[k]["value"] != b[k]["value"]]
        for k in moved:
            # the report's by_job.* breakdown names the job that moved
            where = {x: (traced[0][0]["metrics"][x], traced[1][0]["metrics"].get(x))
                     for x in traced[0][0]["metrics"] if x.startswith("by_job.")
                     and traced[0][0]["metrics"][x] != traced[1][0]["metrics"].get(x)}
            print(f"selftest: {w} {k} moved: {a[k]['value']} vs {b[k]['value']} {where}")
            failures += 1
        print(f"selftest: {w} {len(exact) - len(moved)}/{len(exact)} exact counts repeat; "
              f"{len(spec['end_to_end'])} end-to-end and {len(spec['per_layer'])} "
              f"per-layer metrics emitted")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
