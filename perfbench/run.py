#!/usr/bin/env python3
"""The repository benchmark: one command, one closed-loop client.

    python3 perfbench/run.py --workload etl|curation|stream|all \
        --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program from source (see
build.py), generates the workload's inputs from the seed (gen.py), runs
the JVM harness (scala/perfbench/Harness.scala) on one local Spark
session sized to the machine's cores, checks every job output of the
last pass against the program's DuckDB oracles (check.py), and prints
the metrics named in BENCHMARK.json (metrics.py). The last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. `--workload all` runs the three workloads in turn and prefixes
every metric with its workload name. The exit code is 0 only when every
job ran and matched its oracle.

Everything a run writes stays in the checkout: under .bench_build/, and
the program's staging under target/stage (see StageRedirect.scala). The
run directory and the staging paths the run created are removed at the
end.

Time budget: the build (first run only) is outside it. Each workload
then has DEADLINE_S for input generation, the oracle results (both once
per seed) and the harness.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["etl", "curation", "stream"]
# the tables each workload's jobs read: the base of rows_per_s and of
# out_bytes_per_in_byte
TABLES = {
    "etl": ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
            "events"],
    "curation": ["documents", "embeddings"],
    "stream": ["events"],
}
DEADLINE_S = 165
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def du(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def tree(path):
    out = set()
    for d, dirs, files in os.walk(path):
        out.update(os.path.join(d, x) for x in dirs + files)
    return out


def generator_key():
    """Hash of the generator and its base tables: inputs made by another
    generator are never reused."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "gen.py")] + sorted(
        os.path.join(d, f) for d, _, fs in os.walk(gen.BASE) for f in fs)
    for f in files:
        h.update(os.path.relpath(f, HERE).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:12]


def input_dir(seed, tiny):
    d = os.path.join(build.BUILD, "inputs",
                     f"{'tiny' if tiny else 'full'}-s{seed}-{generator_key()}")
    if not os.path.isdir(d):
        gen.generate(d, seed, tiny=tiny)
    return os.path.abspath(d)


def run_jvm(cp, workload, inp, run_dir, seconds, trace, budget_s):
    for sub in ["tmp", "local", "warehouse"]:
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(cores())
    cmd = ["java", "-XX:-UsePerfData"]  # no hsperfdata file outside the checkout
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # fixed heap and young generation: the resident footprint then tracks
    # what the program retains, not how G1 happened to size its young gen
    cmd += ["-Xms4g", "-Xmx4g", "-Xmn768m",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/local",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            "-cp", cp, "perfbench.Harness",
            "--workload", workload, "--input", inp, "--run-dir", run_dir,
            "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    with open(os.path.join(run_dir, "jvm.out"), "w") as out, \
            open(os.path.join(run_dir, "jvm.err"), "w") as err:
        proc = subprocess.Popen(cmd, stdout=out, stderr=err, env=env)
        try:
            rc = proc.wait(timeout=max(budget_s, 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: {workload} harness exceeded its time budget")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.err")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"perfbench: {workload} harness exited with {rc}")
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


def run_workload(workload, seed, seconds, trace, cp, program, tiny=False):
    t_start = time.time()
    inp = input_dir(seed, tiny)
    # the reference results, before the harness starts: outside every
    # timed figure, set-up included
    expected = check.oracles(program["jobs"][workload], inp,
                             os.path.join(build.BUILD, "oracle", os.path.basename(inp)),
                             program["oracle_sql"], cores())
    run_dir = os.path.abspath(os.path.join(
        build.BUILD, "runs", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # the program's staging root, mapped into the checkout
    stage_root = os.path.join("target", "stage")
    stage_before = tree(stage_root)
    try:
        budget = DEADLINE_S - (time.time() - t_start)
        result = run_jvm(cp, workload, inp, run_dir, seconds, trace, budget)
        # what the program left staged: the files of the paths this run created
        stage_new = tree(stage_root) - stage_before
        leftover = sum(os.path.getsize(p) for p in stage_new if os.path.isfile(p))
        last = result["passes"][-1]
        mismatch = {}
        for j in last["jobs"]:
            if j["ok"]:
                why = check.compare(j["job"], os.path.join(last["out"], j["job"]),
                                    expected[j["job"]])
                if why:
                    mismatch[j["job"]] = why
        # a job whose output mismatched fails on every attempt; a job
        # that threw fails on that attempt
        attempts = [j for p in result["passes"] for j in p["jobs"]]
        failed = sum(1 for j in attempts if not j["ok"] or j["job"] in mismatch)
        out_bytes = sum(j["out_bytes"] for j in last["jobs"])
        counts = gen.row_counts(inp)
        rows = sum(counts[t] for t in TABLES[workload])
        in_bytes = sum(du(os.path.join(inp, f"{t}.parquet")) for t in TABLES[workload])
        e2e, notes = metrics.end_to_end(result, rows, in_bytes, out_bytes, cores())
        layer = metrics.per_layer(result, cores()) if trace else {}
        if trace:
            layer["sources.stage_leftover_bytes"] = leftover
        report = {
            "workload": workload, "seed": seed, "trace": int(trace),
            "input_rows": rows, "input_bytes": in_bytes,
            "rows_per_s": e2e.pop("rows_per_s"),
            "attempted": len(attempts), "failed": failed,
            "failed_frac": failed / len(attempts),
            "errors": result["errors"], "mismatches": mismatch,
            "stage_leftover_bytes": leftover,
            **notes,
        }
        return e2e, layer, report
    finally:
        # remove only what this run created
        for p in sorted(tree(stage_root) - stage_before, key=len, reverse=True):
            if os.path.isdir(p) and not os.path.islink(p):
                shutil.rmtree(p, ignore_errors=True)
            elif os.path.lexists(p):
                os.remove(p)
        shutil.rmtree(run_dir, ignore_errors=True)


def load_spec():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="run on the tiny input variant (self-test)")
    args = ap.parse_args(argv)
    spec = load_spec()
    cp = build.build()
    with open(build.PROGRAM) as fh:
        program = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    out_metrics, attempted, failed = {}, 0, 0
    for w in workloads:
        e2e, layer, report = run_workload(
            w, args.seed, args.seconds, bool(args.trace), cp, program, tiny=args.tiny)
        got = layer if args.trace else e2e
        attempted += report["attempted"]
        failed += report["failed"]
        report["metrics"] = got
        # the full report first; the compact result line always comes last
        print(json.dumps(report, sort_keys=True))
        prefix = f"{w}." if args.workload == "all" else ""
        for m in wanted:
            out_metrics[prefix + m["name"]] = {"value": float(got.get(m["name"], 0.0)),
                                               "unit": m["unit"]}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}, separators=(",", ":")))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
