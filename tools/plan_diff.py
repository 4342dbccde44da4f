#!/usr/bin/env python3
"""Join strategies per registered query, from the event logs of two
`graft.Verify` runs, and where they differ.

Each SQL execution's final plan is its last AQE update (else the plan it
started with). A query owns the executions from the previous Verify write
up to and including its own write, whose plan names the query's output
dir; so eager cuts and stages built while the query is constructed count
for it. Per query the tool counts the join operators of those final
plans, the operator multiset, and the Spark jobs those executions ran,
in both runs.

Usage: plan_diff.py <eventlog-a> <eventlog-b> [--verify-dir NAME]

Log the runs with `SPARK_GRAFT_EVENTLOG_DIR=<dir>` (see
`GraftSession.local`); `--verify-dir` is the last path segment of
Verify's output dir (default `verify`); to compare two runs of one
checkout, write them to two dirs that both end in it. Prints one line
per query whose join counts or operator multiset differ (with the
operator delta), one per query whose job count differs, then a JSON
summary line.
"""
import collections
import json
import re
import sys

from eventlog_stages import SQL, event_lines, newest_log

JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
         "BroadcastNestedLoopJoin", "CartesianProduct")


def tree_ops(plan):
    """Operator names of a formatted plan's tree (its final plan, under AQE)."""
    lines = plan.split("\n\n", 1)[0].splitlines()
    if any("== Final Plan ==" in l for l in lines):
        start = next(i for i, l in enumerate(lines) if "== Final Plan ==" in l)
        end = next((i for i, l in enumerate(lines)
                    if "== Initial Plan ==" in l), len(lines))
        lines = lines[start + 1:end]
    ops = []
    for l in lines:
        body = l.lstrip(" +-:|*")
        if not body or body.startswith("=="):
            continue
        ops.append(body.split(" ", 1)[0].split("(", 1)[0])
    return ops


def per_query(path, verify_dir):
    """query → (Counter of the operators of its executions' final plans,
    the number of jobs those executions ran)."""
    final, order, jobs = {}, [], collections.Counter()
    for line in event_lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event", "")
        if kind in (SQL + "SparkListenerSQLExecutionStart",
                    SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            eid = ev["executionId"]
            if eid not in final:
                order.append(eid)
            final[eid] = ev.get("physicalPlanDescription", "")
        elif kind == "SparkListenerJobStart":
            eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            if eid is not None:
                jobs[int(eid)] += 1
    out_dir = re.compile(r"/" + re.escape(verify_dir) + r"/(q_\w+)")
    queries, pending, pending_jobs = {}, collections.Counter(), 0
    for eid in order:
        plan = final[eid]
        pending.update(tree_ops(plan))
        pending_jobs += jobs[eid]
        m = out_dir.search(plan) if "InsertIntoHadoopFsRelationCommand" in plan else None
        if m:
            queries[m.group(1)] = (pending, pending_jobs)
            pending, pending_jobs = collections.Counter(), 0
    return queries


def main():
    args = sys.argv[1:]
    verify_dir = "verify"
    if "--verify-dir" in args:
        i = args.index("--verify-dir")
        verify_dir = args[i + 1]
        del args[i:i + 2]
    a, b = (per_query(newest_log(p), verify_dir) for p in args[:2])
    joins_changed, ops_changed, jobs_changed = [], [], []
    none = (collections.Counter(), 0)
    for q in sorted(set(a) | set(b)):
        (ca, na), (cb, nb) = a.get(q, none), b.get(q, none)
        ja = {j: ca[j] for j in JOINS if ca[j]}
        jb = {j: cb[j] for j in JOINS if cb[j]}
        delta = {k: cb[k] - ca[k] for k in sorted(set(ca) | set(cb)) if cb[k] != ca[k]}
        if ja != jb:
            joins_changed.append(q)
            print(f"JOINS {q}: {ja} -> {jb}; ops {delta}")
        elif ca != cb:
            ops_changed.append(q)
            print(f"OPS   {q}: {delta}")
        if na != nb:
            jobs_changed.append(q)
            print(f"JOBS  {q}: {na} -> {nb}")
    print(json.dumps({"queries_a": len(a), "queries_b": len(b),
                      "only_a": sorted(set(a) - set(b)),
                      "only_b": sorted(set(b) - set(a)),
                      "joins_changed": joins_changed,
                      "ops_changed": ops_changed,
                      "jobs_changed": jobs_changed}))


if __name__ == "__main__":
    main()
