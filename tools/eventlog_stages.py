#!/usr/bin/env python3
"""Per-stage attribution from a Spark event log: wall, task time, shuffle
read/write bytes, spill, input bytes — the ground truth for (a) sizing
the verify stage's candidate×array intermediate (r15 verdict #4) and
(b) separating environmental variance from dataflow per rep on the
wide-span rungs (r15 verdict #2).

Spark 4 event logs are V2 rolling-log DIRECTORIES
(eventlog_v2_<appid>/events_N_<appid>[.zstd]) and carry task metrics as
internal.metrics.* accumulables; per-stage totals are read from each
SparkListenerStageCompleted's accumulable Values.

Usage: eventlog_stages.py <eventlog-file-or-dir> [--json OUT] [--top N] [--sql]

With a plain directory, picks the most recent application log inside.
Prints a per-stage table (top N by wall) and a totals line; --json dumps
the full per-stage list for committing into a BENCH_* artifact.

--sql prints per SQL execution instead (top N by plan text): the
description, the plan-description bytes it started with, its AQE update
count and bytes, its job count, and how much of its wall its jobs cover
(job-covered ms) versus driver-only ms (planning, plan rendering, driver
loops). A totals line follows; --json dumps every execution.
"""
import sys, json, os, glob, io, subprocess

M = "internal.metrics."


def newest_log(path):
    """Resolve to a single-file log or a V2 rolling-log dir."""
    if os.path.isfile(path) or os.path.basename(path).startswith("eventlog_v2_"):
        return path
    entries = glob.glob(os.path.join(path, "*"))
    v2 = [p for p in entries if os.path.isdir(p)
          and os.path.basename(p).startswith("eventlog_v2_")]
    files = [p for p in entries if os.path.isfile(p)]
    cands = v2 + files
    if not cands:
        sys.exit(f"no event logs under {path}")
    return max(cands, key=os.path.getmtime)


def event_lines(path):
    """Yield JSON lines from a log file or a V2 rolling-log dir,
    decompressing .zstd parts via the zstd CLI."""
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "events_*")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        parts = [path]
    import shutil
    zstd = (shutil.which("zstd")
            or next((c for c in ("/root/miniconda/bin/zstd",
                                 "/usr/bin/zstd", "/usr/local/bin/zstd")
                     if os.path.exists(c)), "zstd"))
    for p in parts:
        if p.endswith(".zstd"):
            proc = subprocess.Popen([zstd, "-dc", p],
                                    stdout=subprocess.PIPE)
            f = io.TextIOWrapper(proc.stdout, errors="replace")
        else:
            f = open(p, errors="replace")
        with f:
            yield from f


def stage_record(si):
    acc = {a["Name"]: a.get("Value", 0) for a in si.get("Accumulables", [])
           if a.get("Name", "").startswith(M)}
    sub, comp = si.get("Submission Time"), si.get("Completion Time")
    return {
        "stage": si["Stage ID"],
        "attempt": si["Stage Attempt ID"],
        "name": si.get("Stage Name", "")[:80],
        "tasks": si.get("Number of Tasks", 0),
        "sub_ms": sub,
        "wall_s": round((comp - sub) / 1e3, 3) if sub and comp else None,
        "failed": si.get("Failure Reason") is not None,
        "task_time_s": round(acc.get(M + "executorRunTime", 0) / 1e3, 1),
        "shuf_write_b": acc.get(M + "shuffle.write.bytesWritten", 0),
        "shuf_read_b": acc.get(M + "shuffle.read.localBytesRead", 0)
                       + acc.get(M + "shuffle.read.remoteBytesRead", 0),
        "spill_mem_b": acc.get(M + "memoryBytesSpilled", 0),
        "spill_disk_b": acc.get(M + "diskBytesSpilled", 0),
        "input_b": acc.get(M + "input.bytesRead", 0),
        "output_b": acc.get(M + "output.bytesWritten", 0),
    }


def parse(path):
    stages = []
    for line in event_lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        if ev.get("Event") == "SparkListenerStageCompleted":
            stages.append(stage_record(ev["Stage Info"]))
    return sorted(stages, key=lambda s: -(s["wall_s"] or 0))


SQL = "org.apache.spark.sql.execution.ui."


def covered_ms(spans):
    """Total length of the union of (start, end) spans."""
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def parse_sql(path):
    """Per-SQL-execution plan text, AQE updates and job coverage."""
    execs, job_exec, job_start, job_spans = {}, {}, {}, {}
    for line in event_lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event", "")
        if kind == SQL + "SparkListenerSQLExecutionStart":
            execs[ev["executionId"]] = {
                "id": ev["executionId"],
                "description": ev.get("description", "")[:80],
                "start_ms": ev.get("time"), "end_ms": None,
                "plan_bytes": len(ev.get("physicalPlanDescription", "").encode()),
                "aqe_updates": 0, "aqe_bytes": 0}
        elif kind == SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            e = execs.get(ev["executionId"])
            if e:
                e["aqe_updates"] += 1
                e["aqe_bytes"] += len(ev.get("physicalPlanDescription", "").encode())
        elif kind == SQL + "SparkListenerSQLExecutionEnd":
            e = execs.get(ev["executionId"])
            if e:
                e["end_ms"] = ev.get("time")
        elif kind == "SparkListenerJobStart":
            eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            if eid is not None:
                job_exec[ev["Job ID"]] = int(eid)
                job_start[ev["Job ID"]] = ev.get("Submission Time")
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_exec and job_start.get(jid) is not None:
                job_spans.setdefault(job_exec[jid], []).append(
                    (job_start[jid], ev.get("Completion Time")))
    for eid, e in execs.items():
        spans = [s for s in job_spans.get(eid, []) if s[1] is not None]
        e["jobs"] = len(spans)
        e["job_ms"] = covered_ms(spans)
        wall = (e["end_ms"] - e["start_ms"]) if e["end_ms"] and e["start_ms"] else None
        e["wall_ms"] = wall
        e["driver_ms"] = wall - e["job_ms"] if wall is not None else None
    return sorted(execs.values(), key=lambda e: e["id"])


def main_sql(path, top, out_json):
    execs = parse_sql(path)
    kb = 1024
    print(f"# {path} — {len(execs)} SQL executions")
    print(f"{'exec':>5} {'wall_ms':>8} {'plan_KB':>8} {'aqe_n':>5} "
          f"{'aqe_KB':>8} {'jobs':>4} {'job_ms':>7} {'drv_ms':>7}  description")
    for e in sorted(execs, key=lambda e: -(e["plan_bytes"] + e["aqe_bytes"]))[:top]:
        print(f"{e['id']:>5} {e['wall_ms'] or 0:>8} {e['plan_bytes']/kb:>8.1f} "
              f"{e['aqe_updates']:>5} {e['aqe_bytes']/kb:>8.1f} {e['jobs']:>4} "
              f"{e['job_ms']:>7} {e['driver_ms'] or 0:>7}  {e['description']}")
    print(json.dumps({"log": os.path.basename(path),
                      "n_executions": len(execs),
                      "max_start_plan_bytes": max((e["plan_bytes"] for e in execs), default=0),
                      "start_plan_bytes": sum(e["plan_bytes"] for e in execs),
                      "aqe_updates": sum(e["aqe_updates"] for e in execs),
                      "aqe_update_bytes": sum(e["aqe_bytes"] for e in execs),
                      "jobs": sum(e["jobs"] for e in execs),
                      "job_covered_ms": sum(e["job_ms"] for e in execs),
                      "driver_only_ms": sum(e["driver_ms"] or 0 for e in execs)}))
    if out_json:
        json.dump({"log": os.path.basename(path), "executions": execs},
                  open(out_json, "w"), indent=1)


def main():
    args = [a for a in sys.argv[1:]]
    out_json = None
    top = 20
    if "--json" in args:
        i = args.index("--json"); out_json = args[i + 1]; del args[i:i + 2]
    if "--top" in args:
        i = args.index("--top"); top = int(args[i + 1]); del args[i:i + 2]
    sql = "--sql" in args
    if sql:
        args.remove("--sql")
    path = newest_log(args[0] if args else "target/eventlog")
    if sql:
        return main_sql(path, top, out_json)
    stages = parse(path)
    gb = 1 << 30
    tot = {k: sum(s[k] for s in stages) for k in
           ("task_time_s", "shuf_write_b", "shuf_read_b",
            "spill_mem_b", "spill_disk_b", "input_b", "output_b")}
    print(f"# {path} — {len(stages)} stages")
    print(f"{'stage':>6} {'wall_s':>8} {'task_s':>9} {'shufW_GB':>9} "
          f"{'shufR_GB':>9} {'spill_GB':>9} {'in_GB':>7}  name")
    for s in stages[:top]:
        print(f"{s['stage']:>6} {s['wall_s'] or 0:>8.1f} "
              f"{s['task_time_s']:>9.1f} {s['shuf_write_b']/gb:>9.3f} "
              f"{s['shuf_read_b']/gb:>9.3f} {s['spill_disk_b']/gb:>9.3f} "
              f"{s['input_b']/gb:>7.2f}  {s['name']}")
    print(json.dumps({"log": os.path.basename(path),
                      "n_stages": len(stages),
                      "total_task_time_s": round(tot["task_time_s"], 1),
                      "total_shuffle_write_gb": round(tot["shuf_write_b"]/gb, 3),
                      "total_shuffle_read_gb": round(tot["shuf_read_b"]/gb, 3),
                      "total_spill_disk_gb": round(tot["spill_disk_b"]/gb, 3),
                      "total_input_gb": round(tot["input_b"]/gb, 3)}))
    if out_json:
        json.dump({"log": os.path.basename(path), "stages": stages,
                   "totals": tot}, open(out_json, "w"), indent=1)


if __name__ == "__main__":
    main()
