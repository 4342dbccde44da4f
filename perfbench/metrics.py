"""Metric derivation from the harness's result.json.

End-to-end metrics come from the untraced timed passes; per-layer
metrics from the traced passes of a `--trace 1` run (the median over
them, so a value is per pass whatever the pass count). A per-layer
metric the workload does not exercise reads 0.
"""
import statistics

SPAN_KINDS = ["pass", "job", "plan", "seam", "action", "spark_job", "stage"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it: the
    11th-largest sample, at rank percentile 100*(n-11)/(n-1). Below 21
    samples not even the median has ten beyond it, and the median stands
    in. Returns (value, percentile, n)."""
    n = len(xs)
    if n < 21:
        return median(xs), 50.0, n
    s = sorted(xs)
    return s[n - 11], 100.0 * (n - 11) / (n - 1), n


def pass_seconds(p):
    return sum(j["wall_s"] for j in p["jobs"])


def end_to_end(result, input_rows, input_bytes, out_bytes, cores):
    """(metrics, notes): `notes` carries the sample counts and percentiles."""
    timed = [p for p in result["passes"] if not p["traced"]]
    passes = [pass_seconds(p) for p in timed]
    walls = [j["wall_s"] for p in timed for j in p["jobs"]]
    pass_s = median(passes)
    m = {
        "setup_s": result["setup_s"],
        "pass_s": pass_s,
        "rows_per_s": input_rows / pass_s if pass_s else 0.0,
        "job_p50_s": median(walls),
        "peak_rss_mb": result["vm_hwm_kb"] / 1024.0,
        "out_bytes_per_in_byte": out_bytes / input_bytes if input_bytes else 0.0,
    }
    per_job = {}
    for p in timed:
        for j in p["jobs"]:
            per_job.setdefault(j["job"], []).append(j["wall_s"])
    notes = {"passes": len(passes), "pass_s_each": [round(x, 3) for x in passes],
             "job_samples": len(walls), "cores": cores,
             "job_wall_s": {k: round(median(v), 3) for k, v in per_job.items()}}
    return m, notes


def _resolve_parents(spans, spark_jobs):
    """Spark jobs (and their stages) become child spans: of the span whose
    job group they carry, else of the innermost span open at submission
    (streaming micro-batches run under the query's own group)."""
    by_group = {f"pb-{s['id']}": s for s in spans}
    depth = {}
    by_id = {s["id"]: s for s in spans}

    def d(s):
        if s["id"] not in depth:
            p = by_id.get(s["parent"])
            depth[s["id"]] = 0 if p is None else d(p) + 1
        return depth[s["id"]]

    out = {}
    for j in spark_jobs:
        parent = by_group.get(j["group"])
        if parent is None:
            t = j["start"]
            inside = [s for s in spans if s["start"] <= t and (s["end"] < 0 or t <= s["end"])]
            parent = max(inside, key=d) if inside else None
        out[j["job_id"]] = parent
    return out


def _self_times(spans):
    """Per kind: duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    tot = {k: 0.0 for k in SPAN_KINDS}
    for s in spans:
        if s["end"] < 0:
            continue
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in kids.get(s["id"], []) if c["end"] >= 0)
        covered, cur_s, cur_e = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        tot[s["kind"]] = tot.get(s["kind"], 0.0) + (s["end"] - s["start"] - covered) / 1000.0
    return tot


def _one_pass(p, cores):
    m = {}
    spans = list(p["spans"])
    jobs = p["spark_jobs"]
    parents = _resolve_parents(spans, jobs)
    by_job_id = {j["job_id"]: j for j in jobs}
    # Spark jobs and stages as spans, for the self-time split
    spark_spans = []
    for j in jobs:
        par = parents.get(j["job_id"])
        end = j["end"] if j["end"] >= 0 else j["start"]
        spark_spans.append({"id": f"j{j['job_id']}", "parent": par["id"] if par else 0,
                            "kind": "spark_job", "start": j["start"], "end": end})
    for st in p["stages"]:
        if st["start"] >= 0 and st["end"] >= 0 and st["job_id"] in by_job_id:
            spark_spans.append({"id": f"s{st['stage_id']}", "parent": f"j{st['job_id']}",
                                "kind": "stage", "start": st["start"], "end": st["end"]})
    selfs = _self_times(spans + spark_spans)
    for k in SPAN_KINDS:
        m[f"self.{k}_s"] = selfs.get(k, 0.0)

    kind_of = {s["id"]: s for s in spans}
    wall = pass_seconds(p)
    m["compose.plan_s"] = sum(j["plan_s"] for j in p["jobs"])
    m["compose.action_s"] = sum(j["wall_s"] - j["plan_s"] for j in p["jobs"])
    eager = [j for j in jobs if (parents.get(j["job_id"]) or {}).get("kind") in ("plan", "seam")]
    m["compose.eager_jobs"] = sum(1 for j in eager if j["succeeded"])
    for j in p["jobs"]:
        m[f"job.{j['job']}.wall_s"] = j["wall_s"]

    # curation seams: wall is the span (the delta since the previous seam)
    for j in p["jobs"]:
        for seam in j["seams"]:
            sp = kind_of.get(seam["span"])
            name = seam["seam"]
            m[f"text.{name}.wall_s"] = (sp["end"] - sp["start"]) / 1000.0 if sp else 0.0
            m[f"text.{name}.rows"] = seam["rows"]
            m[f"text.{name}.shuffle_bytes"] = sum(
                x["shuffle_write"] for x in jobs
                if (parents.get(x["job_id"]) or {}).get("id") == seam["span"])

    # per benchmark job, to locate a count that moves between runs
    def owner(x):
        sp = parents.get(x["job_id"])
        while sp is not None and sp["kind"] != "job":
            sp = kind_of.get(sp["parent"])
        return sp["name"] if sp else "?"
    for x in jobs:
        o = owner(x)
        m[f"by_job.{o}.scan_rows"] = m.get(f"by_job.{o}.scan_rows", 0) + x["in_records"]
        if x in eager:
            m[f"by_job.{o}.eager_jobs"] = m.get(f"by_job.{o}.eager_jobs", 0) + 1

    m["sources.scan_bytes"] = sum(j["in_bytes"] for j in jobs)
    m["sources.scan_rows"] = sum(j["in_records"] for j in jobs)
    m["sources.write_bytes"] = sum(j["out_bytes"] for j in jobs)
    m["sources.files_written"] = sum(j["files_written"] for j in p["jobs"])

    cpu_s = sum(j["cpu_ns"] for j in jobs) / 1e9
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = len(p["stages"])
    m["exec.tasks"] = sum(j["tasks"] for j in jobs)
    m["exec.task_cpu_s"] = cpu_s
    m["exec.task_run_s"] = sum(j["run_ms"] for j in jobs) / 1000.0
    m["exec.cpu_util"] = cpu_s / (wall * cores) if wall else 0.0
    m["exec.shuffle_read_bytes"] = sum(j["shuffle_read"] for j in jobs)
    m["exec.shuffle_write_bytes"] = sum(j["shuffle_write"] for j in jobs)
    m["exec.spill_bytes"] = sum(j["spill"] for j in jobs)
    skews = [max(st["task_run_ms"]) / max(statistics.median(st["task_run_ms"]), 1.0)
             for st in p["stages"] if len(st["task_run_ms"]) >= 2]
    m["exec.max_task_skew"] = max(skews) if skews else 1.0
    m["exec.gc_s"] = sum(j["gc_ms"] for j in jobs) / 1000.0
    m["exec.failed_tasks"] = sum(j["failed_tasks"] for j in jobs)

    m["cache.peak_storage_bytes"] = p["cache_peak_bytes"]
    m["cache.persisted_after_job"] = sum(j["persisted_after_job"] for j in p["jobs"])

    prog = p["progress"]
    triggers = [x["trigger_ms"] / 1000.0 for x in prog]
    last = {}
    for x in prog:
        last[x["query"]] = x
    m["streaming.batches"] = len(prog)
    m["streaming.input_rows"] = sum(x["input_rows"] for x in prog)
    m["streaming.add_batch_s"] = sum(x["add_batch_ms"] for x in prog) / 1000.0
    m["streaming.wal_commit_s"] = sum(x["wal_commit_ms"] for x in prog) / 1000.0
    m["streaming.query_planning_s"] = sum(x["query_planning_ms"] for x in prog) / 1000.0
    m["streaming.state_rows"] = sum(x["state_rows"] for x in last.values())
    m["streaming.state_mem_bytes"] = sum(x["state_mem_bytes"] for x in last.values())
    m["streaming.state_commit_s"] = sum(x["state_commit_ms"] for x in prog) / 1000.0
    m["streaming.checkpoint_bytes"] = sum(j["checkpoint_bytes"] for j in p["jobs"])
    m["streaming.batch_p50_s"] = median(triggers)
    m["streaming.batch_tail_s"], m["streaming.batch_tail_pct"], m["streaming.batch_samples"] = \
        tail(triggers)

    m["jvm.gc_s"] = p["gc_ms"] / 1000.0
    m["jvm.heap_peak_mb"] = p["heap_peak_bytes"] / 2 ** 20
    m["pass_s"] = wall
    return m


def per_layer(result, cores):
    traced = [p for p in result["passes"] if p["traced"]]
    untraced = [p for p in result["passes"] if not p["traced"]]
    per = [_one_pass(p, cores) for p in traced]
    keys = set().union(*per) if per else set()
    m = {k: median([x.get(k, 0.0) for x in per]) for k in keys}
    m["session.build_s"] = result["session_build_s"]
    m["session.warmup_s"] = result["warmup_s"]
    m["tracing.overhead_s"] = (median([pass_seconds(p) for p in traced]) -
                               median([pass_seconds(p) for p in untraced]))
    m.pop("pass_s", None)
    return m
