#!/usr/bin/env python3
"""Per-rep variance attribution for LegBench runs (r15 verdict #2, made
a STANDING witness by r16 verdict #4): slice a Spark event log by the
epoch windows each rep line prints and report, per (rep, dir, leg):
wall vs summed executor task time vs shuffle read/write bytes vs disk
spill. A rep whose wall is 3x the family median while its task time and
shuffle bytes match the others is ENVIRONMENTAL (scheduler stall,
page-cache state, device contention); one whose task time or spill
moves with the wall is DATAFLOW.

Reads LegBench's rep lines (every family, and every named part of a
cell: {"leg_rep":N,"dir":...,"leg":...,"secs":...,"t0_ms":...,
"t1_ms":...}).

With --sizes (comma list of <dir-basename>=<row-count>), also emits a
per-leg exponent table for every adjacent dir pair: the WALL exponent
(median- and min-protocol, log10(t_hi/t_lo)/log10(size_ratio)) next to
the BYTES exponent over shuffle-write bytes (min across reps — bytes
are a dataflow property and should be rep-constant; a rep-varying
bytes reading is itself a finding). The bytes exponent is the
drift-immune scaling witness: the device can inflate seconds, not
bytes.

Usage: attr_reps.py <legbench-stdout-log> <eventlog-file-or-dir>
       [--json OUT] [--sizes d1=N,d2=M,...]
"""
import sys, json, re, os
from statistics import median
from math import log10

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from eventlog_stages import newest_log, event_lines, stage_record


def rep_windows(stdout_log):
    reps = []
    for line in open(stdout_log, errors="replace"):
        m = re.search(r'\{"leg_rep":.*\}', line)
        if not m:
            continue
        try:
            d = json.loads(m.group(0))
        except json.JSONDecodeError:
            continue
        reps.append({"rep": d["leg_rep"], "dir": d["dir"], "leg": d["leg"],
                     "secs": d["secs"], "t0_ms": d["t0_ms"],
                     "t1_ms": d["t1_ms"]})
    return reps


def main():
    args = sys.argv[1:]
    out_json, sizes = None, {}
    if "--json" in args:
        i = args.index("--json"); out_json = args[i + 1]; del args[i:i + 2]
    if "--sizes" in args:
        i = args.index("--sizes")
        sizes = {k: float(v) for k, v in
                 (kv.split("=") for kv in args[i + 1].split(","))}
        del args[i:i + 2]
    reps = rep_windows(args[0])
    stages = []
    for line in event_lines(newest_log(args[1])):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        if ev.get("Event") == "SparkListenerStageCompleted":
            s = stage_record(ev["Stage Info"])
            if s["sub_ms"]:
                stages.append(s)
    gb = 1 << 30
    out = []
    print(f"{'rep':>3} {'dir':<16} {'leg':<28} {'wall_s':>8} {'task_s':>9} "
          f"{'shufW_GB':>9} {'shufR_GB':>9} {'spill_GB':>9} {'in_GB':>7} {'stages':>7}")
    for r in reps:
        w0, w1 = r["t0_ms"], r["t1_ms"]
        # a stage belongs to the rep whose window contains its submission
        mine = [s for s in stages if w0 <= s["sub_ms"] <= w1]
        row = {"rep": r["rep"], "dir": os.path.basename(r["dir"]),
               "leg": r["leg"], "wall_s": round(r["secs"], 2),
               "task_s": round(sum(s["task_time_s"] for s in mine), 1),
               "shuf_write_gb": round(sum(s["shuf_write_b"] for s in mine) / gb, 3),
               "shuf_read_gb": round(sum(s["shuf_read_b"] for s in mine) / gb, 3),
               "spill_disk_gb": round(sum(s["spill_disk_b"] for s in mine) / gb, 3),
               "input_gb": round(sum(s["input_b"] for s in mine) / gb, 3),
               "n_stages": len(mine)}
        out.append(row)
        print(f"{row['rep']:>3} {row['dir']:<16} {row['leg']:<28} "
              f"{row['wall_s']:>8.1f} {row['task_s']:>9.1f} "
              f"{row['shuf_write_gb']:>9.3f} {row['shuf_read_gb']:>9.3f} "
              f"{row['spill_disk_gb']:>9.3f} {row['input_gb']:>7.2f} "
              f"{row['n_stages']:>7}")

    exponents = []
    if sizes:
        dirs = [d for d in sizes if any(r["dir"] == d for r in out)]
        dirs.sort(key=lambda d: sizes[d])
        legs = sorted({r["leg"] for r in out})
        print(f"\n{'leg':<28} {'lo->hi':<28} {'ratio':>6} "
              f"{'exp_wall_med':>12} {'exp_wall_min':>12} {'exp_bytes':>10}")
        for leg in legs:
            for lo, hi in zip(dirs, dirs[1:]):
                lo_r = [r for r in out if r["leg"] == leg and r["dir"] == lo]
                hi_r = [r for r in out if r["leg"] == leg and r["dir"] == hi]
                if not lo_r or not hi_r:
                    continue
                ratio = sizes[hi] / sizes[lo]
                def exp(f, agg):
                    a, b = agg(f(r) for r in lo_r), agg(f(r) for r in hi_r)
                    return round(log10(b / a) / log10(ratio), 3) if a > 0 and b > 0 else None
                row = {"leg": leg, "lo": lo, "hi": hi, "size_ratio": ratio,
                       "exp_wall_median": exp(lambda r: r["wall_s"], median),
                       "exp_wall_min": exp(lambda r: r["wall_s"], min),
                       "exp_bytes_shufw": exp(lambda r: r["shuf_write_gb"], min)}
                exponents.append(row)
                print(f"{leg:<28} {lo + '->' + hi:<28} {ratio:>6.1f} "
                      f"{str(row['exp_wall_median']):>12} "
                      f"{str(row['exp_wall_min']):>12} "
                      f"{str(row['exp_bytes_shufw']):>10}")
    if out_json:
        payload = {"reps": out, "exponents": exponents} if sizes else out
        json.dump(payload, open(out_json, "w"), indent=1)


if __name__ == "__main__":
    main()
