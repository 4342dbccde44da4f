#!/usr/bin/env python3
"""Assemble BENCH_ANCHOR_r{N}.json from the close's paired same-boot
bench runs (campaign.sh close). Emits, per BASELINE.md:

- the paired pre/HEAD per-query map + suite ratios (drift control);
- r01_contract: the historical 58-query table vs BENCH_r01.json;
- full_contract (round 18+, r17 verdict #1): EVERY registered query vs
  its frozen BASELINE_r17.json median, same noise-floored rule
  (breach = ratio > 2 AND absolute excess > 0.5 s). Queries added
  after the freeze are listed under `unfrozen` — they get a frozen
  value at the next baseline refresh and until then are covered by
  their scaling artifacts only.

Exit 1 if any contract row breaches, so a regression fails the close.

Usage: close_anchor.py <round> <pre_commit> <head_bench.json> <pre_bench.json>
"""
import json, os, re, statistics, subprocess, sys

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")


def contract_rows(current, frozen, label):
    common = sorted(k for k in frozen if k in current and current[k])
    table = {}
    for k in common:
        base = frozen[k]
        ratio = current[k] / base
        table[k] = {label: round(base, 3), "head": round(current[k], 3),
                    "ratio": round(ratio, 3),
                    "breach": bool(ratio > 2.0 and current[k] - base > 0.5)}
    return table, common


def main():
    n, pre_commit, head_path, pre_path = sys.argv[1:5]
    head = json.load(open(head_path))
    pre = json.load(open(pre_path))
    hq, pq = head["queries"], pre["queries"]
    common = sorted(k for k in hq if k in pq and hq[k] and pq[k])
    ratios = {k: round(hq[k] / pq[k], 4) for k in common}

    r01 = dict((m.group(1), float(m.group(2))) for m in re.finditer(
        r'"(q_\w+)":([0-9.]+)',
        json.load(open(os.path.join(ROOT, "BENCH_r01.json")))["tail"]))
    r01_table, r01_common = contract_rows(hq, r01, "r01")

    frozen = json.load(open(os.path.join(ROOT, "BASELINE_r17.json")))["queries"]
    full_table, full_common = contract_rows(
        hq, {k: v["secs"] for k, v in frozen.items()}, "frozen")
    for k in full_common:
        full_table[k]["frozen_at"] = frozen[k]["frozen_at"]

    breaches_r01 = sorted(k for k, v in r01_table.items() if v["breach"])
    breaches_full = sorted(k for k, v in full_table.items() if v["breach"])

    out = {
        "protocol": (
            "SAME-BOOT paired anchor (BASELINE.md): the previous round's "
            "close commit and HEAD, each a full-surface 3-rep median bench "
            "at sf0.1 in its own clean clone, run back-to-back in one "
            "session. The suite median ratio is the round's performance "
            "delta; raw BENCH_r{N} totals are drift-confounded and rebutted "
            "by this artifact. r01_contract: the historical 58-query table "
            "vs BENCH_r01.json. full_contract: EVERY registered query vs "
            "its frozen BASELINE_r17.json median under the noise-floored "
            "rule (breach = ratio > 2 AND absolute excess > 0.5 s)."),
        "pre_commit": pre_commit,
        "head_commit": subprocess.check_output(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"]
        ).decode().strip(),
        "pre_total_s": round(pre["value"], 1),
        "head_total_s": round(head["value"], 1),
        "n_common": len(common),
        "suite_median_ratio": round(statistics.median(ratios.values()), 4),
        "suite_total_ratio": round(
            sum(hq[k] for k in common) / sum(pq[k] for k in common), 4),
        "pre_n_errors": pre["n_errors"], "head_n_errors": head["n_errors"],
        "per_query": {k: {"pre": round(pq[k], 3), "head": round(hq[k], 3),
                          "ratio": ratios[k]} for k in common},
        "head_only": sorted(k for k in hq if k not in pq),
        "pre_only": sorted(k for k in pq if k not in hq),
        "r01_contract": {
            "n_queries": len(r01_common),
            "median_ratio": round(statistics.median(
                r01_table[k]["ratio"] for k in r01_common), 4),
            "max_ratio": round(
                max(r01_table[k]["ratio"] for k in r01_common), 4),
            "breaches": breaches_r01,
            "per_query": r01_table,
        },
        "full_contract": {
            "n_queries": len(full_common),
            "median_ratio": round(statistics.median(
                full_table[k]["ratio"] for k in full_common), 4),
            "max_ratio": round(
                max(full_table[k]["ratio"] for k in full_common), 4),
            "breaches": breaches_full,
            "unfrozen": sorted(k for k in hq if k not in frozen),
            "per_query": full_table,
        },
    }
    json.dump(out, open(os.path.join(ROOT, f"BENCH_ANCHOR_r{n}.json"), "w"), indent=1)
    worst = sorted(ratios.items(), key=lambda kv: -kv[1])[:5]
    print(json.dumps({
        "pre_total": out["pre_total_s"], "head_total": out["head_total_s"],
        "suite_median_ratio": out["suite_median_ratio"],
        "suite_total_ratio": out["suite_total_ratio"], "worst5": worst,
        "r01_breaches": breaches_r01, "full_breaches": breaches_full,
        "full_median_ratio": out["full_contract"]["median_ratio"],
        "full_max_ratio": out["full_contract"]["max_ratio"],
        "unfrozen": out["full_contract"]["unfrozen"]}))
    if breaches_r01 or breaches_full:
        print("CONTRACT BREACH — close fails", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
