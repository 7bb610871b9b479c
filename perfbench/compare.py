#!/usr/bin/env python3
"""Collect and compare sets of benchmark runs.

    python3 perfbench/compare.py collect SET.jsonl --seeds 1-10 [--workloads a,b]
    python3 perfbench/compare.py compare BASE.jsonl NEW.jsonl
    python3 perfbench/compare.py summary SET.jsonl

A run set is a JSON-lines file, one line per run:
{"workload", "seed", "elapsed_s", "result"}, where "result" is the run's
last stdout line. `compare` reports, per workload x end-to-end metric,
each side's median and quartiles (statistics.quantiles, n=4) with the
sample count, and a verdict against the bound in spec.json:

  within    medians differ by no more than the bound in the worse direction
  worse     the new median is worse than the base median by more than the bound
  better    every new run reads better than every base run
  unresolved  either side's spread (q3 - q1) / median exceeds the bound

Exit code 1 when any pair is worse or unresolved.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(BENCH, "spec.json")) as f:
    SPEC = json.load(f)
METRICS = {m["name"]: m for m in SPEC["end_to_end"]}
LISTED_WORKLOADS = [w["name"] for w in SPEC["workloads"] if w["listed"]]


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def collect(path, workloads, seed_list, trace):
    for seed in seed_list:
        for w in workloads:
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                 "--seed", str(seed), "--trace", str(trace)],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                cwd=os.path.dirname(BENCH))
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            rec = {"workload": w, "seed": seed, "elapsed_s": round(time.time() - t0, 1),
                   "exit": p.returncode, "result": result}
            with open(path, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(json.dumps({k: rec[k] for k in ("workload", "seed", "elapsed_s", "exit")}),
                  flush=True)


def load(path):
    """{workload: {metric: [values]}} plus failed-run counts."""
    vals, failed = {}, {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            res = rec.get("result")
            w = rec["workload"]
            if not res or not res.get("correct"):
                failed[w] = failed.get(w, 0) + 1
                continue
            for m, v in res["metrics"].items():
                vals.setdefault(w, {}).setdefault(m, []).append(v["value"])
    return vals, failed


def stats(xs):
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
    return {"n": len(xs), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def verdict(metric, base, new, a, b):
    bound = METRICS[metric]["bound"]
    lower = METRICS[metric]["better"] == "lower"
    if max(a["spread"], b["spread"]) > bound:
        all_better = (max(new) < min(base)) if lower else (min(new) > max(base))
        return "better" if all_better else "unresolved"
    change = (b["median"] - a["median"]) / a["median"]
    worse_by = change if lower else -change
    return "worse" if worse_by > bound else "within"


def summary(path):
    vals, failed = load(path)
    out = {}
    for w, ms in sorted(vals.items()):
        out[w] = {m: {k: round(v, 6) for k, v in stats(xs).items()} for m, xs in ms.items()}
        out[w]["failed_runs"] = failed.get(w, 0)
    return out


def compare(base_path, new_path):
    base, bf = load(base_path)
    new, nf = load(new_path)
    bad = False
    print(f"{'workload':14} {'metric':15} {'base median [q1,q3] n':34} "
          f"{'new median [q1,q3] n':34} verdict")
    for w in sorted(set(base) | set(new)):
        for m in METRICS:
            xs, ys = base.get(w, {}).get(m), new.get(w, {}).get(m)
            if not xs or not ys:
                print(f"{w:14} {m:15} missing on one side")
                bad = True
                continue
            a, b = stats(xs), stats(ys)
            v = verdict(m, xs, ys, a, b)
            bad |= v in ("worse", "unresolved")
            fmt = lambda s: f"{s['median']:.4g} [{s['q1']:.4g},{s['q3']:.4g}] n={s['n']}"
            print(f"{w:14} {m:15} {fmt(a):34} {fmt(b):34} {v}"
                  f"  (spread {a['spread']:.3f}/{b['spread']:.3f}, bound {METRICS[m]['bound']})")
    for w in sorted(set(bf) | set(nf)):
        print(f"{w}: failed runs base={bf.get(w, 0)} new={nf.get(w, 0)}")
        bad |= nf.get(w, 0) > 0
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("out")
    c.add_argument("--seeds", required=True, help="N or N-M")
    c.add_argument("--workloads", default=",".join(LISTED_WORKLOADS))
    c.add_argument("--trace", type=int, default=0)
    p = sub.add_parser("compare")
    p.add_argument("base")
    p.add_argument("new")
    s = sub.add_parser("summary")
    s.add_argument("set")
    a = ap.parse_args()
    if a.cmd == "collect":
        collect(a.out, a.workloads.split(","), seeds(a.seeds), a.trace)
        return 0
    if a.cmd == "summary":
        print(json.dumps(summary(a.set), indent=1))
        return 0
    return compare(a.base, a.new)


if __name__ == "__main__":
    sys.exit(main())
