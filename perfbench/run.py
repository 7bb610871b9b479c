#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kmer_k8 --seed 1 --seconds 12 --trace 0

Steps, all inside the checkout:
  1. build the program and the harness from source (perfbench/build.py);
  2. generate the workload's inputs from --seed (perfbench/gen.py),
     reused when the seed and parameters repeat;
  3. compute the expected result digests with DuckDB (perfbench/oracle.py),
     once per seed and oracle text, outside any timed window;
  4. run the workload in its own JVM at local[nproc]: session, untimed
     set-up, one discarded cold pass and the workload's discarded JIT
     warm-up passes (spec.json warmup_passes), then warm passes for --seconds;
     with --trace 1, also traced passes and the cumulative prefix chain;
  5. compare every pass's digests with DuckDB's and print, as the last
     line, {"correct", "attempted", "failed", "metrics"}: the end-to-end
     metrics with --trace 0, the per-layer metrics with --trace 1.

Lines before the last one carry the host context, the input sizes, the
sample count behind each metric and (traced) the self time per layer.
The exit code is non-zero when a digest is wrong or a step fails.
Metric names, units and the per-layer to end-to-end map are in spec.json.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

with open(os.path.join(BENCH, "spec.json")) as f:
    SPEC = json.load(f)
WORKLOADS = {w["name"]: w for w in SPEC["workloads"]}
DATA = os.path.join(BENCH, ".data")
WORK = os.path.join(BENCH, ".work")
DEADLINE_S = 170  # a listed workload's run must end within 180 s


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def run_jvm(classpath, args, timeout, stderr_path):
    """Run the harness in its own process group; kill the group on timeout."""
    cmd = ["java", *build.JVM_FLAGS, f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-cp", classpath, "perfbench.Harness", *args]
    env = dict(os.environ, SPARK_GRAFT_OUT_DIR=os.path.join(WORK, "out"))
    with open(stderr_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=env,
                             cwd=WORK, start_new_session=True, text=True)
        try:
            out, _ = p.communicate(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError(f"harness timed out after {timeout:.0f} s")
    if p.returncode != 0:
        with open(stderr_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited {p.returncode}:\n{tail}")
    return out


def oracle_sql(classpath, build_dir):
    """Registry oracle SQL, dumped once per build."""
    path = os.path.join(build_dir, "oracles.json")
    if not os.path.exists(path):
        out = run_jvm(classpath, ["--mode", "oracles"], 120, os.path.join(WORK, "oracles.log"))
        with open(path + ".tmp", "w") as f:
            f.write(out)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def expected_digests(data_dir, workload, oracles):
    sqls = oracle.workload_sql(workload, oracles)
    key = build.digest_text(json.dumps(sqls, sort_keys=True))
    path = os.path.join(data_dir, f"expected-{workload}-{key}.json")
    if not os.path.exists(path):
        t0 = time.time()
        exp = oracle.expected(data_dir, workload, oracles, os.path.join(WORK, "tmp"))
        log(f"[bench] oracle {workload}: {time.time() - t0:.1f} s")
        with open(path + ".tmp", "w") as f:
            json.dump(exp, f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def check_pass(p, expected):
    """Failure reason for a pass, or None when every digest matches."""
    if p["error"]:
        return p["error"]
    for label, want in expected.items():
        got = p["digests"].get(label)
        if got is None:
            return f"{label}: no digest"
        rows, h = got
        if rows != want[0] or int(h if h != "null" else 0) != int(want[1]):
            return f"{label}: digest {got} != expected {want}"
    return None


def end_to_end(res, meta, ok_walls):
    """{metric: (value, sample count)}; wall_s is the median warm pass."""
    wall = statistics.median(ok_walls)
    return {
        "wall_s": (wall, len(ok_walls)),
        "input_mb_per_s": (meta["input_mb"] / wall, len(ok_walls)),
        "setup_s": (res["setup_s"], 1),
    }


def per_layer(workload, res, meta):
    """Per-layer metrics: the harness's trace plus input-derived ratios."""
    lay = dict(res["layers"])
    lay["sources.input_mb"] = meta["input_mb"]
    lay["sources.input_rows"] = meta["rows"] + meta.get("lineitem_rows", 0)
    lay["sources.distinct_words"] = meta.get("distinct_words", 0)
    if workload.startswith("kmer_k"):
        k = int(workload[len("kmer_k"):])
        windows = meta["rows"] * (meta["params"]["genome_bases"] - k + 1)
        lay["sources.distinct_kmers"] = meta["distinct_kmers"][str(k)]
        lay["kmer.windows"] = windows
        lay["kmer.window_mb_computed"] = windows * k / 1e6
        lay["kmer.windows_per_s"] = windows / lay["kmer.map_s"]
        lay["functions.kmer_windows.rows_per_s"] = windows / max(lay["kmer.map_self_s"], 1e-3)
        lay["shuffle.combine_ratio"] = lay["shuffle.records"] / windows
    if workload == "curation_zipf":
        words = meta["distinct_words"]
        lay["functions.bpe_merge_all.rows_per_s"] = words / lay["text.bpe_tokenize_s"]
        lay["functions.unigram_segment.rows_per_s"] = words / lay["text.unigram_tokenize_s"]
        lay["curation.keep_frac"] = lay["curation.kept_rows"] / meta["rows"]
    return lay


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath, build_dir = build.build()
    t_start = time.time()  # the build may take longer than one run
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    oracles = oracle_sql(classpath, build_dir)
    wl = WORKLOADS[a.workload]
    data_dir, meta = gen.ensure(DATA, wl["family"], a.seed)
    expected = expected_digests(data_dir, a.workload, oracles)

    out_json = os.path.join(WORK, "result.json")
    run_jvm(classpath, [
        "--mode", "measure", "--workload", a.workload, "--data", data_dir,
        "--work", WORK, "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--warmup", str(wl["warmup_passes"]),
        "--out", out_json,
    ], (DEADLINE_S if wl["listed"] else 1800) - (time.time() - t_start),
        os.path.join(WORK, "harness.log"))
    with open(out_json) as f:
        res = json.load(f)

    passes = [res["cold"]] + res["warmup"] + res["passes"]
    reasons = [check_pass(p, expected) for p in passes]
    failed = sum(r is not None for r in reasons)
    for i, r in enumerate(reasons):
        if r:
            log(f"[bench] pass {i} failed: {r}")
    ok_walls = [p["wall_s"] for p, r in zip(res["passes"], reasons[-len(res["passes"]):])
                if r is None]

    print(json.dumps({"host": res["host"], "workload": a.workload, "seed": a.seed,
                      "seconds": a.seconds, "trace": a.trace}))
    print(json.dumps({"inputs": {k: meta[k] for k in sorted(meta)
                                 if k not in ("params", "family", "seed")}}))
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    metrics = {}
    if a.trace == 0:
        if ok_walls:
            e2e = end_to_end(res, meta, ok_walls)
            # peak RSS swings by a third between runs, so it is only context
            # here; the traced run reports it as jvm.peak_rss_mb
            print(json.dumps({"samples": {k: n for k, (_, n) in e2e.items()},
                              "failed_frac": failed / len(passes),
                              "peak_rss_mb": res["peak_rss_mb"],
                              "wall_s_passes": [round(p["wall_s"], 4) for p in res["passes"]]}))
            metrics = {k: {"value": v, "unit": units[k]} for k, (v, _) in e2e.items()}
    else:
        lay = per_layer(a.workload, res, meta)
        selfs = {k: v for k, v in lay.items() if k.startswith("self.")}
        print(json.dumps({"self_time_s": selfs, "trace": {
            k: lay[k] for k in lay if k.startswith("trace.")}}))
        print(json.dumps({"extra_layers": {k: v for k, v in sorted(lay.items()) if k not in units}}))
        # a listed workload reports the per-layer metrics BENCHMARK.json
        # lists; a hand-run one reports them all
        metrics = {m["name"]: {"value": float(lay.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in SPEC["per_layer"] if m.get("listed", True) or not wl["listed"]}
    correct = failed == 0 and bool(ok_walls)
    print(json.dumps({"correct": correct, "attempted": len(passes), "failed": failed,
                      "metrics": metrics}))
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "shards"), ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (RuntimeError, OSError, ValueError, KeyError) as e:
        log(f"[bench] {type(e).__name__}: {e}")
        sys.exit(2)
