#!/usr/bin/env python3
"""Repeat the benchmark and summarise it; the files it writes are the
committed evidence under perfbench/results/.

    python3 perfbench/evidence.py stability --runs 10 [--workloads a,b] [--first-seed 1] [--name stability]
    python3 perfbench/evidence.py trace [--workloads a,b] [--seed 7]
    python3 perfbench/evidence.py baseline [--seed 7]

stability: runs every workload of BENCHMARK.json (or --workloads) once per
  seed, interleaved, and writes results/<name>.md and results/<name>.json: for
  each end-to-end metric, the median, the quartiles (Python's
  statistics.quantiles, n=4), their distance as a share of the median,
  and the metric's bound. Each run's host canary is kept with it.
trace: one traced and one untraced run per workload at the same seed;
  keeps the span file and the self-time rollup in results/trace/<name>/
  and writes results/trace/summary.md with the per-layer metrics and
  trace.overhead_ratio (traced over untraced latency.p50_ms, minus 1).
baseline: stream_ref at local[1], untraced, into results/baseline_local1.json.
Run from the root of the checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, seed, trace, out, cores=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(BENCH["run_seconds"]),
           "--trace", str(trace), "--out", out]
    if cores:
        cmd += ["--cores", str(cores)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    line = json.loads(p.stdout.strip().splitlines()[-1])
    detail = json.load(open(os.path.join(out, "result.json")))
    return line, detail, wall


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def stability(args):
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in BENCH["workloads"]]
    bounds = {m["name"]: m for m in BENCH["end_to_end"]}
    runs = {w: [] for w in names}
    for i in range(args.runs):
        for w in names:  # interleaved, so a noisy stretch of the host hits every workload
            seed = args.first_seed + i
            line, detail, wall = run(w, seed, 0, os.path.join(HERE, "work-evidence", f"{w}.{seed}"))
            runs[w].append({"seed": seed, "wall_s": round(wall, 1), "correct": line["correct"],
                            "attempted": line["attempted"], "failed": line["failed"],
                            "canary_ms": detail["detail"]["canary_ms"],
                            "metrics": {k: v["value"] for k, v in line["metrics"].items()}})
            print(f"{w} seed {seed}: {wall:.0f} s {line['metrics']}", file=sys.stderr)
    rows = []
    for w in names:
        for m, spec in bounds.items():
            vals = [r["metrics"][m] for r in runs[w]]
            med, q1, q3, rel = spread(vals)
            rows.append({"workload": w, "metric": m, "unit": spec["unit"], "n": len(vals),
                         "median": med, "q1": q1, "q3": q3, "iqr_share": rel, "bound": spec["bound"]})
    os.makedirs(RESULTS, exist_ok=True)
    json.dump({"runs": runs, "spread": rows}, open(os.path.join(RESULTS, args.name + ".json"), "w"), indent=1)
    with open(os.path.join(RESULTS, args.name + ".md"), "w") as f:
        f.write(f"# Stability: {args.runs} runs per workload, seeds {args.first_seed}.."
                f"{args.first_seed + args.runs - 1}, run_seconds {BENCH['run_seconds']}\n\n")
        f.write("Spread is (q3 - q1) / median over the runs (statistics.quantiles, n=4).\n\n")
        f.write("| workload | metric | unit | median | q1 | q3 | spread | bound | spread/bound |\n")
        f.write("|---|---|---|---|---|---|---|---|---|\n")
        for r in rows:
            f.write(f"| {r['workload']} | {r['metric']} | {r['unit']} | {r['median']:.4g} | {r['q1']:.4g} "
                    f"| {r['q3']:.4g} | {r['iqr_share']:.3f} | {r['bound']} | {r['iqr_share'] / r['bound']:.2f} |\n")
        walls = [r["wall_s"] for w in names for r in runs[w]]
        canaries = [min(r["canary_ms"]) for w in names for r in runs[w]]
        failed = sum(r["failed"] for w in names for r in runs[w])
        f.write(f"\nRun wall time: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s. "
                f"Host canary (best of the two brackets, ms): min {min(canaries):.1f}, "
                f"max {max(canaries):.1f}. Failed operations over all runs: {failed}.\n")
    print(open(os.path.join(RESULTS, args.name + ".md")).read())


def trace(args):
    names = args.workloads.split(",") if args.workloads else \
        ["stream_ref", "batch_short", "batch_iterative", "table_write"]
    out_root = os.path.join(RESULTS, "trace")
    summary = ["# Traced runs, seed %d, run_seconds %d\n" % (args.seed, BENCH["run_seconds"]),
               "Per-layer metrics are means per operation: per query execution on the batch",
               "workloads, per micro-batch on stream_ref. Ratios state their base in the",
               "rollup files. trace.overhead_ratio = traced latency.p50_ms / untraced - 1,",
               "same seed.\n"]
    for w in names:
        out = os.path.join(out_root, w)
        _, plain, _ = run(w, args.seed, 0, os.path.join(HERE, "work-evidence", f"{w}.plain"))
        line, detail, _ = run(w, args.seed, 1, out)
        os.remove(os.path.join(out, "result.json"))
        json.dump(detail, open(os.path.join(out, "result.json"), "w"), indent=1)
        p50, traced_p50 = plain["layers"]["latency.p50_ms"], detail["layers"]["latency.p50_ms"]
        summary.append(f"## {w}\n")
        summary.append(f"untraced latency.p50_ms {p50:.1f}, traced {traced_p50:.1f}: "
                       f"trace.overhead_ratio {traced_p50 / p50 - 1:.3f}\n")
        summary.append("```\n" + open(os.path.join(out, "rollup.txt")).read() + "```\n")
        summary.append("| metric | value |\n|---|---|")
        summary += [f"| {k} | {v:.6g} |" for k, v in detail["layers"].items()]
        summary.append("")
    with open(os.path.join(out_root, "summary.md"), "w") as f:
        f.write("\n".join(summary) + "\n")
    print("\n".join(summary))


def baseline(args):
    line, detail, _ = run("stream_ref", args.seed, 0, os.path.join(HERE, "work-evidence", "baseline"), cores=1)
    os.makedirs(RESULTS, exist_ok=True)
    json.dump({"cores": 1, "seed": args.seed, "contract_line": line, "result": detail},
              open(os.path.join(RESULTS, "baseline_local1.json"), "w"), indent=1)
    print(json.dumps(line))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("what", choices=["stability", "trace", "baseline"])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--name", default="stability")
    args = ap.parse_args()
    try:
        {"stability": stability, "trace": trace, "baseline": baseline}[args.what](args)
    finally:
        shutil.rmtree(os.path.join(HERE, "work-evidence"), ignore_errors=True)


if __name__ == "__main__":
    main()
