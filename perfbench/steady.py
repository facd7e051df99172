"""Steadiness report: run one workload N times with different seeds and print
the median, quartiles, min and max of every metric. An end-to-end metric
whose spread (interquartile distance over median) exceeds its bound in
BENCHMARK.json is flagged; `setup_s` is reported but never flagged.

    python3 perfbench/steady.py --workload queries [--runs 10] [--seed0 1]
        [--trace 0|1]

With `--trace 1` it also prints the tracing overhead: the median traced
`run_s` minus the median untraced `run_s` of the runs of the same build kept
under `<build dir>/results/` for this workload.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
from stats import highest_reportable_percentile, median, quartiles, spread  # noqa: E402


def one_run(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if r.returncode != 0:
        raise SystemExit(f"run failed: {workload} seed {seed}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    results = build.build_dir() / "results"
    values, bad, pooled = {}, 0, []
    for i in range(args.runs):
        seed = args.seed0 + i
        res = one_run(args.workload, seed, spec["run_seconds"], args.trace)
        rec = json.loads((results / f"{args.workload}-seed{seed}-trace{args.trace}.json")
                         .read_text())
        pooled += [o["s"] for o in rec["ops"] if o["ok"]]
        if not res["correct"]:
            bad += 1
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"run {i + 1}/{args.runs} seed {args.seed0 + i}: correct={res['correct']}"
              f" failed={res['failed']}/{res['attempted']}", flush=True)

    print(f"\n{args.workload}: {args.runs} runs, {bad} incorrect")
    print(f"{'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'min':>12s}"
          f" {'max':>12s} {'spread':>8s} {'bound':>6s}")
    flagged = []
    for k, xs in values.items():
        q1, q2, q3 = quartiles(xs)
        sp = spread(xs) if q2 else 0.0
        b = bounds.get(k)
        flag = ""
        if b is not None and k != "setup_s":
            if sp > b:
                flag = "  OVER BOUND"
                flagged.append(k)
            elif sp > b / 3:
                flag = "  over bound/3"
        print(f"{k:28s} {q2:12.4f} {q1:12.4f} {q3:12.4f} {min(xs):12.4f}"
              f" {max(xs):12.4f} {sp:8.3f} {'' if b is None else b:>6}{flag}")

    tail = highest_reportable_percentile(pooled)
    print(f"\noperation latency pooled over the runs: {len(pooled)} samples, median "
          f"{median(pooled):.4f} s" + (f", p{tail[0]} {tail[1]:.4f} s (ten or more "
                                         f"samples beyond it)" if tail else ""))
    if args.trace:
        stamp = (build.build_dir() / "build.stamp").read_text()
        untraced = [r["metrics"]["run_s"] for r in (
            json.loads(p.read_text())
            for p in results.glob(f"{args.workload}-seed*-trace0.json"))
            if r.get("build") == stamp]
        if untraced:
            print(f"\ntracing overhead on {args.workload}: "
                  f"{median(values['trace.run_s']) - median(untraced):+.3f} s "
                  f"(traced run_s median {median(values['trace.run_s']):.3f} s over "
                  f"{len(values['trace.run_s'])} runs, untraced {median(untraced):.3f} s "
                  f"over {len(untraced)} runs)")
    if flagged or bad:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
