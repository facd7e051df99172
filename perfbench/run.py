"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload queries|etl --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program and the
benchmark into the build directory (`CARGO_TARGET_DIR`, default
`.bench_build`). The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`. A
readable report of every metric goes to standard error, and the raw record
of the run (op latencies, spans when traced) is kept under
`<build dir>/results/`.
"""
import argparse
import json
import os
import shutil
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import layers  # noqa: E402
from stats import geomean, median  # noqa: E402

WORKLOADS = ("queries", "etl")
JVM_TIMEOUT_S = 170


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def end_to_end(rec):
    """End-to-end metrics of one run record. A "query" is one timed
    operation: a declared query on the queries workload, one pipeline call
    or read-back on etl. `run_s` is one sweep (queries) or pass (etl),
    taken as the sum over its operations of each operation's median over
    the sweeps or passes, so a slow stretch in one of them does not count
    in full."""
    ops = [o for o in rec["ops"] if o["ok"]]
    samples = [o["s"] for o in ops]
    per_op = {}
    for o in ops:
        per_op.setdefault(o["op"], []).append(o["s"])
    setup = rec["setup"]
    return {
        "setup_s": setup["jvm_s"] + median(setup["session_s"]) + setup["inputs_s"],
        "run_s": sum(median(v) for v in per_op.values()),
        "query_geomean_s": geomean([median(v) for v in per_op.values()]),
        "query_p50_s": median(samples),
    }


def etl_metrics(rec):
    """The write-path figures: per-kind medians and rates (zero on the
    read-only workloads, where no such operation runs)."""
    ops = [o for o in rec["ops"] if o["ok"]]

    def of(kind):
        return [o for o in ops if o["kind"] == kind]

    def rate(kind):
        xs = of(kind)
        s = sum(o["s"] for o in xs)
        return sum(o.get("rows", 0) for o in xs) / s if s else 0.0

    def p50(kind):
        return median([o["s"] for o in of(kind)])

    return {
        "ingest_rows_per_s": rate("ingest"),
        "seed_rows_per_s": rate("seed"),
        "update_p50_s": p50("update"),
        "delta_commit_p50_s": p50("delta"),
        "read_p50_s": p50("read"),
        "space_amp": rec["counters"].get("space_amp", 0.0),
        "fail_ratio": rec["failed"] / rec["attempted"] if rec["attempted"] else 0.0,
    }


def launch(args, out, work):
    record = work / "record.json"
    jsa = build.archive(out)
    extra = [f"-XX:SharedArchiveFile={jsa}"] if jsa.exists() else []
    cmd = build.java(out, work, "perfbench.Main",
                     [args.workload, args.seed, args.seconds, args.trace,
                      build.FIXTURE, work,
                      os.environ.get("PERFBENCH_DIGESTS",
                                     BENCH / "expected_digests.json"),
                      record], extra=extra)
    code = build.run_jvm(cmd, work, JVM_TIMEOUT_S)
    if code != 0 or not record.exists():
        sys.stderr.write((work / "jvm.log").read_text(errors="replace")[-6000:] + "\n")
        raise SystemExit(f"benchmark JVM failed (exit {code})")
    return json.loads(record.read_text())


def report(rec, e2e, etl, per_layer, units):
    w = sys.stderr.write
    w(f"workload {rec['workload']} seed {rec['seed']} trace {int(rec['trace'])}"
      f" local[{rec['cpus']}] on {os.cpu_count()} cores, heap {rec['max_heap_mb']} MB"
      f" Spark {rec['spark_version']}\n")
    n = len([o for o in rec["ops"] if o["ok"]])
    for k, v in {**e2e, **etl, "peak_rss_mb": rec["peak_rss_mb"]}.items():
        w(f"  {k:22s} {v:14.4f} {units.get(k, '')}\n")
    w(f"  samples {n}; check pass {rec['check_s']:.2f} s;"
      f" attempted {rec['attempted']} failed {rec['failed']}\n")
    for f in rec["failures"]:
        w(f"  FAIL {f}\n")
    for k, v in (per_layer or {}).items():
        w(f"  {k:28s} {v:16.4f}\n")
    for k, v in rec.get("self_ms_by_layer", {}).items():
        w(f"  self time {k:18s} {v / 1000:16.4f} s\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("no program sources: run from the root of a checkout")
    s = spec()
    out = build.build()
    work = out / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        rec = launch(args, out, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = end_to_end(rec)
    etl = etl_metrics(rec)
    per_layer = None
    if args.trace:
        per_layer = layers.layer_metrics(rec["spans"], rec["counters"], rec["cpus"])
        per_layer.update(etl)
        per_layer["peak_rss_mb"] = rec["peak_rss_mb"]
        per_layer["trace.run_s"] = e2e["run_s"]
        per_layer["trace.spans"] = float(len(rec["spans"]))
    results = out / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    rec["metrics"] = {**e2e, **etl, **(per_layer or {})}
    rec["build"] = (out / "build.stamp").read_text()
    if args.trace:
        rec["self_ms_by_layer"] = layers.self_times(rec["spans"])
        rec["layers_by_op"] = layers.by_op(rec["spans"], rec["cpus"])
    (results / name).write_text(json.dumps(rec))

    units = {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}
    wanted = s["per_layer"] if args.trace else s["end_to_end"]
    values = {**e2e, **(per_layer or {})}
    report(rec, e2e, etl, per_layer, units)
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
