#!/usr/bin/env python3
"""Steadiness check: run one workload N times, one seed each, and
report every metric's median, quartiles and spread against its bound.

Usage (from the root of a checkout):
    python3 perfbench/steady.py --workload <name> [--runs 10] [--seed0 1]
        [--trace 0] [--against <earlier summary.json>]

The spread is (q3 - q1) / median, with the quartiles that Python's
statistics.quantiles(values, n=4) gives. A metric is steady when its
spread is within its bound, setup_s included; the aim is a third of
the bound. With --against, each median is also compared with the
median of an earlier summary: worse by more than the bound fails.
The summary goes to .bench_out/steady-<workload>-trace<t>-seed<seed0>.json.
"""
import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--against")
    args = ap.parse_args()
    # a SIGTERM is passed on to the run in progress, which stops its
    # JVM; the run is waited for before exiting
    child = None

    def stop(*_):
        if child is not None and child.poll() is None:
            child.terminate()
            child.wait()
        sys.exit(143)
    signal.signal(signal.SIGTERM, stop)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = spec["per_layer"] if args.trace else spec["end_to_end"]

    values = {m["name"]: [] for m in metrics}
    runs = []
    for i in range(args.runs):
        seed = args.seed0 + i
        t0 = time.time()
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        stdout, _ = child.communicate()
        wall = time.time() - t0
        lines = stdout.strip().splitlines()
        if child.returncode != 0 or not lines:
            print(f"seed {seed}: exit {child.returncode}, no result", file=sys.stderr)
            runs.append({"seed": seed, "exit": child.returncode, "wall_s": wall})
            continue
        res = json.loads(lines[-1])
        report = os.path.join(ROOT, ".bench_out",
                              f"{args.workload}-seed{seed}-trace{args.trace}", "run.json")
        with open(report) as f:
            steal = json.load(f)["environment"]["cpu_steal_frac"]
        runs.append({"seed": seed, "wall_s": round(wall, 1), "correct": res["correct"],
                     "attempted": res["attempted"], "failed": res["failed"],
                     "loadavg": os.getloadavg()[0], "cpu_steal_frac": steal,
                     "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
        print(f"seed {seed}: wall {wall:.1f}s steal {steal:.1%} correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              file=sys.stderr, flush=True)

    earlier = {}
    if args.against:
        with open(args.against) as f:
            earlier = {m["name"]: m for m in json.load(f)["metrics"]}
    summary, ok = [], True
    print(f"{'metric':<40} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6}  verdict")
    for m in metrics:
        xs = values[m["name"]]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / abs(med) if med else float("inf") if q3 != q1 else 0.0
        row = {"name": m["name"], "n": len(xs), "median": med, "q1": q1, "q3": q3,
               "spread": spread, "values": xs}
        verdict = ""
        if "bound" in m:
            row["bound"] = m["bound"]
            if spread > m["bound"]:
                verdict, ok = "TOO WIDE", False
            elif spread > m["bound"] / 3:
                verdict = "wide (over a third of the bound)"
            else:
                verdict = "steady"
            if m["name"] in earlier:
                before = earlier[m["name"]]["median"]
                worse = (med - before) / before if m["better"] == "lower" \
                    else (before - med) / before
                row["vs_earlier"] = worse
                if worse > m["bound"]:
                    verdict, ok = verdict + f"; median worse by {worse:.1%}", False
                else:
                    verdict += f"; median moved {worse:+.1%}"
        print(f"{m['name']:<40} {len(xs):>3} {med:>12.4g} {q1:>12.4g} {q3:>12.4g} "
              f"{spread:>7.3f} {m.get('bound', ''):>6}  {verdict}")
        summary.append(row)
    out = os.path.join(ROOT, ".bench_out",
                       f"steady-{args.workload}-trace{args.trace}-seed{args.seed0}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"workload": args.workload, "nproc": os.cpu_count(),
                   "runs": runs, "metrics": summary}, f, indent=1)
    print(f"summary: {os.path.relpath(out, ROOT)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
