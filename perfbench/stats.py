#!/usr/bin/env python3
"""Repeat the benchmark and summarise its spread, or A/B two checkouts.

  # one workload N times, seeds 1..N, in this checkout:
  python3 perfbench/stats.py repeat --workload graph-loop --runs 10

  # alternate two checkouts for N pairs (same seed within a pair):
  python3 perfbench/stats.py pair --base ../graft-main --head . \
      --workload etl-batch --pairs 5

For each metric it prints the median, the first and third quartiles
(statistics.quantiles, n=4), the spread (Q3 - Q1) / median and the
metric's bound from BENCHMARK.json. `pair` also prints head/base - 1 for
each median and flags a metric that got worse by more than its bound.
Every run's result line is appended to perfbench/out/stats-*.jsonl.
Add --trace 1 to summarise the per-layer metrics instead.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))


def spec():
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(checkout, workload, seed, seconds, trace, log):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed in {checkout} (seed {seed}, exit {p.returncode})")
    res = json.loads(lines[-1])
    res["_wall_s"] = time.monotonic() - t0
    res["_seed"] = seed
    res["_checkout"] = os.path.abspath(checkout)
    log.write(json.dumps(res) + "\n")
    log.flush()
    print(f"  {os.path.basename(os.path.abspath(checkout))} seed {seed}: "
          f"{res['_wall_s']:.1f} s, correct={res['correct']}, "
          f"failed {res['failed']}/{res['attempted']}", file=sys.stderr)
    return res


def summary(results):
    """metric -> (unit, median, q1, q3, spread)."""
    out = {}
    for name in results[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        out[name] = (results[0]["metrics"][name]["unit"], med, q1, q3, spread)
    return out


def bounds():
    return {m["name"]: m["bound"] for m in spec()["end_to_end"]}


def fmt_bound(b):
    return f"{b:.3f}" if b is not None else "-"


def print_summary(title, results):
    b = bounds()
    print(f"== {title}: {len(results)} runs")
    print(f"{'metric':30} {'unit':6} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6} {'spread<bound/3':>14}")
    for name, (unit, med, q1, q3, spread) in summary(results).items():
        bd = b.get(name)
        ok = "-" if bd is None else ("yes" if spread < bd / 3 else "NO")
        print(f"{name:30} {unit:6} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{spread:7.3f} {fmt_bound(bd):>6} {ok:>14}")
    shares = sorted({r["failed"] / r["attempted"] for r in results})
    print(f"failed share per run: {shares}; all correct: "
          f"{all(r['correct'] for r in results)}")


def main(argv):
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="mode", required=True)
    rp = sub.add_parser("repeat")
    rp.add_argument("--checkout", default=".")
    rp.add_argument("--runs", type=int, default=10)
    pp = sub.add_parser("pair")
    pp.add_argument("--base", required=True)
    pp.add_argument("--head", required=True)
    pp.add_argument("--pairs", type=int, default=5)
    for p in (rp, pp):
        p.add_argument("--workload", required=True)
        p.add_argument("--seed0", type=int, default=1)
        p.add_argument("--trace", type=int, default=0)
        p.add_argument("--seconds", type=float, default=None)
    a = ap.parse_args(argv)
    seconds = a.seconds or spec()["run_seconds"]
    os.makedirs(os.path.join(BENCH, "out"), exist_ok=True)
    stamp = time.strftime("%Y%m%d-%H%M%S")
    log_path = os.path.join(BENCH, "out", f"stats-{a.mode}-{a.workload}-{stamp}.jsonl")
    with open(log_path, "w") as log:
        if a.mode == "repeat":
            rs = [run_once(a.checkout, a.workload, a.seed0 + i, seconds, a.trace, log)
                  for i in range(a.runs)]
            print_summary(f"{a.workload} (trace {a.trace})", rs)
        else:
            base, head = [], []
            for i in range(a.pairs):
                seed = a.seed0 + i
                # Alternate which side goes first, so drift hits both.
                order = [(a.base, base), (a.head, head)]
                for co, acc in (order if i % 2 == 0 else order[::-1]):
                    acc.append(run_once(co, a.workload, seed, seconds, a.trace, log))
            print_summary(f"base {a.base}", base)
            print_summary(f"head {a.head}", head)
            b = bounds()
            sb, sh = summary(base), summary(head)
            print("== head vs base (median ratio - 1; worse beyond bound flagged)")
            for name in sb:
                d = sh[name][1] / sb[name][1] - 1 if sb[name][1] else 0.0
                bd = b.get(name)
                flag = "WORSE" if bd is not None and d > bd else ""
                print(f"{name:30} {d:+8.3f} {fmt_bound(bd):>6} {flag}")
    print(f"results: {log_path}")


if __name__ == "__main__":
    main(sys.argv[1:])
