"""Steadiness of the benchmark: run one workload several times, each in a
fresh process with its own seed, and summarize every end-to-end metric.

Usage:
  python3 perfbench/steady.py --workload W [--runs 10] [--seed0 1]
                              [--seconds 12] [--overhead]

Prints, per metric: median, first and third quartile
(``statistics.quantiles(values, n=4)``), the quartile spread as a share of
the median, min and max. With --overhead every seed is also run traced
(--trace 1), alternating with the untraced run, and the table adds the
traced median and its difference from the untraced one: the tracing
overhead. Exits non-zero if any run fails its checks.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True,
        timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    return json.loads(lines[-1])


def summary(values: list[float]) -> tuple:
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("nan"), \
        min(values), max(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    plain: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    fails = []
    for i in range(args.runs):
        seed = args.seed0 + i
        modes = (0, 1) if args.overhead else (0,)
        if args.overhead and i % 2:
            modes = (1, 0)
        for trace in modes:
            res = run_once(args.workload, seed, args.seconds, trace)
            fails.append(res["failed"] / res["attempted"])
            if not res["correct"]:
                raise SystemExit(f"seed {seed}: checks failed")
            for k, m in res["metrics"].items():
                if trace:
                    if k.startswith("traced."):
                        traced.setdefault(k[7:], []).append(m["value"])
                else:
                    plain.setdefault(k, []).append(m["value"])
                    units[k] = m["unit"]
            print(f"# seed {seed} trace {trace}: " + ", ".join(
                f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()
                if not k.startswith("traced.") and trace == 0),
                file=sys.stderr, flush=True)
    print(f"{args.workload}: {args.runs} runs, seeds {args.seed0}.."
          f"{args.seed0 + args.runs - 1}, --seconds {args.seconds:g}, "
          f"failed share {sorted(set(fails))}")
    head = (f"{'metric':20s} {'unit':7s} {'median':>10s} {'q1':>10s} "
            f"{'q3':>10s} {'iqr/med':>8s} {'min':>10s} {'max':>10s}")
    if args.overhead:
        head += f" {'traced':>10s} {'overhead':>8s}"
    print(head)
    for k, vals in plain.items():
        med, q1, q3, spread, lo, hi = summary(vals)
        line = (f"{k:20s} {units[k]:7s} {med:10.4g} {q1:10.4g} {q3:10.4g} "
                f"{spread:8.3f} {lo:10.4g} {hi:10.4g}")
        if args.overhead and k in traced:
            tmed = statistics.median(traced[k])
            line += f" {tmed:10.4g} {tmed / med - 1:+8.3f}"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
