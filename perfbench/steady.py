"""Steadiness mode: repeat a workload over several seeds and report, for
each end-to-end metric, the median and the quartile spread (Q3 - Q1 as a
share of the median, from ``statistics.quantiles(values, n=4)``), plus the
tracing overhead (median of traced runs minus median of untraced runs).

    python3 perfbench/steady.py --workload gold_queries --runs 10 \
        --seconds 8 [--traced 3] [--first-seed 1]

Runs are sequential, each in its own process, one seed each, counting up
from ``--first-seed``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
#: the end-to-end metrics every run's detail record carries
KEYS = ("setup_s", "peak_rss_mb", "ok_frac", "throughput_per_s", "latency_s")


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        raise RuntimeError(f"{cmd} exited {proc.returncode}: {proc.stderr[-2000:]}")
    detail = next(x for x in lines if x.startswith("perfbench-detail "))
    return json.loads(detail.split(" ", 1)[1])


def _values(details: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for d in details:
        flat = {k: d[k] for k in KEYS}
        flat.update(d["_named"])
        for k, (v, _) in flat.items():
            out.setdefault(k, []).append(float(v))
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, Q1, Q3, (Q3 - Q1) / median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--traced", type=int, default=0,
                    help="also make this many traced runs, for the overhead")
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)

    seeds = range(args.first_seed, args.first_seed + args.runs)
    untraced = [_run(args.workload, s, args.seconds, 0) for s in seeds]
    traced = [_run(args.workload, s, args.seconds, 1) for s in seeds[: args.traced]]
    vu, vt = _values(untraced), _values(traced)
    failed = sum(d["failed"] for d in untraced + traced)
    print(f"{args.workload}: {len(untraced)} untraced + {len(traced)} traced runs, "
          f"{failed} failures")
    print(f"{'metric':24s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} "
          f"{'traced-untraced':>16s}")
    for k, vals in vu.items():
        med, q1, q3, sp = spread(vals)
        over = ""
        if k in vt:
            d = statistics.median(vt[k]) - med
            over = f"{d:+.4g} ({d / med:+.1%})" if med else f"{d:+.4g}"
        print(f"{k:24s} {med:12.6g} {q1:12.6g} {q3:12.6g} {sp:8.2%} {over:>16s}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
