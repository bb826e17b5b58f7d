"""Lakehouse benchmark: one workload per run.

    python3 perfbench/run.py --workload medallion_ingest --seed 1 \
        --seconds 10 --trace 0

Workloads: medallion_ingest, gold_queries, corpus_curation (see
README.md). ``--workload all`` runs the three in turn, each in its own
process, and prints every named end-to-end metric.

With ``--trace 0`` the run is untraced and the last stdout line reports
the end-to-end metrics; with ``--trace 1`` the engine's entry points are
wrapped in spans and the last line reports the per-layer metrics. The
line before it (``perfbench-detail {...}``) carries every number the run
produced, for the steadiness mode (steady.py).
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
import traceback

import common
import layers
import spans
from common import fresh_dir, kind_latency, peak_rss_mb, tail
from wl_curation import Curation
from wl_ingest import Ingest
from wl_queries import GoldQueries

WORKLOADS = {w.name: w for w in (Ingest, GoldQueries, Curation)}
SPEC = json.loads((common.ROOT / "BENCHMARK.json").read_text())


def _e2e(wl, setup_s: float, rss: float, attempted: int, failed: int) -> dict:
    """The workload-independent end-to-end metrics BENCHMARK.json gates,
    plus the workload's own named metrics and its tail."""
    m = wl.metrics()
    by_kind = m["_latency"]
    p, tv, n = tail([t for ts in by_kind.values() for t in ts])
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss, "MB"),
        "ok_frac": (1.0 - failed / attempted, "ratio"),
        "throughput_per_s": (m["_throughput"], "1/s"),
        "latency_s": (kind_latency(by_kind), "s"),
        "_tail": {"percentile": p, "value_s": tv, "samples": n},
        "_latency": by_kind,
        "_named": {k: v for k, v in m.items() if not k.startswith("_")},
    }


def run_one(name: str, seed: int, seconds: float, trace: bool, scale: str) -> dict:
    work = fresh_dir(name)
    wl = WORKLOADS[name](seed, scale, work)
    wl.gen_inputs()
    spark, start_s = common.start_spark()
    try:
        jpid = common.jvm_pid()
        tracer = spans.Tracer(spark) if trace else spans.NullTracer()
        if trace:
            spans.install(tracer)
        try:
            t0 = time.perf_counter()
            wl.setup(spark, tracer)
            setup_s = start_s + (time.perf_counter() - t0)
            tracer.reset()
            wl.measure(spark, seconds, tracer)
        finally:
            tracer.restore()
        rss = peak_rss_mb(jpid)
        attempted, failed, notes = wl.check(spark)
        out = _e2e(wl, setup_s, rss, attempted, failed)
        out.update(
            attempted=attempted, failed=failed, notes=notes, session_start_s=start_s,
        )
        if trace:
            out["layers"] = layers.compute(tracer, start_s, wl.layer_counters())
        return out
    finally:
        common.stop_spark(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("default", "smoke"), default="default")
    args = ap.parse_args(argv)

    if args.workload == "all":
        return run_all(args)
    common.prepare_run_dir()

    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    for note in res["notes"]:
        print(f"MISMATCH {note}")
    for k, (v, unit) in res["_named"].items():
        print(f"{args.workload} {k} = {v:.6g} {unit}")
    t = res["_tail"]
    print(f"{args.workload} query_tail_s = p{t['percentile']:g} {t['value_s']:.6g} s "
          f"over {t['samples']} samples")
    for k, (v, unit) in res.get("layers", {}).items():
        print(f"{args.workload} layer {k} = {v:.6g} {unit}")
    print("perfbench-detail " + json.dumps(res, default=str))
    # exactly the metrics BENCHMARK.json names, in its order
    source = res["layers"] if args.trace else res
    names = [m["name"] for m in SPEC["per_layer" if args.trace else "end_to_end"]]
    metrics = {k: {"value": source[k][0], "unit": source[k][1]} for k in names}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; prints the named metrics."""
    ok = True
    for name in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", "0", "--scale", args.scale]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"{name}: FAILED (exit {proc.returncode})\n{proc.stderr[-2000:]}")
            ok = False
            continue
        detail = json.loads(next(x for x in lines if x.startswith("perfbench-detail "))
                            .split(" ", 1)[1])
        named = dict(detail["_named"])
        named["setup_s"] = detail["setup_s"]
        named["peak_rss_mb"] = detail["peak_rss_mb"]
        named["failed_frac"] = (detail["failed"] / detail["attempted"], "ratio")
        for k, (v, unit) in named.items():
            print(f"{name:17s} {k:22s} {v:14.6g} {unit}")
        t = detail["_tail"]
        print(f"{name:17s} {'query_tail_s':22s} {t['value_s']:14.6g} s  "
              f"(p{t['percentile']:g} of {t['samples']} samples)")
        for note in detail["notes"]:
            print(f"{name:17s} MISMATCH {note}")
        ok = ok and detail["failed"] == 0
    return 0 if ok else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
