"""Shared plumbing for the lakehouse benchmark: paths, inputs, the Spark
session, the noop sink, memory probes and summary statistics.

The benchmark lives beside the package it measures. It imports the engine
from the checkout it runs in (the parent of this directory) and fails at
import when the engine is absent, so a directory holding only the benchmark
exits non-zero without printing a result.
"""

from __future__ import annotations

import atexit
import contextlib
import io
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = ROOT / ".perfbench_work"

for p in (str(ROOT), str(ROOT / "tools")):
    if p not in sys.path:
        sys.path.insert(0, p)

import healthcare_data_lakehouse_spark  # noqa: E402  (fails fast without the engine)

if Path(healthcare_data_lakehouse_spark.__file__).resolve().parent.parent != ROOT:
    raise ImportError(
        "healthcare_data_lakehouse_spark resolved outside the checkout: "
        f"{healthcare_data_lakehouse_spark.__file__}"
    )

import gen_scale_fixture  # noqa: E402

#: this process's directory; everything a run writes goes below it
RUN_DIR = WORK / f"run_{os.getpid()}"


def prepare_run_dir() -> None:
    """Keep every file the run writes inside the checkout, under RUN_DIR:
    Python temp files (the engine's scratch dirs), Spark's block and
    shuffle dirs, and the JVM's temp files. Call before Spark starts;
    RUN_DIR is removed at exit, after the JVM has been stopped."""
    (RUN_DIR / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(RUN_DIR / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(RUN_DIR / "spark-local")
    tempfile.tempdir = None  # re-read TMPDIR
    atexit.register(shutil.rmtree, RUN_DIR, ignore_errors=True)


def fresh_dir(name: str) -> Path:
    """An empty directory under RUN_DIR."""
    d = RUN_DIR / name
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d


def gen_fixture(sf: float, out: Path, seed: int, vocab: str = "closed") -> Path:
    """The repository's fixture recipe (tools/gen_scale_fixture.py) at a
    given scale, quietly."""
    with contextlib.redirect_stdout(io.StringIO()):
        gen_scale_fixture.generate(sf, str(out), seed=seed, vocab=vocab)
    return out


def start_spark():
    """``local[nproc]`` session through the engine's own factory. Returns
    (session, seconds to start it)."""
    from healthcare_data_lakehouse_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": str(RUN_DIR / "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={RUN_DIR / 'tmp'}",
            "spark.sql.warehouse.dir": str(RUN_DIR / "spark-warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def noop(df) -> None:
    """Execute the full plan, every column, into Spark's ``noop`` sink.
    ``count()`` would let the optimizer prune projected expressions."""
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------------ memory
def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(jpid: int | None) -> float:
    """Peak resident memory (VmHWM) of this Python driver plus its JVM."""
    kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(jpid) if jpid else 0)
    return kb / 1024.0


# -------------------------------------------------------------- statistics
def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def kind_latency(by_kind: dict[str, list[float]]) -> float:
    """Geometric mean over operation kinds of each kind's median latency.
    Every kind moves it in proportion to its own change, however often it
    is drawn; with one kind it is that kind's median."""
    return float(statistics.geometric_mean([median(v) for v in by_kind.values()]))


def tail(xs) -> tuple[float, float, int]:
    """(percentile, value, n): the highest whole percentile that has at
    least ten samples above it, by nearest rank. With fewer than eleven
    samples no such percentile exists; the maximum is reported as p100."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return 100.0, (s[-1] if s else 0.0), n
    # p = 1 always qualifies once n >= 11
    p = next(p for p in range(99, 0, -1) if n - math.ceil(p * n / 100) >= 10)
    return float(p), float(s[math.ceil(p * n / 100) - 1]), n


def dir_stats(root: Path) -> tuple[int, int]:
    """(parquet files, bytes of all files) under ``root``."""
    files = total = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            fp = os.path.join(dirpath, n)
            with contextlib.suppress(OSError):
                total += os.path.getsize(fp)
                if n.endswith(".parquet"):
                    files += 1
    return files, total
