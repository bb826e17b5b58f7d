"""Smoke test of the benchmark at its smallest inputs (``--scale smoke``:
sf0.001 fixtures and a 500-document corpus). Every workload, untraced and
traced, must pass its correctness checks and emit every metric
BENCHMARK.json names, with its unit, plus its own named metrics.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())

#: the named end-to-end metrics each workload prints, with their units
NAMED = {
    "medallion_ingest": {"ingest_rows_per_s": "rows/s", "ingest_batch_p50_s": "s",
                         "storage_bytes_per_row": "B/row"},
    "gold_queries": {"queries_per_s": "1/s", "query_p50_s": "s"},
    "corpus_curation": {"curation_docs_per_s": "docs/s", "dedup_recall": "ratio"},
}


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    detail = json.loads(next(x for x in lines if x.startswith("perfbench-detail "))
                        .split(" ", 1)[1])
    return json.loads(lines[-1]), detail


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(NAMED))
def test_workload_emits_every_metric(workload, trace):
    result, detail = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, detail["notes"]
    assert result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    for name, unit in NAMED[workload].items():
        value, got_unit = detail["_named"][name]
        assert got_unit == unit and value > 0
    for name in ("setup_s", "peak_rss_mb", "ok_frac", "throughput_per_s", "latency_s"):
        assert detail[name][0] > 0
