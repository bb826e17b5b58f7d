"""``medallion_ingest``: the write path, closed loop, one scheduler.

Each batch of dirty patient records lands as one parquet file; the quality
admission stream drains it into BRONZE (append + quarantine + audit); then
``HealthcareETLManager.run_job`` promotes the batch's new BRONZE rows to
SILVER with MERGE on ``id`` (deduplicate, standardize_dates, trim_strings,
null_handling, the quality gate and lineage). Every third batch SILVER is
promoted to GOLD. The next batch lands only once the previous one is
visible in SILVER. After the timed window: compact + vacuum on SILVER and
the lineage audit export.

This is the many-small-commits regime, where fixed per-job cost and a
MERGE that grows with the table dominate.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from common import dir_stats, gen_fixture, median

DATASET = "patients"
TRANSFORMS = ["deduplicate", "standardize_dates", "trim_strings", "null_handling"]
RESEND_SHARE = (0.15, 0.25)

#: a run lands at least this many batches; SILVER is promoted to GOLD
#: after every MIN_BATCHES-th batch
MIN_BATCHES = 3

SCALES = {
    # fixture sf, batch-size range
    "default": {"sf": 0.02, "batch": (2500, 3500)},
    "smoke": {"sf": 0.001, "batch": (100, 200)},
}


def batch_sizes(rng, lo: int, hi: int, n: int) -> list[int]:
    """Seeded sizes in [lo, hi], in groups of MIN_BATCHES that each sum to
    MIN_BATCHES * (lo + hi) / 2: sizes vary per batch, while every run
    lands the same number of rows, so rows/s does not follow the seed."""
    total = MIN_BATCHES * (lo + hi) // 2
    out: list[int] = []
    while len(out) < n:
        left = total
        for k in range(MIN_BATCHES - 1, 0, -1):
            # keep the remaining k batches feasible within [lo, hi]
            size = int(rng.integers(max(lo, left - k * hi), min(hi, left - k * lo) + 1))
            out.append(size)
            left -= size
        out.append(left)
    return out[:n]


def _version(store, zone, dataset) -> int:
    """Committed version of a zone dataset, from its on-disk manifest."""
    mf = Path(store.dataset_path(zone, dataset)) / "_manifest.json"
    if not mf.exists():
        return 0
    return int(json.loads(mf.read_text())["version"])


def _bronze_changes(store, v0: int, v1: int):
    """The BRONZE rows committed between two versions (None if none)."""
    from healthcare_data_lakehouse_spark.zones import DataZone

    if v1 == v0:
        return None
    if v0 == 0:
        return store.read(DataZone.BRONZE, DATASET)
    return store.read_changes(DataZone.BRONZE, DATASET, v0, v1)


class Ingest:
    name = "medallion_ingest"

    def __init__(self, seed: int, scale: str, work: Path):
        self.seed = seed
        self.cfg = SCALES[scale]
        self.work = work

    # ------------------------------------------------------------- inputs
    def gen_inputs(self) -> None:
        """Dirty patient records from the fixture's ``orders`` by the
        engine's healthcare-frame recipe (its DuckDB rendering, which
        fixtures.py keeps value-identical to the Spark one), cut into
        seeded landing batches."""
        import duckdb
        from pyspark.sql.pandas.types import from_arrow_schema

        from healthcare_data_lakehouse_spark.fixtures import HEALTHCARE_CTE

        fixture = gen_fixture(self.cfg["sf"], self.work / "fixture", self.seed)
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW orders AS SELECT * FROM '{fixture}/orders.parquet'"
            )
            pool = con.sql(f"WITH {HEALTHCARE_CTE} SELECT * FROM records ORDER BY id").arrow()
        finally:
            con.close()
        self.schema = from_arrow_schema(pool.schema)
        rng = np.random.default_rng(self.seed)
        lo, hi = self.cfg["batch"]
        batches, pos, n = [], 0, pool.num_rows
        for size in batch_sizes(rng, lo, hi, n // lo + 1):
            if pos >= n:
                break
            share = float(rng.uniform(*RESEND_SHARE))
            n_resend = int(size * share) if pos else 0
            fresh = pool.slice(pos, size - n_resend)
            pos += fresh.num_rows
            parts = [fresh]
            if n_resend:
                # earlier ids re-sent with changed vitals
                idx = rng.choice(pos - fresh.num_rows, size=n_resend, replace=False)
                old = pool.take(pa.array(np.sort(idx)))
                hr = pc.add(old["heart_rate"], pa.scalar(1.0))
                old = old.set_column(
                    old.schema.get_field_index("heart_rate"), "heart_rate", hr
                )
                parts.append(old)
            batches.append(pa.concat_tables(parts))
        self.batches = batches

    # -------------------------------------------------------------- state
    def _open(self, spark, root: Path):
        from healthcare_data_lakehouse_spark.etl import HealthcareETLManager
        from healthcare_data_lakehouse_spark.lineage import LineageConfig, LineageTracker

        for d in ("landing", "chk", "zones", "audit"):
            (root / d).mkdir(parents=True, exist_ok=True)
        tracker = LineageTracker(LineageConfig(audit_dir=str(root / "audit")))
        mgr = HealthcareETLManager(
            spark, str(root / "zones"), lineage_tracker=tracker, quarantine_cap=None
        )
        return mgr

    def _batch(self, spark, mgr, root: Path, i: int, tracer, st, promote: bool) -> None:
        from healthcare_data_lakehouse_spark.etl import ETLJobConfig
        from healthcare_data_lakehouse_spark.streaming import ingest
        from healthcare_data_lakehouse_spark.zones import DataZone, LoadType

        store = mgr.store
        tracer.set_op(f"b{i}")
        t_land = time.perf_counter()
        with tracer.span("op.batch"):
            path = root / "landing" / f"b{i:05d}.parquet"
            table = self.batches[i]
            pq.write_table(table, path)
            v0 = _version(store, DataZone.BRONZE, DATASET)
            with tracer.span("streaming.drain") as sp:
                q = ingest.stream_quality_admission(
                    spark, str(root / "landing"), self.schema, store,
                    DataZone.BRONZE, DATASET, str(root / "chk"),
                )
                q.awaitTermination()
            if sp is not None:
                progress = q.recentProgress
                tracer.add_group(sp, str(q.runId))
                sp.attrs["micro_batches"] = len(progress)
                sp.attrs["trigger_s"] = sum(
                    p.get("durationMs", {}).get("triggerExecution", 0)
                    for p in progress
                ) / 1000.0
            exc = q.exception()
            if exc is not None:
                raise RuntimeError(f"admission stream failed: {exc}")
            v1 = _version(store, DataZone.BRONZE, DATASET)
            src = _bronze_changes(store, v0, v1)
            job_id = f"silver_{DATASET}_b{i:05d}"
            st["silver_jobs"].append((job_id, v0, v1))
            res = None
            if src is not None:
                res = mgr.run_job(
                    ETLJobConfig(
                        job_id=job_id,
                        source_name=DATASET,
                        target_zone=DataZone.SILVER,
                        load_type=LoadType.MERGE,
                        required_fields=["id", "patient_id", "birth_date"],
                        transformations=TRANSFORMS,
                    ),
                    src,
                )
            t_vis = time.perf_counter()
            st["jobs"].append((job_id, res))
            st["latency"].append(t_vis - t_land)
            st["landed_rows"] += table.num_rows
            st["landed_bytes"] += os.path.getsize(path)
            if promote:
                res = mgr.promote_zone(DATASET, DataZone.SILVER, DataZone.GOLD)
                st["jobs"].append((res.job_id, res))
        if tracer.enabled:
            files, nbytes = dir_stats(root / "zones")
            st["walk"].append((i, files, nbytes, _commit_dirs(root / "zones")))

    def _maintain(self, mgr, tracer, st) -> None:
        from healthcare_data_lakehouse_spark.zones import DataZone

        tracer.set_op("maintenance")
        with tracer.span("op.maintenance"):
            st["compact"] = mgr.store.compact(DataZone.SILVER, DATASET)
            st["vacuum"] = mgr.store.vacuum(DataZone.SILVER, DATASET)
            st["audit"] = mgr.lineage_tracker.export_for_audit()
        tracer.set_op(None)

    @staticmethod
    def _new_state() -> dict:
        return {"jobs": [], "silver_jobs": [], "latency": [], "landed_rows": 0,
                "landed_bytes": 0, "walk": [], "errors": []}

    def setup(self, spark, tracer) -> None:
        """The untimed warm-up pass on a throwaway warehouse: a first
        batch, a second (incremental) batch with a GOLD promotion, then
        maintenance."""
        root = self.work / "warmup"
        mgr = self._open(spark, root)
        st = self._new_state()
        for i in range(2):
            self._batch(spark, mgr, root, i, tracer, st, promote=i == 1)
        self._maintain(mgr, tracer, st)

    def measure(self, spark, seconds: float, tracer) -> None:
        root = self.work / "run"
        self.root = root
        self.mgr = mgr = self._open(spark, root)
        st = self.st = self._new_state()
        t0 = time.perf_counter()
        i = 0
        while i < len(self.batches) and (
            i < MIN_BATCHES or time.perf_counter() - t0 < seconds
        ):
            try:
                self._batch(spark, mgr, root, i, tracer, st,
                            promote=(i + 1) % MIN_BATCHES == 0)
            except Exception as exc:  # counted, run continues
                st["errors"].append(f"batch {i}: {type(exc).__name__}: {exc}")
            i += 1
        st["n_batches"] = i
        try:
            self._maintain(mgr, tracer, st)
        except Exception as exc:
            st["errors"].append(f"maintenance: {type(exc).__name__}: {exc}")
        st["wall"] = time.perf_counter() - t0
        st["storage_bytes"] = dir_stats(root / "zones")[1]

    # -------------------------------------------------------------- check
    def check(self, spark) -> tuple[int, int, list[str]]:
        """Post-run correctness, outside every timed interval. Returns
        (ops attempted, failures + mismatches, messages)."""
        from healthcare_data_lakehouse_spark.etl import ETLStatus
        from healthcare_data_lakehouse_spark.zones import DataZone

        st, store = self.st, self.mgr.store
        n = st["n_batches"]
        attempted = n + sum(1 for j, _ in st["jobs"] if not j.startswith("silver_")) + 1
        bad = list(st["errors"])

        for job_id, res in st["jobs"]:
            if res is None or res.status != ETLStatus.COMPLETED:
                bad.append(f"job {job_id} not COMPLETED: "
                           f"{getattr(res, 'error_message', 'no result')}")

        audit = {r.batch_id: r for r in store.read(DataZone.BRONZE, f"{DATASET}_audit").collect()}
        self.quarantined = sum(a.n_quarantined for a in audit.values()) + sum(
            r.records_quarantined for j, r in st["jobs"]
            if r is not None and j.startswith("silver_"))
        for i in range(n):
            a = audit.get(i)
            landed = self.batches[i].num_rows
            if a is None or a.n_in != landed or a.n_in != a.n_admitted + a.n_quarantined:
                bad.append(f"batch {i}: landed {landed}, audit {a}")

        # expected SILVER, replayed batch by batch: the admitted rows minus
        # those the SILVER gate quarantined, upserted on id (MERGE)
        expected: dict[str, float] = {}
        for job_id, v0, v1 in st["silver_jobs"]:
            src = _bronze_changes(store, v0, v1)
            if src is None:
                continue
            q = store.read_quarantine(job_id)
            qids = {r.id for r in q.select("id").collect()} if q is not None else set()
            batch: dict[str, float] = {}
            for r in src.select("id", "heart_rate").collect():
                if r.id not in qids:
                    batch.setdefault(r.id, r.heart_rate)  # first occurrence wins
            expected.update(batch)
        rows = store.read(DataZone.SILVER, DATASET).select("id", "heart_rate").collect()
        got = {r.id: r.heart_rate for r in rows}
        if len(rows) != len(got):
            bad.append(f"SILVER has {len(rows) - len(got)} duplicated ids")
        if got.keys() != expected.keys():
            bad.append(f"SILVER ids: {len(got)} vs expected {len(expected)} "
                       f"(missing {len(expected.keys() - got.keys())}, "
                       f"extra {len(got.keys() - expected.keys())})")
        else:
            stale = sum(1 for k, v in expected.items() if got[k] != v)
            if stale:
                bad.append(f"SILVER: {stale} ids not at their latest admitted value")

        steps_file = self.root / "audit" / "steps.jsonl"
        steps = [json.loads(x) for x in steps_file.read_text().splitlines()] \
            if steps_file.exists() else []
        per_job: dict[str, int] = {}
        for s in steps:
            per_job[s["step_name"]] = per_job.get(s["step_name"], 0) + 1
        ran = [j for j, r in st["jobs"] if r is not None]
        want = {j: ran.count(j) for j in ran}
        if per_job != want:
            bad.append(f"lineage edges per job {per_job} != jobs run {want}")
        return attempted, len(bad), bad

    def layer_counters(self) -> dict:
        """Outside-in counters: warehouse walks after each batch, the
        admission audit and the SILVER quarantines."""
        st = self.st
        commits, files = [], []
        prev = (0, 0)
        for _, n_files, _, n_commits in st["walk"]:
            dc, df = n_commits - prev[1], n_files - prev[0]
            prev = (n_files, n_commits)
            commits.append(dc)
            if dc:
                files.append(df / dc)
        return {
            "zones.commits": median(commits),
            "zones.files_per_commit": median(files),
            "zones.bytes_per_input_byte": st["storage_bytes"] / st["landed_bytes"],
            "zones.bytes_rewritten": st.get("compact", {}).get("bytes_after", 0),
            "quality.quarantine_frac": self.quarantined / st["landed_rows"],
            "lineage.assets": st["audit"]["summary"]["total_assets"],
        }

    # ------------------------------------------------------------ metrics
    def metrics(self) -> dict:
        st = self.st
        lat = st["latency"]
        return {
            "ingest_rows_per_s": (st["landed_rows"] / st["wall"], "rows/s"),
            "ingest_batch_p50_s": (median(lat), "s"),
            "storage_bytes_per_row": (st["storage_bytes"] / st["landed_rows"], "B/row"),
            "_throughput": st["landed_rows"] / st["wall"],
            "_latency": {"batch": lat},
        }


def _commit_dirs(zones_root: Path) -> int:
    n = 0
    for dirpath, dirnames, _ in os.walk(zones_root):
        n += sum(1 for d in dirnames if d.startswith("c") and d[1:].isdigit())
    return n
