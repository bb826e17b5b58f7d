"""``gold_queries``: the read path, closed loop, one client.

A fixed, named pool of read-only catalog queries from the gold/TPC-H,
behavior-analytics, quality-profiling and LLM-curation families, each
backed by a DuckDB oracle, plus zone reads (``ZoneStore.read``,
``read_pruned`` over a seeded range, ``read_version``) against a dataset
that set-up builds from many APPEND commits. Draws come in rounds: each
round holds every pool entry a fixed number of times (skewed popularity,
so a few dashboard queries recur) in a seeded order. Whole rounds run
until the window closes, so every seed times the same mix. Caches are
never cleared.

The curation family (text scoring, exact dedup, MinHash-LSH pairs,
LSH top-k) runs on the fixture's open-vocabulary documents, so the
``text``, ``dedup`` and ``similarity`` operators are timed on this
workload too; traced runs charge each of those queries to its layer.
"""

from __future__ import annotations

import contextlib
import re
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from common import gen_fixture, median, noop

#: name -> draws per round. The popularity is synthetic, not taken from
#: measured traffic: the pricing-summary dashboard runs twice a round,
#: every other entry once.
POOL = {
    "gold_revenue_by_mktsegment": 1,
    "tpch_q1_pricing_summary": 2,
    "events_dau_wau": 1,
    "quality_profile_events_columns": 1,
    "text_quality_scores": 1,
    "dedup_exact_documents": 1,
    "dedup_minhash_lsh_pairs": 1,
    "similarity_lsh_top5": 1,
}
#: the fixture tables the pool and the zone dataset read
TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")
#: curation-family query -> the layer span a traced run charges it to
LAYER_SPANS = {
    "text_quality_scores": "text.score",
    "dedup_exact_documents": "dedup.exact",
    "dedup_minhash_lsh_pairs": "dedup.lsh",
    "similarity_lsh_top5": "similarity.topk",
}
#: a run times at least this many rounds: a query's first draws after the
#: warm-up pass are still slower, and one round is one sample per query
MIN_ROUNDS = 2
ZONE_DRAWS = {"zone.read": 1, "zone.read_pruned": 2, "zone.read_version": 1}
ZONE_DATASET = "orders_zm"
ZONE_COMMITS = 6
#: a ZoneStore commit directory in a file path
_COMMIT_DIR = re.compile(r"/(c\d{6})/")

#: threads that run the untimed correctness check's Spark jobs
CHECK_THREADS = 4

SCALES = {"default": {"sf": 0.02}, "smoke": {"sf": 0.001}}


class GoldQueries:
    name = "gold_queries"

    def __init__(self, seed: int, scale: str, work: Path):
        self.seed = seed
        self.cfg = SCALES[scale]
        self.work = work

    def gen_inputs(self) -> None:
        self.fixture = gen_fixture(
            self.cfg["sf"], self.work / "fixture", self.seed, vocab="open"
        )
        keys = pq.read_table(self.fixture / "orders.parquet", columns=["o_orderkey"])
        self.keys = np.sort(keys.column(0).to_numpy())
        n = len(self.keys)
        self.edges = [int(self.keys[n * i // ZONE_COMMITS]) for i in range(ZONE_COMMITS)]
        self.edges.append(int(self.keys[-1]) + 1)
        self.rng = np.random.default_rng(self.seed)

    # ------------------------------------------------------------------
    def setup(self, spark, tracer) -> None:
        """Warm scan of the fixture tables the workload reads, the
        APPEND-built zone dataset, and one untimed warm-up pass over every
        pool entry."""
        from pyspark.sql import functions as F

        from healthcare_data_lakehouse_spark import tables
        from healthcare_data_lakehouse_spark.queries.catalog import load_all
        from healthcare_data_lakehouse_spark.zones import DataZone, LoadType, ZoneStore

        self.specs = load_all()
        t0 = time.perf_counter()
        with tracer.span("tables.warm_scan"):
            for df in tables.load(spark, str(self.fixture), list(TABLES)).values():
                noop(df)
        self.warm_scan_s = time.perf_counter() - t0

        self.store = ZoneStore(spark, str(self.work / "zones"))
        orders = tables.table(spark, str(self.fixture), "orders")
        k = F.col("o_orderkey")
        for lo, hi in zip(self.edges, self.edges[1:]):
            self.store.write(
                DataZone.SILVER, ZONE_DATASET,
                orders.filter((k >= lo) & (k < hi)), LoadType.APPEND,
            )
        for name in POOL:
            self._query(spark, name, tracer)
        for kind in ZONE_DRAWS:
            self._zone(kind, self._zone_args(kind), tracer)

    def _zone_args(self, kind: str):
        rng = self.rng
        lo_k, hi_k = int(self.keys[0]), int(self.keys[-1])
        if kind == "zone.read_pruned":
            width = int((hi_k - lo_k) * rng.uniform(0.05, 0.25))
            lo = int(rng.integers(lo_k, hi_k - width + 1))
            return (lo, lo + width)
        if kind == "zone.read_version":
            return (int(rng.integers(1, ZONE_COMMITS + 1)),)
        return ()

    def _query(self, spark, name: str, tracer) -> None:
        layer = LAYER_SPANS.get(name)
        with tracer.span(layer) if layer else contextlib.nullcontext():
            with tracer.span("queries.build", query=name):
                df = self.specs[name].fn(spark, str(self.fixture))
            with tracer.span("queries.exec", query=name):
                noop(df)

    def _zone(self, kind: str, args: tuple, tracer) -> None:
        from healthcare_data_lakehouse_spark.zones import DataZone

        with tracer.span(kind) as sp:
            if kind == "zone.read_pruned":
                df, _ = self.store.read_pruned(
                    DataZone.SILVER, ZONE_DATASET, "o_orderkey", lo=args[0], hi=args[1]
                )
            elif kind == "zone.read":
                df = self.store.read(DataZone.SILVER, ZONE_DATASET)
            else:
                df = self.store.read_version(DataZone.SILVER, ZONE_DATASET, args[0])
            if sp is not None:
                files = df.inputFiles()
                sp.attrs["files"] = len(files)
                sp.attrs["commits_scanned"] = len(
                    {m.group(1) for f in files if (m := _COMMIT_DIR.search(f))})
            noop(df)

    # ------------------------------------------------------------------
    def measure(self, spark, seconds: float, tracer) -> None:
        rng = self.rng
        entries = [n for n, c in POOL.items() for _ in range(c)]
        entries += [k for k, c in ZONE_DRAWS.items() for _ in range(c)]
        self.draws: list[tuple[str, tuple]] = []
        self.lat: list[float] = []
        self.errors: list[str] = []
        t0 = time.perf_counter()
        rounds = 0
        while rounds < MIN_ROUNDS or time.perf_counter() - t0 < seconds:
            for j in rng.permutation(len(entries)):
                name = entries[j]
                args = self._zone_args(name) if name.startswith("zone.") else ()
                tracer.set_op(f"q{len(self.draws)}")
                t = time.perf_counter()
                try:
                    with tracer.span("op.query", query=name):
                        if name.startswith("zone."):
                            self._zone(name, args, tracer)
                        else:
                            self._query(spark, name, tracer)
                except Exception as exc:  # counted, run continues
                    self.errors.append(f"{name}{args}: {type(exc).__name__}: {exc}")
                self.lat.append(time.perf_counter() - t)
                self.draws.append((name, args))
            rounds += 1
        tracer.set_op(None)
        self.wall = time.perf_counter() - t0

    # ------------------------------------------------------------------
    def check(self, spark) -> tuple[int, int, list[str]]:
        """Each pool query against its DuckDB oracle (order-insensitive
        digest), each distinct zone read against the fixture. The check is
        untimed, so its Spark jobs run from a few threads at once while
        DuckDB computes the oracles."""
        import duckdb

        import compare

        bad = list(self.errors)
        zone_reads = sorted(set(d for d in self.draws if d[0].startswith("zone.")))
        with ThreadPoolExecutor(CHECK_THREADS) as ex:
            results = {n: ex.submit(self._result, spark, n) for n in POOL}
            zone_got = [(kind, args, ex.submit(self._zone_got, kind, args))
                        for kind, args in zone_reads]
            con = duckdb.connect()
            try:
                for t in TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM '{self.fixture}/{t}.parquet'")
                for name in POOL:
                    rel = con.sql(self.specs[name].oracle)
                    d_cols = list(rel.columns)
                    d_rows = rel.fetchall()
                    s_cols, s_rows = results[name].result()
                    if sorted(s_cols) != sorted(d_cols) or len(s_rows) != len(d_rows):
                        bad.append(
                            f"{name}: shape {len(s_rows)}x{s_cols} vs {len(d_rows)}x{d_cols}")
                        continue
                    hs = compare.table_digest(s_rows, [s_cols.index(c) for c in sorted(s_cols)])
                    hd = compare.table_digest(d_rows, [d_cols.index(c) for c in sorted(d_cols)])
                    if hs != hd:
                        bad.append(f"{name}: digest {hs} != oracle {hd}")
            finally:
                con.close()

            keys = self.keys
            for kind, args, fut in zone_got:
                if kind == "zone.read":
                    want = len(keys)
                elif kind == "zone.read_pruned":
                    overlap = sum(1 for lo, hi in zip(self.edges, self.edges[1:])
                                  if lo <= args[1] and hi - 1 >= args[0])
                    want = (int(((keys >= args[0]) & (keys <= args[1])).sum()), overlap)
                else:
                    want = int((keys < self.edges[args[0]]).sum())
                got = fut.result()
                if got != want:
                    bad.append(f"{kind}{args}: {got} != expected {want}")
        return len(self.draws), len(bad), bad

    def _result(self, spark, name: str) -> tuple[list[str], list[tuple]]:
        sdf = self.specs[name].fn(spark, str(self.fixture))
        return sdf.columns, [tuple(r) for r in sdf.collect()]

    def _zone_got(self, kind: str, args: tuple):
        """Row count of a zone read (and read_pruned's reported scanned
        commits)."""
        from healthcare_data_lakehouse_spark.zones import DataZone

        if kind == "zone.read":
            return self.store.read(DataZone.SILVER, ZONE_DATASET).count()
        if kind == "zone.read_pruned":
            df, report = self.store.read_pruned(
                DataZone.SILVER, ZONE_DATASET, "o_orderkey", lo=args[0], hi=args[1])
            return (df.count(), report["commits_scanned"])
        return self.store.read_version(DataZone.SILVER, ZONE_DATASET, args[0]).count()

    def layer_counters(self) -> dict:
        return {"tables.warm_scan_s": self.warm_scan_s}

    def metrics(self) -> dict:
        by_kind: dict[str, list[float]] = {}
        for (name, _), t in zip(self.draws, self.lat):
            by_kind.setdefault(name, []).append(t)
        return {
            "queries_per_s": (len(self.draws) / self.wall, "1/s"),
            "query_p50_s": (median(self.lat), "s"),
            "_throughput": len(self.draws) / self.wall,
            "_latency": by_kind,
        }
