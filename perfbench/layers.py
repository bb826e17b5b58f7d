"""Per-layer metrics from a traced run.

Every traced run reports every metric below; a layer the workload does not
exercise reads 0. Times are medians over the workload's ops (a batch, a
query or a pass) of the summed span time the layer took in that op, unless
the name says otherwise. Counts of Spark jobs, stages and tasks come from
job groups (see spans.py).
"""

from __future__ import annotations

from common import median

#: name -> unit, in report order
UNITS = {
    "session.start_s": "s",
    "tables.warm_scan_s": "s",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.spark_stages": "count",
    "queries.spark_tasks": "count",
    "zones.read_s": "s",
    "zones.commits_scanned_per_read": "count",
    "zones.files_per_read": "count",
    "zones.write_s": "s",
    "zones.merge_s": "s",
    "zones.commits": "count",
    "zones.files_per_commit": "count",
    "zones.bytes_per_input_byte": "ratio",
    "zones.maintenance_s": "s",
    "zones.bytes_rewritten": "B",
    "zones.occ_conflicts": "count",
    "streaming.drain_s": "s",
    "streaming.micro_batches": "count",
    "streaming.start_overhead_s": "s",
    "transforms.apply_s": "s",
    "quality.validate_s": "s",
    "quality.spark_jobs_per_validate": "count",
    "quality.quarantine_frac": "ratio",
    "etl.run_job_s": "s",
    "etl.self_s": "s",
    "etl.spark_jobs_per_run": "count",
    "etl.spark_stages_per_run": "count",
    "lineage.record_s": "s",
    "lineage.audit_export_s": "s",
    "lineage.assets": "count",
    "text.score_s": "s",
    "dedup.exact_s": "s",
    "dedup.lsh_s": "s",
    "dedup.components_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.candidate_yield": "ratio",
    "similarity.neardup_s": "s",
    "similarity.topk_s": "s",
    "similarity.recall_at_k": "ratio",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "trace.bookkeeping_s": "s",
    "trace.spans": "count",
}

ZONE_READS = ("zone.read", "zone.read_pruned", "zone.read_version")
ZONE_WRITES = ("zones.write", "zones.write_quarantine", "zones.merge_into")


def _outermost(tr, spans, prefix: str):
    """Spans with no ancestor whose name starts with ``prefix`` (a zones
    write calls zones.read internally; count the outer call only)."""
    out = []
    for s in spans:
        p = s.parent
        while p is not None and not tr.spans[p].name.startswith(prefix):
            p = tr.spans[p].parent
        if p is None:
            out.append(s)
    return out


def _per_op_median(spans) -> float:
    """Median over ops of the summed duration of ``spans`` in each op."""
    per: dict[str, float] = {}
    for s in spans:
        if s.op is not None:
            per[s.op] = per.get(s.op, 0.0) + s.dur
    return median(list(per.values()))


def compute(tr, session_start_s: float, extra: dict) -> dict:
    """``extra`` carries the counters a workload measures itself (zone
    walks, admission audit, dedup candidates, recall)."""
    m = dict.fromkeys(UNITS, 0.0)
    m["session.start_s"] = session_start_s
    m.update({k: v for k, v in extra.items() if k in UNITS})
    named = tr.named

    # queries
    builds, execs = named("queries.build"), named("queries.exec")
    if execs:
        m["queries.build_s"] = median([s.dur for s in builds])
        m["queries.exec_s"] = median([s.dur for s in execs])
        ops = [s for s in named("op.query") if not s.attrs.get("query", "").startswith("zone.")]
        m["queries.spark_stages"] = median([tr.inclusive(s, "stages") for s in ops])
        m["queries.spark_tasks"] = median([tr.inclusive(s, "tasks") for s in ops])

    # zones, read side
    reads = named(*ZONE_READS)
    if reads:
        m["zones.read_s"] = median([s.dur for s in reads])
        m["zones.files_per_read"] = sum(s.attrs["files"] for s in reads) / len(reads)
        m["zones.commits_scanned_per_read"] = sum(
            s.attrs["commits_scanned"] for s in reads) / len(reads)

    # zones, write side
    writes = _outermost(tr, named(*ZONE_WRITES), "zones.")
    if writes:
        m["zones.write_s"] = _per_op_median(writes)
        merges = [s for s in writes if s.attrs.get("load_type") == "merge"]
        m["zones.merge_s"] = _per_op_median(merges)
    maint = named("zones.compact", "zones.vacuum")
    if maint:
        m["zones.maintenance_s"] = sum(s.dur for s in maint)
    m["zones.occ_conflicts"] = sum(
        1 for s in tr.spans if s.attrs.get("error") == "ConcurrentModificationError")

    # streaming
    drains = named("streaming.drain")
    if drains:
        m["streaming.drain_s"] = median([s.dur for s in drains])
        m["streaming.micro_batches"] = sum(s.attrs["micro_batches"] for s in drains) / len(drains)
        m["streaming.start_overhead_s"] = median(
            [s.dur - s.attrs["trigger_s"] for s in drains])

    # transforms, quality, etl, lineage
    if named("transforms.apply"):
        m["transforms.apply_s"] = _per_op_median(named("transforms.apply"))
    vals = named("quality.validate")
    if vals:
        m["quality.validate_s"] = _per_op_median(vals)
        m["quality.spark_jobs_per_validate"] = median([tr.inclusive(s, "jobs") for s in vals])
    jobs = named("etl.run_job")
    if jobs:
        m["etl.run_job_s"] = median([s.dur for s in jobs])
        m["etl.self_s"] = median([tr.self_time(s) for s in jobs])
        m["etl.spark_jobs_per_run"] = median([tr.inclusive(s, "jobs") for s in jobs])
        m["etl.spark_stages_per_run"] = median([tr.inclusive(s, "stages") for s in jobs])
    rec = named("lineage.register_asset", "lineage.record_transformation")
    if rec:
        m["lineage.record_s"] = _per_op_median(rec)
    exports = named("lineage.export_for_audit")
    if exports:
        m["lineage.audit_export_s"] = sum(s.dur for s in exports)

    # text, dedup, similarity
    for span, key in (("text.score", "text.score_s"), ("dedup.exact", "dedup.exact_s"),
                      ("dedup.lsh", "dedup.lsh_s"), ("dedup.components", "dedup.components_s"),
                      ("similarity.neardup", "similarity.neardup_s"),
                      ("similarity.topk", "similarity.topk_s")):
        if named(span):
            m[key] = _per_op_median(named(span))
    if m["dedup.candidate_pairs"]:
        m["dedup.candidate_yield"] = m["dedup.verified_pairs"] / m["dedup.candidate_pairs"]

    # engine totals over the measured window
    m["spark.tasks"] = sum(s.tasks for s in tr.spans)
    m["spark.tasks_failed"] = sum(s.failed_tasks for s in tr.spans)
    m["trace.bookkeeping_s"] = tr.bookkeeping_s
    m["trace.spans"] = len(tr.spans)
    return {k: (float(v), UNITS[k]) for k, v in m.items()}
