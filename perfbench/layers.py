"""Per-layer metrics of a traced run.

Layers are the engine's modules plus Spark's Catalyst and execution:

| layer | metrics |
|---|---|
| ``session`` | ``session.start_s`` |
| ``operators`` (query callables) | ``operators.build_s``, ``operators.build_jobs`` |
| Catalyst (``QueryExecution.tracker()``) | ``catalyst.analysis_s``, ``catalyst.optimization_s``, ``catalyst.planning_s`` |
| execution (event log) | ``exec.*`` |
| ``streaming`` (``StreamingQueryProgress.durationMs``) | ``stream.*`` |
| ``streaming.cdc`` | ``cdc.*`` |
| ``lakehouse.table`` (spans + commit log) | ``table.*`` |
| ``engine`` (``LakeEngine``) | ``engine.*`` |

Values are medians per timed operation: a query (sql_read) or a micro-batch
(cdc_ingest). ``engine.*`` and ``table.read*`` come from cdc_ingest's block
of portal operations on the table the stream built. ``stream.batches``,
``table.compactions`` and ``table.write_amp`` are run totals. A layer a
workload does not enter reports 0.
"""

from __future__ import annotations

import statistics

UNITS = {
    "session.start_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.collect_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "bytes",
    "exec.files_read": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "stream.batches": "count",
    "stream.trigger_s": "s",
    "stream.add_batch_s": "s",
    "stream.overhead_s": "s",
    "stream.latest_offset_s": "s",
    "stream.query_planning_s": "s",
    "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s",
    "cdc.apply_batch_s": "s",
    "cdc.rows_in": "rows",
    "cdc.rows_applied": "rows",
    "cdc.dedup_keep_ratio": "ratio",
    "table.merge_s": "s",
    "table.merge_jobs": "count",
    "table.compactions": "count",
    "table.compact_batch_s": "s",
    "table.files_added": "count",
    "table.bytes_added": "bytes",
    "table.write_amp": "ratio",
    "table.delta_chain": "count",
    "table.read_s": "s",
    "table.read_jobs": "count",
    "table.bytes_per_live_row": "bytes/row",
    "engine.read_s": "s",
    "engine.read_jobs": "count",
    "engine.upsert_s": "s",
    "engine.insert_s": "s",
    "engine.update_s": "s",
    "engine.delete_s": "s",
    "engine.write_jobs": "count",
    "trace.unattributed_share": "ratio",
}
# layers an operation's wall time is split into (self time, see trace_spans)
SELF_LAYERS = ["operators", "catalyst", "exec", "stream", "cdc", "table", "engine"]
UNITS.update({f"self.{layer}_share": "ratio" for layer in SELF_LAYERS})

# The per-layer metrics the benchmark reports in its result line: every
# layer, as counts, bytes and self-time shares, plus the times that every
# workload measures. The rest of UNITS is printed beside the result line
# and kept in the run record; a layer time that is 0 on a workload that
# bypasses the layer would read the same on every run.
REPORTED = [
    "session.start_s", "exec.task_run_s", "exec.task_cpu_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.input_bytes", "exec.files_read",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.output_bytes",
    "operators.build_jobs", "stream.batches", "cdc.rows_in", "cdc.rows_applied",
    "cdc.dedup_keep_ratio", "table.merge_jobs", "table.compactions", "table.files_added",
    "table.bytes_added", "table.write_amp", "table.delta_chain", "table.read_jobs",
    "table.bytes_per_live_row", "engine.read_jobs", "engine.write_jobs",
    *[f"self.{layer}_share" for layer in SELF_LAYERS], "trace.unattributed_share",
]

_STREAM_KEYS = {
    "stream.trigger_s": "triggerExecution",
    "stream.add_batch_s": "addBatch",
    "stream.latest_offset_s": "latestOffset",
    "stream.query_planning_s": "queryPlanning",
    "stream.wal_commit_s": "walCommit",
    "stream.commit_offsets_s": "commitOffsets",
}
_WRITE_KINDS = {"upsert", "insert", "update", "delete"}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(report, wl, session_s: float, storage: dict) -> tuple[dict, dict]:
    """(metrics, detail): the per-layer metrics of ``UNITS`` and the trace
    detail written to the run record (spans, per-op accounting)."""
    all_ops = report.ops()
    ops = [o for o in all_ops if _phase(report, wl, o) == "timed"]
    portal = [o for o in all_ops if _phase(report, wl, o) == "portal"]
    op_of = {}
    for o in ops + portal:
        for sid in report.subtree(o["span"]):
            op_of[sid] = o

    def spans(name_or_layer: str, by: str = "name", kinds=None, among=None) -> list[dict]:
        """Spans of timed operations (``among``: of those operations only)."""
        keep = {id(o) for o in among} if among is not None else None
        out = []
        for s in report.spans.values():
            if s[by] != name_or_layer or s["id"] not in op_of:
                continue
            o = op_of[s["id"]]
            if keep is not None and id(o) not in keep:
                continue
            if kinds is None or o["kind"] in kinds:
                out.append(s)
        return out

    def dur(ss) -> list[float]:
        return [s["end"] - s["start"] for s in ss]

    def jobs(ss) -> list[int]:
        return [len(report.jobs_under(s["id"])) for s in ss]

    m: dict[str, float] = {"session.start_s": session_s}
    build = spans("operators", by="layer")
    m["operators.build_s"] = _med(dur(build))
    m["operators.build_jobs"] = _med(jobs(build))

    by_op: dict[int, dict[str, float]] = {}
    primary = {id(o) for o in ops}
    for owner, phases in report.phases.items():
        o = op_of.get(owner)
        if o is None or id(o) not in primary:
            continue
        acc = by_op.setdefault(o["span"], {})
        for p in phases:
            acc[p["phase"]] = acc.get(p["phase"], 0.0) + p["end"] - p["start"]
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = _med(a[ph] for a in by_op.values() if ph in a)

    m["exec.collect_s"] = _med(dur(spans("exec.collect", among=ops)))
    m["exec.jobs"] = _med(o["jobs"] for o in ops)
    for f, key, scale in (("stages", "stages", 1), ("tasks", "tasks", 1),
                          ("task_run_s", "run_ms", 1e-3), ("task_cpu_s", "cpu_ns", 1e-9),
                          ("gc_s", "gc_ms", 1e-3), ("input_bytes", "input_bytes", 1),
                          ("files_read", "files_read", 1),
                          ("shuffle_write_bytes", "shuffle_write_bytes", 1),
                          ("spill_bytes", "spill_bytes", 1), ("output_bytes", "output_bytes", 1)):
        m[f"exec.{f}"] = _med(o[key] * scale for o in ops)

    batches = [o["batch"] for o in ops if o["kind"] == "batch"]
    m["stream.batches"] = float(len(getattr(wl, "batches", []) or []))
    for k, key in _STREAM_KEYS.items():
        m[k] = _med(b["duration_ms"].get(key, 0) / 1000.0 for b in batches)
    m["stream.overhead_s"] = _med(
        (b["duration_ms"].get("triggerExecution", 0) - b["duration_ms"].get("addBatch", 0)) / 1000.0
        for b in batches
    )

    m["cdc.apply_batch_s"] = _med(dur(spans("cdc.apply_batch")))
    m["cdc.rows_in"] = _med(b["rows"] for b in batches)
    commits = {c["version"]: c for c in getattr(wl, "commit_log", [])}
    applied, ratios = [], []
    for o in ops:
        if o["kind"] != "batch":
            continue
        for s in report.subtree(o["span"]):
            rec = report.spans[s]
            if rec["name"] == "table.merge" and rec.get("delta") and rec["version"] in commits:
                rows = commits[rec["version"]]["rows_added"]
                applied.append(rows)
                if o["batch"]["rows"]:
                    ratios.append(rows / o["batch"]["rows"])
    m["cdc.rows_applied"] = _med(applied)
    m["cdc.dedup_keep_ratio"] = _med(ratios)

    merges = spans("table.merge", among=ops)
    m["table.merge_s"] = _med(dur(merges))
    m["table.merge_jobs"] = _med(jobs(merges))
    compactions = [s for s in merges if "version" in s and not s.get("delta")]
    m["table.compactions"] = float(len(compactions))
    m["table.compact_batch_s"] = _med(dur(compactions))
    writes = [c for c in commits.values() if c["during_run"]]
    m["table.files_added"] = _med(c["files_added"] for c in writes)
    m["table.bytes_added"] = _med(c["bytes_added"] for c in writes)
    in_bytes = getattr(wl, "input_bytes", 0)
    m["table.write_amp"] = sum(c["bytes_added"] for c in writes) / in_bytes if in_bytes else 0.0
    m["table.delta_chain"] = _med(report.chains)
    reads = spans("table.read") + spans("table.read_where")
    m["table.read_s"] = _med(dur(reads))
    m["table.read_jobs"] = _med(jobs(reads))
    m["table.bytes_per_live_row"] = storage["bytes_per_live_row"]

    m["engine.read_s"] = _med(dur(spans("engine.read", kinds={"read"})))
    m["engine.read_jobs"] = _med(o["jobs"] for o in portal if o["kind"] == "read")
    for k, name in (("upsert", "engine.merge_cdc"), ("insert", "engine.insert"),
                    ("update", "engine.update"), ("delete", "engine.delete")):
        m[f"engine.{k}_s"] = _med(dur(spans(name, kinds={k})))
    m["engine.write_jobs"] = _med(o["jobs"] for o in portal if o["kind"] in _WRITE_KINDS)
    m["trace.unattributed_share"] = _med(o["unattributed_share"] for o in ops)

    # share of each operation's wall time that is each layer's self time
    # (they sum to 1 with trace.unattributed_share)
    for layer in SELF_LAYERS:
        m[f"self.{layer}_share"] = _med(
            o["self_s"].get(layer, 0.0) / o["wall_s"] for o in ops if o["wall_s"] > 0
        )
    missing = set(UNITS) - set(m)
    if missing:
        raise AssertionError(f"per-layer metrics not computed: {sorted(missing)}")
    shares = {layer: m[f"self.{layer}_share"] for layer in SELF_LAYERS}
    over = [o for o in ops if o["unattributed_share"] > 0.10]
    detail = {
        "ops": ops,
        "portal_ops": portal,
        "spans": sorted(report.spans.values(), key=lambda s: s["start"]),
        "self_share_median": shares,
        "unattributed": {
            "median_share": m["trace.unattributed_share"],
            "max_share": max((o["unattributed_share"] for o in ops), default=0.0),
            "ops_over_10pct": len(over),
            "ops": len(ops),
            "kinds_over_10pct": sorted({o["kind"] for o in over}),
        },
        "run_totals": {
            "jobs": sum(o["jobs"] for o in ops),
            "tasks": sum(o["tasks"] for o in ops),
            "files_read": sum(o["files_read"] for o in ops),
        },
        "notes": [
            "Lazy entry points (operators.*, table.read, table.read_where, "
            "cdc.normalize_envelope, cdc.last_writer_wins) show construction "
            "time only; their execution is under the span that ran the action.",
            "Catalyst phases of writes run inside lakehouse.table and are not "
            "separated from it; catalyst.* covers queries and point reads.",
        ],
    }
    return m, detail


def _phase(report, wl, o) -> str | None:
    if o["kind"] == "batch":
        return "timed" if o["batch"]["batch"] >= getattr(wl, "warm_batches", 0) else None
    return report.spans[o["span"]].get("phase")
