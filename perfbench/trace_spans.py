"""Spans around the engine's public entry points, for the traced run only.

The timed runs use ``NullTracer``: no wrapper is installed and no event log
is written. The traced run installs ``Tracer``, which

- wraps the public functions the workloads call (``LakeEngine.*``,
  ``LakeTable.merge/read/read_where/insert_rows/update_where/delete_where``,
  ``cdc_apply_batch``, ``normalize_envelope``, ``last_writer_wins``; the
  query callables are wrapped at their call site in ``workloads.py``);
- records for each span its name, layer, start, end and parent, in memory;
- sets a Spark job group per span, so the Spark event log attributes every
  job, stage and task to the innermost span that submitted it;
- reads Catalyst's phase timings (``QueryExecution.tracker()``) of the
  DataFrames the workloads hold.

After the session stops, ``Report`` joins the spans with the event log and
derives the per-layer metrics. Self time is a span's duration minus the
union of what its child spans, its Catalyst phases and its Spark jobs
cover; a lazy entry point (``LakeTable.read``, the query callables) only
shows construction time, and its execution appears under the span that ran
the action (``exec.collect``, or the write that consumed it).
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time

_NULL = contextlib.nullcontext()


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False
    phase = None

    def op(self, kind: str):
        return _NULL

    def span(self, name: str, layer: str):
        return _NULL

    def catalyst(self, df) -> None:
        pass

    def before_read(self, table) -> None:
        pass


class Tracer:
    enabled = True
    # "timed" while the timed loop runs, "portal" during cdc_ingest's portal
    # block; operations outside both (warm-up, checks) are not reported
    phase: str | None = None

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.phases: list[dict] = []
        self.chains: list[int] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: int | None = None

    # ----------------------------------------------------------- recording

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        # a span opened on another thread (the streaming foreachBatch
        # callback) hangs under the operation that is running
        parent = stack[-1]["id"] if stack else self._op
        rec = {"id": next(self._ids), "name": name, "layer": layer, "parent": parent}
        sc = self.sc
        prev = (sc.getLocalProperty("spark.jobGroup.id"), sc.getLocalProperty("spark.job.description"))
        sc.setJobGroup(f"pb-{rec['id']}", name)
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev[0])
            sc.setLocalProperty("spark.job.description", prev[1])
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def op(self, kind: str):
        with self.span(f"op.{kind}", "op") as rec:
            rec["phase"] = self.phase
            self._op = rec["id"]
            try:
                yield rec
            finally:
                self._op = None

    def catalyst(self, df) -> None:
        """Record the Catalyst phase intervals of a DataFrame, called inside
        the operation that built and ran it; the report hangs each phase
        under the innermost span it ran in."""
        stack = self._stack()
        owner = stack[-1]["id"] if stack else None
        tracker = df._jdf.queryExecution().tracker()
        phases = tracker.phases()
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                p = opt.get()
                self.phases.append({"owner": owner, "phase": name,
                                    "start": p.startTimeMs() / 1000.0, "end": p.endTimeMs() / 1000.0})

    def before_read(self, table) -> None:
        """Pending merge-on-read delta commits the next read must resolve."""
        c = table.commit_at()
        self.chains.append(len({e["delta"] for e in c.files if e.get("delta") is not None}))

    # ------------------------------------------------------------ wrapping

    def _wrap(self, owner, attr: str, name: str, layer: str, after=None) -> None:
        fn = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name, layer) as rec:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(rec, out)
                return out

        wrapped.__wrapped__ = fn
        setattr(owner, attr, wrapped)

    def install(self) -> None:
        from datalake_on_prem_system_spark.engine import LakeEngine
        from datalake_on_prem_system_spark.lakehouse.table import LakeTable
        from datalake_on_prem_system_spark.streaming import cdc

        def commit_info(rec, commit):
            rec["version"] = commit.version
            rec["delta"] = any(e.get("delta") == commit.version for e in commit.files)

        def analysed(rec, df):
            self.catalyst(df)
            return df

        for m in ("read", "merge_cdc", "insert", "update", "delete"):
            self._wrap(LakeEngine, m, f"engine.{m}", "engine")
        for m in ("read", "read_where"):
            self._wrap(LakeTable, m, f"table.{m}", "table")
        for m in ("merge", "insert_rows", "update_where", "delete_where"):
            self._wrap(LakeTable, m, f"table.{m}", "table", after=commit_info)
        self._wrap(cdc, "cdc_apply_batch", "cdc.apply_batch", "cdc")
        self._wrap(cdc, "normalize_envelope", "cdc.normalize_envelope", "cdc", after=analysed)
        self._wrap(cdc, "last_writer_wins", "cdc.last_writer_wins", "cdc", after=analysed)


# --------------------------------------------------------------- event log


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session configs for one uncompressed JSON-lines event log file."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _plan_metric_ids(info: dict, name: str, out: set) -> None:
    for m in info.get("metrics", []):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in info.get("children", []):
        _plan_metric_ids(child, name, out)


def read_event_log(log_dir: str) -> dict:
    """Jobs (group, interval, stages, task totals) and files read per SQL
    execution, from the Spark event log of the finished session."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    files_ids: set = set()
    exec_accum: list[tuple[int, int, int]] = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "exec_id": props.get("spark.sql.execution.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None, "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
                        "gc_ms": 0, "input_bytes": 0, "shuffle_write_bytes": 0,
                        "spill_bytes": 0, "output_bytes": 0,
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if jid is None or not m:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    j["run_ms"] += m.get("Executor Run Time", 0)
                    j["cpu_ns"] += m.get("Executor CPU Time", 0)
                    j["gc_ms"] += m.get("JVM GC Time", 0)
                    j["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    j["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    j["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _plan_metric_ids(ev.get("sparkPlanInfo", {}), "number of files read", files_ids)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev.get("accumUpdates", []):
                        exec_accum.append((ev["executionId"], acc_id, value))
    files_by_exec: dict[str, int] = {}
    for ex, acc_id, value in exec_accum:
        if acc_id in files_ids:
            files_by_exec[str(ex)] = files_by_exec.get(str(ex), 0) + int(value)
    return {"jobs": jobs, "files_by_exec": files_by_exec}


# ------------------------------------------------------------------ report


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(iv: tuple[float, float], lo: float, hi: float) -> tuple[float, float] | None:
    s, e = max(iv[0], lo), min(iv[1], hi)
    return (s, e) if e > s else None


EXEC_FIELDS = ["stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "input_bytes",
               "files_read", "shuffle_write_bytes", "spill_bytes", "output_bytes"]


class Report:
    """Joins spans, Catalyst phases, streaming progress and the event log
    into per-operation records and per-layer metrics."""

    def __init__(self, tracer: Tracer, log: dict, batches: list[dict] | None):
        self.spans = {s["id"]: s for s in tracer.spans}
        self.children: dict[int, list[int]] = {}
        for s in tracer.spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s["id"])
        # a phase belongs to the innermost span that was running it
        self.phases: dict[int, list[dict]] = {}
        for p in tracer.phases:
            if p["owner"] in self.spans:
                owner = self._deepest(p["owner"], (p["start"] + p["end"]) / 2)
                self.phases.setdefault(owner, []).append(p)
        self.chains = tracer.chains
        self.batches = batches or []
        self.jobs_by_span: dict[int, list[dict]] = {}
        for j in log["jobs"].values():
            j["files_read"] = log["files_by_exec"].get(j["exec_id"], 0) if j["exec_id"] else 0
            g = j["group"] or ""
            if g.startswith("pb-") and j["end"] is not None:
                self.jobs_by_span.setdefault(int(g[3:]), []).append(j)
        # files read are counted once per SQL execution, on its first job
        seen: set = set()
        for sid in sorted(self.jobs_by_span):
            for j in self.jobs_by_span[sid]:
                if j["exec_id"] in seen:
                    j["files_read"] = 0
                seen.add(j["exec_id"])

    def _deepest(self, sid: int, t: float) -> int:
        for c in self.children.get(sid, []):
            if self.spans[c]["start"] <= t <= self.spans[c]["end"]:
                return self._deepest(c, t)
        return sid

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s, []))
        return out

    def jobs_under(self, sid: int) -> list[dict]:
        return [j for s in self.subtree(sid) for j in self.jobs_by_span.get(s, [])]

    def dur(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def self_times(self, sid: int, acc: dict[str, float]) -> None:
        """Add the self time of ``sid`` and its subtree to ``acc`` by layer:
        spans by their layer, Catalyst phases to ``catalyst``, Spark job
        wall time to ``exec``; an ``op`` span's own self time is time no
        layer covers (``unattributed``)."""
        s = self.spans[sid]
        lo, hi = s["start"], s["end"]
        covered: list[tuple[float, float]] = []
        for c in self.children.get(sid, []):
            iv = _clip((self.spans[c]["start"], self.spans[c]["end"]), lo, hi)
            if iv:
                covered.append(iv)
            self.self_times(c, acc)
        inner = []
        for p in self.phases.get(sid, []):
            iv = _clip((p["start"], p["end"]), lo, hi)
            if iv:
                inner.append(("catalyst", iv))
        for j in self.jobs_by_span.get(sid, []):
            iv = _clip((j["start"], j["end"]), lo, hi)
            if iv:
                inner.append(("exec", iv))
        # nested engine intervals that overlap count once, for the first
        # layer that claims them (phases before jobs)
        claimed = list(covered)
        for layer, iv in inner:
            gain = _union(claimed + [iv]) - _union(claimed)
            acc[layer] = acc.get(layer, 0.0) + gain
            claimed.append(iv)
        own = (hi - lo) - _union(claimed)
        key = "unattributed" if s["layer"] == "op" else s["layer"]
        acc[key] = acc.get(key, 0.0) + own

    def ops(self) -> list[dict]:
        """One record per operation: wall time, self time per layer and the
        Spark work it caused. For cdc_ingest an operation is a micro-batch:
        its wall time is the trigger's, and what the trigger spends outside
        ``cdc_apply_batch`` is the streaming layer's."""
        out = []
        roots = [s for s in self.spans.values() if s["layer"] == "op"]
        applies = sorted((s for s in self.spans.values() if s["name"] == "cdc.apply_batch"),
                         key=lambda s: s["start"])
        for root in sorted(roots, key=lambda s: s["start"]):
            if root["name"] == "op.stream":
                continue
            acc: dict[str, float] = {}
            self.self_times(root["id"], acc)
            out.append(self._op_record(root["name"][3:], self.dur(root["id"]), acc, root["id"]))
        for b, a in zip(self.batches, applies):
            acc = {}
            self.self_times(a["id"], acc)
            trigger = b["duration_ms"]["triggerExecution"] / 1000.0
            add = b["duration_ms"].get("addBatch", 0) / 1000.0
            acc["stream"] = acc.get("stream", 0.0) + max(0.0, trigger - add)
            acc["unattributed"] = acc.get("unattributed", 0.0) + max(0.0, add - self.dur(a["id"]))
            rec = self._op_record("batch", trigger, acc, a["id"])
            rec["batch"] = b
            out.append(rec)
        return out

    def _op_record(self, kind: str, wall: float, acc: dict, sid: int) -> dict:
        jobs = self.jobs_under(sid)
        rec = {"kind": kind, "wall_s": wall, "self_s": acc, "jobs": len(jobs), "span": sid}
        for f in EXEC_FIELDS:
            rec[f] = sum(j[f] for j in jobs)
        rec["unattributed_share"] = acc.get("unattributed", 0.0) / wall if wall > 0 else 0.0
        return rec
