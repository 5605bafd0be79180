"""The benchmark workloads: ``cdc_ingest`` and ``sql_read``.

Each workload is driven by one closed-loop client in this process: the next
operation is sent only after the previous one returned. Every operation's
result is checked against an answer the benchmark derives without the
engine (DuckDB for ``sql_read``, the generator's own model for
``cdc_ingest``); a wrong result counts as a failed operation.

A workload has four steps, timed by ``run.py``:

- ``generate()``: seeded inputs, built in Python (no Spark);
- ``seed_tables(i)``: engine-side set-up (tables the workload serves), repeated
  and reported as a median;
- ``warm_up()``: untimed operations of the same shape, so the JIT and the
  lazy set-up of Spark are done before timing;
- ``measure(seconds)``: the timed loop, in whole units (query rounds,
  compaction cycles) so the operation mix is the same in every run;
  its rate is ``Result.rate()``, its latencies per kind of operation;
- ``finish()``: end-of-run checks outside the timed loop.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import datagen

SQL_QUERIES = [
    "q1_pricing_summary", "q3_top_revenue_orders", "q5_nation_revenue",
    "q6_forecast_revenue", "q_order_lineitem_join_agg", "w1_latest_per_key",
    "a_date_window", "j_asof_join", "j_range_join", "a_skew_salted",
    "w_sessionize",
]
# A round runs each query once. With an odd number of equally weighted
# queries the median latency lies inside the middle query's block of
# samples (q1_pricing_summary at sf0.1 on 4 cores), never on the boundary
# between two queries' blocks. Weighting one query up changes how warm
# the JIT gets on it, and with that its place in the order.


@dataclass
class Sizes:
    """Input sizes: the defaults are the benchmark, ``tiny()`` the
    self-check's sf0.001 sizes."""

    sf: float = 0.1  # star schema scale (sql_read)
    # fewest timed rounds. More samples per run steady the median latency
    # and rate: over ten seeds, figures from one round spread up to twice
    # as wide as from two
    sql_min_rounds: int = 3
    cdc_keys: int = 50_000  # keys seeded into the CDC target table
    cdc_rows: int = 25_000  # envelopes per file = per micro-batch
    # delta commits before a merge compacts. A cycle is ``cdc_threshold``
    # delta batches then one compacting batch (d d c). The first
    # ``cdc_warm_batches`` batches are the untimed warm-up (d d c d d); the
    # timed window is the next ``cdc_cycles`` cycles' worth of batches
    # (c d d c d d), so it holds deltas and compactions in the proportion a
    # long drain has, and its median batch is a delta
    cdc_threshold: int = 2
    cdc_warm_batches: int = 5
    cdc_cycles: int = 2  # timed compaction cycles (at least two)

    @classmethod
    def tiny(cls) -> "Sizes":
        return cls(sf=0.001, sql_min_rounds=1, cdc_keys=1_000, cdc_rows=500, cdc_warm_batches=2)


@dataclass
class Result:
    """What one timed loop produced: latencies (seconds) and work units
    (queries, change rows) per kind of operation, and the checks."""

    latencies: dict[str, list[float]] = field(default_factory=dict)
    units: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def add(self, kind: str, seconds: float, units: float = 1.0) -> None:
        self.latencies.setdefault(kind, []).append(seconds)
        self.units[kind] = self.units.get(kind, 0.0) + units

    def rate(self) -> float:
        """Units per second of the timed mix with every operation's time
        replaced by the median of its kind. A burst of host noise that
        slows a few operations then moves the rate much less than it
        moves the loop's wall time."""
        busy = sum(len(v) * statistics.median(v) for v in self.latencies.values())
        return sum(self.units.values()) / busy if busy > 0 else 0.0

    def attempt(self) -> None:
        with self._lock:
            self.attempted += 1

    def fail(self, msg: str) -> None:
        with self._lock:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(msg)

    def all_latencies(self) -> list[float]:
        return [x for xs in self.latencies.values() for x in xs]


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, sizes: Sizes, tracer):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.sizes = sizes
        self.tracer = tracer
        self.result = Result()

    def generate(self) -> None:
        raise NotImplementedError

    def seed_tables(self, i: int) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def measure(self, seconds: float) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        pass


# ----------------------------------------------------------------- sql_read


class SqlRead(Workload):
    """Analyst path: the 11 registered analytic queries over read-only
    star-schema fixtures, in a seed-shuffled order each round."""

    name = "sql_read"

    def generate(self) -> None:
        self.tables = datagen.star_schema(self.seed, self.sizes.sf)
        self.rng = np.random.default_rng([self.seed, 4])

    def seed_tables(self, i: int) -> None:
        """Write the fixture files; the first set-up also computes the
        DuckDB oracle answers, which later set-ups of the same tables reuse."""
        import __spark_entry__ as entry

        if i > 0:
            shutil.rmtree(self.sf_dir, ignore_errors=True)
        self.sf_dir = os.path.join(self.work, "inputs", f"sf{i}")
        if i == 0:
            self.expected = _fixtures(self.tables, self.sf_dir)
        else:
            datagen.write_tables(self.tables, self.sf_dir)
        all_q = entry.queries()
        self.queries = {q: all_q[q] for q in SQL_QUERIES}

    def _run(self, name: str, timed: bool) -> None:
        from scripts.check_correctness import compare

        tr = self.tracer
        r = self.result
        r.attempt()
        t0 = time.perf_counter()
        try:
            with tr.op(name):
                with tr.span(f"operators.{name}", "operators"):
                    df = self.queries[name](self.spark, self.sf_dir)
                with tr.span("exec.collect", "exec"):
                    got = df.toPandas()
                dt_s = time.perf_counter() - t0
                tr.catalyst(df)
        except Exception as exc:  # a failed query is a failed op, not a crash
            r.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            return
        if timed:
            r.add(name, dt_s)
        msg = compare(name, got, self.expected[name])
        if msg:
            r.fail(f"{name}: {msg}")

    def _round(self) -> None:
        for i in self.rng.permutation(len(SQL_QUERIES)):
            self._run(SQL_QUERIES[i], timed=True)

    def warm_up(self) -> None:
        # each query once on the full-size fixtures, four at a time. Code
        # generation on tiny fixtures is not enough: the JIT compiles the
        # scan, aggregate and join loops only after they have run over
        # many rows, and the timed rounds then still speed up from one to
        # the next (a query's first run up to twice its last)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(4) as pool:
            futures = [pool.submit(self._run, q, False) for q in SQL_QUERIES]
            for f in futures:
                f.result()

    def measure(self, seconds: float) -> None:
        t0 = time.perf_counter()
        rounds = 0
        while rounds < self.sizes.sql_min_rounds or time.perf_counter() - t0 < seconds:
            self._round()
            rounds += 1
        self.result.extra["wall_s"] = time.perf_counter() - t0
        self.result.extra["rounds"] = rounds


def _fixtures(tables, sf_dir: str) -> dict:
    """Write the fixture files; return each query's DuckDB oracle answer."""
    import duckdb

    import __spark_entry__ as entry

    datagen.write_tables(tables, sf_dir)
    oracle = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {q: con.sql(oracle[q]).df() for q in SQL_QUERIES}
    finally:
        con.close()


# --------------------------------------------------------------- cdc_ingest


class _ProgressListener:
    """Collects ``StreamingQueryProgress`` of every micro-batch."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []
        done = self.done = threading.Condition()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with done:
                    events.append({
                        "batch": p.batchId,
                        "rows": p.numInputRows,
                        "start": dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                        "duration_ms": dict(p.durationMs),
                    })
                    done.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()

    def wait_for(self, n: int, timeout: float = 30.0) -> None:
        with self.done:
            self.done.wait_for(lambda: len(self.events) >= n, timeout)


class CdcIngest(Workload):
    """Debezium→Spark CDC merge: drain a backlog of envelope files, one file
    per micro-batch, into a 32-bucket merge-on-read table; then one portal
    operation of each kind through ``LakeEngine`` on the table the stream
    built, each checked against the model."""

    name = "cdc_ingest"
    TABLE = "customers"

    def _n_files(self) -> int:
        s = self.sizes
        return s.cdc_warm_batches + s.cdc_cycles * (s.cdc_threshold + 1)

    def generate(self) -> None:
        import pyarrow.parquet as pq

        s = self.sizes
        src = os.path.join(self.work, "inputs", "envelopes")
        self.backlog = datagen.cdc_backlog(self.seed, s.cdc_keys, self._n_files(), s.cdc_rows, src)
        self.input_bytes = self.backlog.envelope_bytes
        self.warm_batches = s.cdc_warm_batches
        self.seed_path = os.path.join(self.work, "inputs", "seed.parquet")
        pq.write_table(self.backlog.seed_rows, self.seed_path)
        self.portal = datagen.PortalOpStream(self.seed, self.backlog.expected)
        self.portal_s: dict[str, list[float]] = {}

    def seed_tables(self, i: int) -> None:
        from pyspark.sql.types import StringType, StructField

        from datalake_on_prem_system_spark.engine import LakeEngine

        if i > 0:
            shutil.rmtree(self.engine.catalog.warehouse, ignore_errors=True)
        self.engine = LakeEngine(self.spark, os.path.join(self.work, f"warehouse{i}"), namespace="cdc")
        self.table = self.engine.catalog.table(self.TABLE)
        commit = self.table.create_or_replace(
            self.spark.read.parquet(self.seed_path),
            properties={
                "write.merge.mode": "mor",
                "write.merge.delta.compact-threshold": str(self.sizes.cdc_threshold),
            },
            bucket_by=("id", 32),
        )
        self.seed_version = commit.version
        schema = self.table.read().schema
        self.upsert_schema = schema.add(StructField("op", StringType()))

    def warm_up(self) -> None:
        # the stream's first ``cdc_warm_batches`` micro-batches are the
        # warm-up; the stream itself runs once, inside measure()
        pass

    def measure(self, seconds: float) -> None:
        from datalake_on_prem_system_spark.streaming import cdc

        # --seconds does not shorten the drain: the backlog is sized in
        # whole compaction cycles (Sizes.cdc_cycles) so every run commits
        # the same sequence of deltas and compactions
        progress = _ProgressListener()
        self.spark.streams.addListener(progress.listener)
        n = self._n_files()
        r = self.result
        try:
            with self.tracer.op("stream"):
                cdc.run_cdc_file_stream(
                    self.spark, self.table, pk="id", row_ddl=datagen.CDC_ROW_DDL,
                    src_dir=os.path.dirname(self.backlog.files[0]),
                    checkpoint_dir=os.path.join(self.work, "checkpoint"),
                    order_cols=["updated_at"], max_files_per_trigger=1,
                )
            progress.wait_for(n)
        finally:
            self.spark.streams.removeListener(progress.listener)
        batches = sorted(progress.events, key=lambda e: e["batch"])
        self.batches = batches
        for _ in range(n):
            r.attempt()
        if len(batches) != n:
            r.fail(f"expected {n} micro-batches, saw {len(batches)}")
        cycle = self.sizes.cdc_threshold + 1
        for i, b in enumerate(batches[self.warm_batches:], self.warm_batches):
            # every ``cycle``-th merge of the stream compacts
            kind = "compaction" if (i + 1) % cycle == 0 else "delta"
            r.add(kind, b["duration_ms"]["triggerExecution"] / 1000.0, b["rows"])
        r.extra["trigger_s"] = [b["duration_ms"]["triggerExecution"] / 1000.0 for b in batches]
        r.extra["timed_batches"] = len(batches) - self.warm_batches

    def finish(self) -> None:
        """In a traced run, one portal operation of each kind (they give
        the ``engine`` layer its numbers); then the full table compared
        with the model (the CDC last-writer-wins state plus any portal
        writes)."""
        r = self.result
        if self.tracer.enabled:
            self.tracer.phase = "portal"
            for op in self.portal.block(datagen.PORTAL_OP_KINDS):
                self._portal_op(op)
            self.tracer.phase = None
        self.tracer.before_read(self.table)
        with self.tracer.op("final_read"):
            got = self.engine.read(self.TABLE).toPandas()
        exp = pd.DataFrame.from_records(list(self.portal.model.values()), columns=datagen.CDC_COLUMNS)
        msg = _frame_diff(got[datagen.CDC_COLUMNS], exp, "id")
        if msg:
            r.fail(f"final table: {msg}")
        self.live_rows = len(got)
        r.extra["portal_s"] = self.portal_s

    def _portal_op(self, op: datagen.PortalOp) -> None:
        r = self.result
        r.attempt()
        if op.row is not None and op.kind != "read":
            self.input_bytes += len(repr(op.row))
        eng, tr = self.engine, self.tracer
        t0 = time.perf_counter()
        try:
            with tr.op(op.kind):
                if op.kind == "read":
                    tr.before_read(self.table)
                    df = eng.read(self.TABLE, filter_col="id", filter_val=str(op.key))
                    with tr.span("exec.collect", "exec"):
                        rows = df.collect()
                    tr.catalyst(df)
                elif op.kind == "upsert":
                    src = self.spark.createDataFrame([(*op.row, "u")], self.upsert_schema)
                    eng.merge_cdc(self.TABLE, src, pk="id", op_col="op")
                elif op.kind == "insert":
                    eng.insert(self.TABLE, {c: str(v) for c, v in zip(datagen.CDC_COLUMNS, op.row)})
                elif op.kind == "update":
                    eng.update(self.TABLE, str(op.key), op.assignments)
                else:
                    eng.delete(self.TABLE, str(op.key))
        except Exception as exc:
            r.fail(f"{op.kind} {op.key}: {type(exc).__name__}: {str(exc)[:200]}")
            return
        self.portal_s.setdefault(op.kind, []).append(time.perf_counter() - t0)
        if op.kind == "read":
            got = [tuple(x) for x in rows]
            want = [op.row] if op.row is not None else []
            if got != want:
                r.fail(f"read {op.key}: got {got[:2]} want {want}")


def _frame_diff(got: pd.DataFrame, exp: pd.DataFrame, key: str) -> str:
    """'' when both frames hold the same rows (order-insensitive), else a
    short description of the first difference."""
    if len(got) != len(exp):
        return f"{len(got)} rows, expected {len(exp)}"
    a = got.sort_values(key, ignore_index=True)
    b = exp.sort_values(key, ignore_index=True)
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_datetime64_any_dtype(x) or pd.api.types.is_datetime64_any_dtype(y):
            x, y = pd.to_datetime(x), pd.to_datetime(y)
        bad = ~((x == y) | (x.isna() & y.isna()))
        if bad.any():
            i = int(np.flatnonzero(bad.to_numpy())[0])
            return f"column {c} differs at {key}={a[key].iloc[i]}: {x.iloc[i]!r} vs {y.iloc[i]!r}"
    return ""


WORKLOADS = {w.name: w for w in (CdcIngest, SqlRead)}
