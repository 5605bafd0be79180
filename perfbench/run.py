"""Lakehouse engine benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload {cdc_ingest,sql_read} \
        --seed N --seconds S --trace {0,1}

Run it from the repository root. It generates every input from ``--seed``
under ``.perfbench/`` in the current directory, starts a local Spark
session on all cores, sets up and warms up the workload, runs the timed
loop, checks every result and prints as its last stdout line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs the
span wrappers, writes the Spark event log and reports the per-layer
metrics instead (see README.md). A host-noise record (CPU steal, load,
foreign JVMs) is printed on the line before the result and kept, with the
spans of a traced run, in ``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED_REPEATS = 3  # engine-side set-up runs per run; setup_s takes their median

END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "op_p50_s": "s"}


# ---------------------------------------------------------------- host noise


def _cpu_steal() -> int:
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def _java_pids() -> set[int]:
    pids = set()
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/comm") as fh:
                    if fh.read().strip() == "java":
                        pids.add(int(d))
            except OSError:
                continue
    return pids


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


# ------------------------------------------------------------------ session


def _start_session(work: str, trace: bool):
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every file Spark, the JVM or tempfile writes stays inside the run dir
    tempfile.tempdir = tmp
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
    })
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        from trace_spans import event_log_conf

        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    from datalake_on_prem_system_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf=conf)


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    # a later session in this process launches a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# -------------------------------------------------------------------- main


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["cdc_ingest", "sql_read"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="self-check sizes (sf0.001)")
    ap.add_argument("--out", default=".perfbench", help="run directory (default: .perfbench)")
    return ap.parse_args(argv)


def run(args, tamper=None) -> dict:
    """One benchmark run; returns the full record (result line included).
    ``tamper(workload)``, called once set-up is done, lets the self-check
    plant a wrong expected answer."""
    import workloads
    from trace_spans import NullTracer, Report, Tracer, read_event_log

    out = os.path.abspath(args.out)
    work = os.path.join(out, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    runs_dir = os.path.join(out, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    host = {"steal_start": _cpu_steal(), "load_start": _loadavg(),
            "foreign_jvms_start": len(_java_pids())}
    sizes = workloads.Sizes.tiny() if args.tiny else workloads.Sizes()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark) if args.trace else NullTracer()
        if args.trace:
            tracer.install()
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, sizes, tracer)
        t0 = time.perf_counter()
        wl.generate()
        generate_s = time.perf_counter() - t0
        seed_s = []
        for i in range(SEED_REPEATS):
            t0 = time.perf_counter()
            wl.seed_tables(i)
            seed_s.append(time.perf_counter() - t0)
        if tamper is not None:
            tamper(wl)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        steal0 = _cpu_steal()
        tracer.phase = "timed"
        wl.measure(args.seconds)
        tracer.phase = None
        host["steal_timed"] = _cpu_steal() - steal0
        wl.finish()
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        own = {jvm.pid} if jvm is not None else set()
        host["foreign_jvms_end"] = len(_java_pids() - own)
        # storage cost of the final snapshot, while the session is up
        storage = _storage(wl)
        if args.trace:
            wl.commit_log = _commit_log(wl)
    finally:
        if spark is not None:
            _stop_session(spark)
    host["steal_run"] = _cpu_steal() - host["steal_start"]
    host["load_end"] = _loadavg()

    r = wl.result
    lat = r.all_latencies()
    e2e = {
        "setup_s": session_s + generate_s + statistics.median(seed_s) + warm_s,
        "throughput_per_s": r.rate(),
        "op_p50_s": statistics.median(lat) if lat else 0.0,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host,
        "setup": {"session_s": session_s, "generate_s": generate_s, "seed_s": seed_s, "warm_up_s": warm_s},
        "end_to_end": e2e,
        "samples": {k: len(v) for k, v in r.latencies.items()},
        "latency_p50_by_kind": {k: statistics.median(v) for k, v in r.latencies.items()},
        "latencies": r.latencies,
        "storage": storage, "extra": r.extra, "failures": r.failures,
    }
    if args.trace:
        report = Report(tracer, read_event_log(os.path.join(work, "eventlog")),
                        getattr(wl, "batches", None))
        import layers

        per_layer, detail = layers.per_layer(report, wl, session_s, storage)
        record["per_layer"] = per_layer
        record["trace"] = detail
        record["trace"]["overhead"] = _overhead(runs_dir, args, e2e)
        record["layers"] = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in per_layer.items()}
        metrics = {k: record["layers"][k] for k in layers.REPORTED}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    record["result"] = {"correct": r.failed == 0, "attempted": r.attempted,
                        "failed": r.failed, "metrics": metrics}
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(runs_dir, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    return record


def _parquet_files(entries: list[dict]) -> tuple[int, int]:
    """(files, bytes) of the parquet files under commit entries' paths."""
    files = size = 0
    for e in entries:
        for root, _, names in os.walk(e["path"]):
            for f in names:
                if f.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, f))
    return files, size


def _storage(wl) -> dict:
    """Bytes of the latest snapshot's live files and the live row count."""
    table = getattr(wl, "table", None)
    if table is None:
        return {"bytes": 0, "rows": 0, "bytes_per_live_row": 0.0}
    _, total = _parquet_files(table.commit_at().files)
    rows = getattr(wl, "live_rows", 0)
    return {"bytes": total, "rows": rows, "bytes_per_live_row": total / rows if rows else 0.0}


def _commit_log(wl) -> list[dict]:
    """Per commit of the workload's table: rows, files and bytes it wrote,
    and whether it was committed by the run (after the seeding)."""
    table = getattr(wl, "table", None)
    if table is None:
        return []
    out = []
    for v in table.versions():
        new = [e for e in table.commit_at(v).files if e.get("seq") == v]
        files, size = _parquet_files(new)
        out.append({"version": v, "rows_added": sum(e["n_rows"] for e in new),
                    "files_added": files, "bytes_added": size,
                    "during_run": v > wl.seed_version})
    return out


def _overhead(runs_dir: str, args, e2e: dict) -> dict:
    """Traced minus untraced value of each end-to-end metric, against the
    untraced record of the same workload and seed, when one exists."""
    path = os.path.join(runs_dir, f"{args.workload}-seed{args.seed}-trace0.json")
    if not os.path.exists(path):
        return {"traced": e2e, "untraced": None, "note": "no untraced run of this seed recorded"}
    with open(path) as fh:
        base = json.load(fh)["end_to_end"]
    return {"traced": e2e, "untraced": base,
            "traced_minus_untraced": {k: e2e[k] - base[k] for k in e2e if k in base}}


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "datalake_on_prem_system_spark")):
        print("perfbench: the engine package is not beside perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    record = run(args)
    print("# host " + json.dumps(record["host"]))
    if args.trace:
        print("# layers " + json.dumps(record["layers"]))
        print("# trace " + json.dumps({k: record["trace"][k] for k in ("overhead", "unattributed")}))
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
