"""Self-check of the benchmark at sf0.001 sizes (about four minutes).

    python3 perfbench/selfcheck.py

Asserts that

1. every workload prints every end-to-end metric (``--trace 0``) and every
   per-layer metric (``--trace 1``) of BENCHMARK.json with its unit, plus
   the full layer table on its ``# layers`` line;
2. the same seed generates byte-identical inputs and another seed
   different ones;
3. a deliberately wrong expected result is counted as a failed operation.

Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench", "selfcheck")


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def check_inputs() -> list[str]:
    """Generated inputs are a function of the seed alone."""
    import datagen
    from workloads import Sizes

    sizes = Sizes.tiny()

    def generate(seed: int, tag: str) -> str:
        d = os.path.join(OUT, "inputs", tag)
        shutil.rmtree(d, ignore_errors=True)
        datagen.write_tables(datagen.star_schema(seed, sizes.sf), os.path.join(d, "sf"))
        backlog = datagen.cdc_backlog(seed, sizes.cdc_keys, 3, sizes.cdc_rows, os.path.join(d, "cdc"))
        ops = datagen.PortalOpStream(seed, backlog.expected)
        with open(os.path.join(d, "portal_ops.txt"), "w") as fh:
            for _ in range(3):
                fh.write(repr(ops.block(datagen.PORTAL_OP_KINDS)) + "\n")
        return _digest(d)

    a, b, c = generate(7, "a"), generate(7, "b"), generate(8, "c")
    errors = []
    if a != b:
        errors.append("same seed generated different inputs")
    if a == c:
        errors.append("different seeds generated identical inputs")
    return errors


def check_metrics(bench: dict) -> list[str]:
    """Each workload prints every named metric with its unit."""
    import layers

    errors = []
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "3",
                   "--seconds", "1", "--trace", str(trace), "--tiny", "--out", OUT]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                errors.append(f"{w} trace={trace}: exit {proc.returncode}: {proc.stderr[-500:]}")
                continue
            res = json.loads(lines[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                errors.append(f"{w} trace={trace}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                errors.append(f"{w} trace={trace}: correct={res['correct']} failed={res['failed']}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                errors.append(f"{w} trace={trace}: metrics {sorted(set(got) ^ set(want[trace]))} differ")
            if trace:
                table = [ln for ln in lines if ln.startswith("# layers ")]
                full = json.loads(table[0][len("# layers "):]) if table else {}
                if {k: v["unit"] for k, v in full.items()} != layers.UNITS:
                    errors.append(f"{w}: '# layers' line does not carry every layer metric")
    return errors


def check_wrong_answers() -> list[str]:
    """A wrong expected answer is a failed operation, in both workloads."""
    import run as bench_run

    def tamper_sql(wl):
        q = "q6_forecast_revenue"
        wl.expected[q] = wl.expected[q].assign(n_items=wl.expected[q]["n_items"] + 1)

    def tamper_cdc(wl):
        k = max(wl.portal.model)
        row = wl.portal.model[k]
        wl.portal.model[k] = (row[0], row[1] + "-wrong", *row[2:])

    errors = []
    for w, tamper in (("sql_read", tamper_sql), ("cdc_ingest", tamper_cdc)):
        args = bench_run._parse(["--workload", w, "--seed", "5", "--seconds", "1",
                                 "--tiny", "--out", OUT])
        rec = bench_run.run(args, tamper=tamper)
        res = rec["result"]
        if res["correct"] or res["failed"] < 1:
            errors.append(f"{w}: a wrong expected answer was not counted as failed ({res})")
    return errors


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    errors = check_inputs() + check_metrics(bench) + check_wrong_answers()
    shutil.rmtree(OUT, ignore_errors=True)
    for e in errors:
        print("FAIL " + e)
    print("selfcheck: " + ("ok" if not errors else f"{len(errors)} failure(s)"))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
