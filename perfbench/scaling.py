"""Scaling proxy for the N -> 4N executor criterion on one machine.

The ``extract_xml_small`` job runs at local[1] and at local[4], each in
a fresh process, with four times the rows at four times the cores and
the same number of tasks per core, so the fixed cost of a task weighs
the same at both sizes. Each child times its second pass. Next to it,
the same per-doc core call runs in 1 and in 4 plain processes without
Spark: the efficiency the machine itself allows for CPU-bound Python,
which the Spark figure should not exceed.

    python3 perfbench/scaling.py --cpus 4 --rows 10000 --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROWS_PER_CPU = 20_000
TASKS_PER_CPU = 8


def _spark_run(cpus: int, rows: int, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "scaling.py"), "--cpus", str(cpus),
         "--rows", str(rows), "--seed", str(seed)],
        capture_output=True, text=True, timeout=170,
    )
    if out.returncode != 0:
        raise RuntimeError(f"scaling child at local[{cpus}] failed:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def _ceiling_worker(doc: bytes, n: int) -> None:
    """Warm up, wait for the go line on stdin, then time ``n`` calls."""
    from xqspark.core.api import xpath_query

    for _ in range(10):
        xpath_query(doc, "//title", True)
    print("ready", flush=True)
    sys.stdin.readline()
    t0 = time.perf_counter()
    for _ in range(n):
        xpath_query(doc, "//title", True)
    print(time.perf_counter() - t0, flush=True)


def _ceiling_docs_per_s(doc: bytes, procs: int, per_proc: int = 30_000) -> float:
    """Docs/s of ``procs`` plain processes making the same call, started
    together once all have imported and warmed up."""
    cmd = [sys.executable, str(HERE / "scaling.py"), "--ceiling-worker",
           "--rows", str(per_proc), "--doc", doc.decode()]
    workers = [
        subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        for _ in range(procs)
    ]
    try:
        for w in workers:
            if w.stdout.readline().strip() != "ready":
                raise RuntimeError("ceiling worker failed to start")
        for w in workers:
            w.stdin.write("go\n")
            w.stdin.flush()
        seconds = max(float(w.stdout.readline()) for w in workers)
    finally:
        for w in workers:
            w.stdin.close()
            w.wait(timeout=60)
    return procs * per_proc / seconds


def scaling_proxy(seed: int) -> dict:
    """Spark efficiency rate(local[4]) / (4 * rate(local[1])) and the
    no-Spark ceiling of the same ratio."""
    one = _spark_run(1, ROWS_PER_CPU, seed)
    four = _spark_run(4, 4 * ROWS_PER_CPU, seed)
    doc = one["sample"].encode()
    # a round takes a few seconds and the machine's speed drifts between
    # rounds, so the ceiling is the median of three interleaved ones
    ceilings = [
        _ceiling_docs_per_s(doc, 4) / (4 * _ceiling_docs_per_s(doc, 1))
        for _ in range(3)
    ]
    return {
        "scaling_eff_1to4": four["docs_per_s"] / (4 * one["docs_per_s"]),
        "scaling_ceiling_1to4": statistics.median(ceilings),
    }


def _child(cpus: int, rows: int, seed: int) -> dict:
    from session import WORK, configure_environment, start_session, stop_spark, warm_python_workers

    tmp = WORK / "tmp" / f"scaling-{os.getpid()}"
    configure_environment(tmp)
    from tracing import Tracer
    from workloads import Ctx, ExtractXmlSmall

    spark = start_session(cpus)
    try:
        warm_python_workers(spark, cpus)
        wl = ExtractXmlSmall(seed)
        wl.rows = rows
        wl.repartition_to = TASKS_PER_CPU * cpus
        wl.setup(spark)
        wl.prepare_check(spark)
        for i in range(2):  # a warm-up pass, then the timed one
            p = wl.run_pass(Ctx(spark, Tracer(False), i))
            if p.failed:
                raise RuntimeError(f"{p.failed} docs failed the output check")
        return {
            "cpus": cpus,
            "rows": rows,
            "docs_per_s": rows / p.job_s,
            "sample": wl.sample(1)[0].decode(),
        }
    finally:
        stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--ceiling-worker", action="store_true")
    ap.add_argument("--doc")
    a = ap.parse_args()
    if a.ceiling_worker:
        sys.path.insert(0, str(HERE.parent))
        _ceiling_worker(a.doc.encode(), a.rows)
    else:
        print(json.dumps(_child(a.cpus, a.rows, a.seed)))
