"""Benchmark for xqspark: per-document extraction over a pages table and
the near-duplicate queries, on ``local[N]`` with N the usable cores.

    python3 perfbench/run.py --workload extract_html_large --seed 1 --seconds 10 --trace 0

Load is a closed loop of one client: one job at a time, the next
submitted when the last has finished. A run

1. sets up once, launching its own JVM: session start, Python-worker
   warm-up, seeded input generation and materialisation; their sum is
   ``setup_s``;
2. computes the expected output of the inputs while it warms up (both
   untimed; the warm-up compiles code and warms the JIT);
3. runs checked passes back to back until ``--seconds`` have passed,
   and reports the median of those;
4. prints one JSON object as the last line of stdout and writes it,
   with more detail, under ``perfbench/_work/results/``.

``--trace 0`` reports the end-to-end metrics, measured with tracing off.
``--trace 1`` reports the per-layer metrics and writes the spans to the
results directory. Traced and untraced passes run in T U T order, so
the run measures its own tracing overhead without the drift of a
warming JVM. A per-layer metric that a workload does not exercise reads
0: the queries layer on ``extract_html_large``; the core, the extract
split and the scaling proxy on ``neardup_sf01``.

``ok_frac`` is 1 - failed/attempted: the share of docs
(``extract_html_large``) or output checks (``neardup_sf01``) that came
out right.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from session import WORK, configure_environment

CORE_SAMPLE = 100

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_write_mb", "shuffle_records",
    "shuffle_write_s", "python_sent_mb", "python_received_mb",
)


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def core_timings(names: tuple[str, ...], samples: list[bytes], tracer, repeats: int = 3) -> dict:
    """Median microseconds per doc of each core call, in this process
    and without Spark, on the workload's own payloads."""
    from xqspark.core.api import css_query
    from xqspark.core.css import compile_css
    from xqspark.core.htmltree import parse_html
    from xqspark.core.maincontent import main_text

    selector = compile_css("div.main p")
    parsed = [parse_html(p) for p in samples]
    calls = {
        "parse_html": lambda: [parse_html(p) for p in samples],
        "css_select": lambda: [selector.select(d) for d in parsed],
        "css_query": lambda: [css_query(p, "div.main p", "", False, "  ") for p in samples],
        "main_text": lambda: [main_text(p) for p in samples],
    }
    out = {}
    for name in names:
        runs = []
        for _ in range(repeats):
            with tracer.span(f"core.{name}"):
                t0 = time.perf_counter()
                calls[name]()
                runs.append((time.perf_counter() - t0) / len(samples) * 1e6)
        out[name] = _median(runs)
    return out


def per_layer(wl, spark, tracer, passes, counters, setup, cpus, seed) -> dict:
    """Every per-layer metric, from the traced passes and the traced
    run's extra measurements."""
    from probes import task_stats
    from workloads import Ctx, ExtractHtmlLarge, NeardupSf01, _Extract

    traced = [i for i, (t, _) in enumerate(passes) if t]
    untraced = [p.job_s for t, p in passes if not t]
    layer_of = [passes[i][1].layer for i in traced]
    per_pass = [counters[i] for i in traced]
    m: dict[str, float] = {}

    tracer.run_id = -1  # spans outside the passes
    samples = wl.sample(CORE_SAMPLE) if wl.core_metrics else []
    us = core_timings(wl.core_metrics, samples, tracer)
    for name in ExtractHtmlLarge.core_metrics:
        m[f"core.{name}_us"] = us.get(name, 0.0)
    # one core call per doc and mode in every pass
    m["core.busy_s"] = sum(us[c] for c in wl.core_calls) * wl.docs / 1e6

    job_traced = _median([passes[i][1].job_s for i in traced])
    extract = ("extract_s", "udf_stage_s", "exchange_s", "boundary_frac",
               "scaling_eff_1to4", "scaling_ceiling_1to4")
    m.update((f"pipeline.{k}", 0.0) for k in extract)
    if isinstance(wl, _Extract):
        from scaling import scaling_proxy

        spark.sparkContext.setJobGroup("layer.udf_stage", "layer.udf_stage")
        udf = wl.udf_stage_s(Ctx(spark, tracer, -1))
        m["pipeline.extract_s"] = job_traced
        m["pipeline.udf_stage_s"] = udf
        m["pipeline.exchange_s"] = job_traced - udf
        m["pipeline.boundary_frac"] = 1 - m["core.busy_s"] / (udf * cpus)
        m.update((f"pipeline.{k}", v) for k, v in scaling_proxy(seed).items())
    for k, v in task_stats([ms for c in per_pass for ms in c["task_ms"]]).items():
        m[f"pipeline.{k}"] = v
    for k, idx in (("session", 0), ("warm", 1), ("input", 2)):
        m[f"pipeline.setup_{k}_s"] = setup[idx]

    for op in NeardupSf01.OPS:
        for key in (f"queries.{op}_s", f"queries.{op}_rows"):
            m[key] = _median([lay.get(key, 0) for lay in layer_of])
        m[f"queries.{op}_jobs"] = _median([c["op_jobs"].get(op, 0) for c in per_pass])
    for key in ("queries.dedup_clusters_build_s", "queries.lsh_dropped_hot_bands"):
        m[key] = _median([lay.get(key, 0) for lay in layer_of])

    for k in SPARK_COUNTERS:
        m[f"spark.{k}"] = _median([c[k] for c in per_pass])

    # inside a pass the pipeline calls only build lazy DataFrames, all
    # execution is charged to the spark.collect span, and the core is
    # called from Python workers, out of the tracer's sight; so only these
    # two layers have a self time, and the core's in-function cost is
    # core.busy_s
    self_s = [tracer.self_seconds({i}) for i in traced]
    for name in ("queries", "spark"):
        m[f"{name}.self_s"] = _median([s.get(name, 0.0) for s in self_s])
    m["trace.overhead_s"] = job_traced - _median(untraced)
    return m


def _unit(name: str) -> str:
    if name.endswith("_us"):
        return "us"
    if name.endswith("_s") or "_s_p" in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_1to4", "_skew")):
        return "ratio"
    if name.startswith("host."):
        return "load"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    tmp = WORK / "tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
    configure_environment(tmp)
    loadavg = os.getloadavg()[0]

    from probes import SparkCounters, peak_rss_mb, python_worker_pids
    from session import start_session, stop_spark, warm_python_workers
    from tracing import Tracer
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)}")
    wl = WORKLOADS[args.workload](args.seed)
    cpus = len(os.sched_getaffinity(0))
    tracer = Tracer(False)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(cpus)  # launches the JVM
        t1 = time.perf_counter()
        warm_python_workers(spark, cpus)
        t2 = time.perf_counter()
        wl.setup(spark)
        t3 = time.perf_counter()
        setup = (t1 - t0, t2 - t1, t3 - t2)

        def prepare_check():
            spark.sparkContext.setJobGroup("check", "check")
            wl.prepare_check(spark)

        counters = SparkCounters(spark)
        # the expected output is computed while the warm-up (untimed and
        # unchecked: code generation and the JIT) runs
        with ThreadPoolExecutor(1) as pool:
            check = pool.submit(prepare_check)
            wl.warm_up(Ctx(spark, tracer, -1))
            check.result()
        passes, per_pass, rss = [], [], 0.0
        # checked passes until --seconds have passed; with --trace 1 at
        # least three, traced and untraced in T U T order, so that the
        # drift of a warming JVM cancels out of the overhead
        min_passes = 3 if args.trace else 1
        end = time.perf_counter() + args.seconds
        while len(passes) < min_passes or time.perf_counter() < end:
            i = len(passes)
            tracer.enabled = bool(args.trace) and i % 2 == 0
            tracer.run_id = i
            # each pass starts from a collected heap on both sides, so no
            # pass pays for the garbage of set-up or of the pass before
            gc.collect()
            spark._jvm.System.gc()
            with tracer.span("bench.pass"):
                p = wl.run_pass(Ctx(spark, tracer, i))
            passes.append((tracer.enabled, p))
            rss = max(rss, peak_rss_mb(python_worker_pids()))
            c = None
            if tracer.enabled:
                c = counters.read(p.groups)
                c["op_jobs"] = {
                    g.split(".", 1)[1]: len(counters.job_ids([g])) for g in p.groups
                }
            per_pass.append(c)

        attempted = sum(p.attempted for _, p in passes)
        failed = sum(p.failed for _, p in passes)
        if args.trace:
            tracer.enabled = True
            metrics = per_layer(wl, spark, tracer, passes, per_pass, setup, cpus, args.seed)
            metrics["host.loadavg_1m"] = loadavg
            metrics = {k: (v, _unit(k)) for k, v in metrics.items()}
        else:
            job_s = _median([p.job_s for _, p in passes])
            metrics = {
                "job_s": (job_s, "s"),
                "docs_per_s": (wl.docs / job_s, "docs/s"),
                "ok_frac": (1 - failed / attempted, "ratio"),
                "worker_peak_rss_mb": (rss, "MB"),
                "setup_s": (sum(setup), "s"),
            }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    detail = dict(
        result,
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        cpus=cpus,
        loadavg_1m_at_start=loadavg,
        worker_peak_rss_mb=rss,
        pass_job_s=[p.job_s for _, p in passes],
        pass_traced=[t for t, _ in passes],
        pass_layer=[p.layer for _, p in passes],
        setup_s=setup,
    )
    (results / f"{stem}.json").write_text(json.dumps(detail, indent=1))
    if args.trace:
        tracer.write(str(results / f"{stem}-spans.json"))
    print(
        f"{args.workload} seed={args.seed}: {len(passes)} passes, "
        f"failed {failed}/{attempted}",
        file=sys.stderr,
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
