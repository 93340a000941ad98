"""The workloads. Each makes its inputs from the seed in ``setup``,
computes what correct output looks like in ``prepare_check`` (untimed),
and runs one complete, checked pass per ``run_pass``.

A pass is a closed loop of one client: the benchmark submits one job,
waits for it, and only then submits the next.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import inputs

N_BUCKETS = 64


@dataclass
class Pass:
    job_s: float
    attempted: int
    failed: int
    groups: list[str]
    layer: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    tracer: object
    index: int

    def group(self, name: str) -> str:
        gid = f"pass{self.index}.{name}"
        self.spark.sparkContext.setJobGroup(gid, gid)
        return gid


def _part_key(n_buckets: int):
    # the documented part_key contract, restated so the check does not
    # reuse the code it checks
    return F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets))


def expected_lineage(url_expected, n_buckets: int = N_BUCKETS) -> dict:
    """part_key -> (docs, checksum) of the expected (url, expected) rows,
    with the checksum ``lineage`` computes over (url, extracted)."""
    rows = (
        url_expected.groupBy(_part_key(n_buckets).alias("part_key"))
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.bit_xor(F.xxhash64("url", "expected")).alias("checksum"),
        )
        .collect()
    )
    return {r["part_key"]: (r["docs"], r["checksum"]) for r in rows}


def lineage_failures(rows, expected: dict) -> int:
    """Docs counted as failed: every doc of a part_key whose count,
    checksum or error count disagrees with the expected lineage."""
    failed = 0
    seen = set()
    for r in rows:
        seen.add(r["part_key"])
        want = expected.get(r["part_key"])
        if want is None or (r["docs"], r["checksum"]) != want or r["errors"]:
            failed += max(r["docs"], want[0] if want else 0)
    failed += sum(want[0] for k, want in expected.items() if k not in seen)
    return failed


class _Extract:
    """Shared by the extract workloads: pages in, lineage rows out."""

    rows: int
    modes: tuple[tuple[str, str], ...]
    # extract_pages' own default: spark.sql.shuffle.partitions tasks
    repartition_to: int | None = None

    def __init__(self, seed: int):
        self.seed = seed

    @property
    def docs(self) -> int:
        return self.rows

    def extract(self, ctx: Ctx, pages, mode: str, query: str, repartition_to=None):
        from xqspark.pipeline import extract_pages, lineage

        with ctx.tracer.span("pipeline.extract_pages"):
            ex = extract_pages(
                pages, mode=mode, query=query, n_buckets=N_BUCKETS,
                repartition_to=repartition_to,
            )
        with ctx.tracer.span("pipeline.lineage"):
            lin = lineage(ex)
        with ctx.tracer.span("spark.collect"):
            return lin.collect()

    def run_pass(self, ctx: Ctx) -> Pass:
        group = ctx.group("extract")
        results = []
        t0 = time.perf_counter()
        for mode, query in self.modes:
            results.append(self.extract(ctx, self.pages, mode, query, self.repartition_to))
        job_s = time.perf_counter() - t0
        failed = sum(
            lineage_failures(rows, self.expected[mode])
            for rows, (mode, _) in zip(results, self.modes)
        )
        n = self.rows * len(self.modes)
        return Pass(job_s, n, min(failed, n), [group])

    def warm_up(self, ctx: Ctx) -> None:
        """Every mode once over a slice of the pages, in one task per
        core: the pass's code is compiled and the JIT warmed without
        paying for a whole pass."""
        cpus = ctx.spark.sparkContext.defaultParallelism
        ctx.group("warm_up")
        part = self.pages.limit(self.rows // 16)
        for mode, query in self.modes:
            self.extract(ctx, part, mode, query, repartition_to=cpus)

    def udf_stage_s(self, ctx: Ctx) -> float:
        """Pass time on input already partitioned the way
        ``extract_pages`` would (``repartition_to=0``): the Python UDF
        stage without the salted exchange."""
        from xqspark.pipeline import with_host_salt

        nparts = int(ctx.spark.conf.get("spark.sql.shuffle.partitions"))
        pre = (
            with_host_salt(self.pages)
            .repartition(nparts, "host", "salt")
            .persist()
        )
        pre.count()
        t0 = time.perf_counter()
        for mode, query in self.modes:
            self.extract(ctx, pre, mode, query, repartition_to=0)
        seconds = time.perf_counter() - t0
        pre.unpersist()
        return seconds

    def sample(self, n: int) -> list[bytes]:
        return [bytes(r["html"]) for r in self.pages.select("html").limit(n).collect()]


class ExtractXmlSmall(_Extract):
    """Tiny XML pages through ``xpath-single //title``: the job the
    scaling proxy runs at local[1] and at local[4]. Per-doc core work is
    small, so the Arrow hop, the salted exchange and task scheduling
    dominate."""

    name = "extract_xml_small"
    rows = 30_000
    modes = (("xpath-single", "//title"),)

    def setup(self, spark) -> None:
        self.pages = inputs.xml_pages(spark, self.rows, self.seed).persist()
        self.pages.count()

    def prepare_check(self, spark) -> None:
        exp = expected_lineage(inputs.xml_title_expected(self.pages))
        self.expected = {"xpath-single": exp}


class ExtractHtmlLarge(_Extract):
    """~3.7 KB article pages through ``css div.main p`` and
    ``main-content``: HTML tree building, CSS select and main-content
    scoring cost the core milliseconds per doc.

    At 8,000 pages the core's in-function time is about half of a pass
    on 4 cores. The rest is the fixed cost of each Python task and the
    JVM's Arrow and shuffle work on the same cores; that work grows with
    the docs as well, so more pages would lengthen the pass without
    raising the core's share much."""

    name = "extract_html_large"
    rows = 8_000
    modes = (("css", "div.main p"), ("main-content", ""))
    core_calls = ("css_query", "main_text")
    core_metrics = ("parse_html", "css_select", "css_query", "main_text")

    def setup(self, spark) -> None:
        self.pages, self.expected_df = inputs.html_pages(spark, self.rows, self.seed)
        self.pages = self.pages.persist()
        self.pages.count()

    def prepare_check(self, spark) -> None:
        exp = self.expected_df
        self.expected = {
            "css": expected_lineage(exp.select("url", F.col("css").alias("expected"))),
            "main-content": expected_lineage(
                exp.select("url", F.col("main").alias("expected"))
            ),
        }


def _norm_rows(columns: list[str], rows) -> list[tuple]:
    """Rows as tuples in column-name order, floats rounded, sorted: the
    comparison the catalog's oracle tests make."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())

    def norm(v):
        return round(v, 6) if isinstance(v, float) else v

    return sorted(tuple(norm(row[i]) for i in order) for row in rows)


class NeardupSf01:
    """The near-dup operators of the catalog on its sf0.1 ``documents``
    table, consonant-rotated by the seed: the query layer and Spark do
    all the work, the core none."""

    name = "neardup_sf01"
    core_calls = core_metrics = ()
    OPS = (
        "minhash_sig", "simhash", "winnow_fp", "lsh_pairs",
        "simhash_pairs", "winnow_pairs", "dedup_clusters",
    )

    def __init__(self, seed: int):
        self.seed = seed

    def warm_up(self, ctx: Ctx) -> None:
        # the first pass on a new session takes about 1.6 times as long
        # as a warm one (code generation, the JIT, the Arrow kernels'
        # first calls), and a smaller table pays nearly as much, so the
        # warm-up is a whole pass
        self.execute(ctx)

    def setup(self, spark) -> None:
        self.sf_dir = os.path.join(os.environ["TMPDIR"], f"docs-{self.seed}")
        self.docs = inputs.write_documents(self.sf_dir, self.seed)
        # first touch, so the first pass does not pay the page-cache faults
        spark.read.parquet(f"{self.sf_dir}/documents.parquet").write.format(
            "noop"
        ).mode("overwrite").save()

    def prepare_check(self, spark) -> None:
        import duckdb

        from xqspark import queries as q

        sql = {
            "minhash_sig": q.q_minhash_sig_sql(),
            "simhash": q.q_simhash_sql(),
            "winnow_fp": q.q_winnow_fp_sql(),
            "lsh_pairs": q.q_lsh_pairs_sql(n_bands=16, n_rows=4, band_cap=64),
            "simhash_pairs": q.q_simhash_pairs_sql(),
            "winnow_pairs": q.q_winnow_pairs_sql(),
            "dedup_clusters": q.q_dedup_clusters_sql(),
        }
        con = duckdb.connect()
        try:
            con.sql(
                "CREATE VIEW documents AS FROM "
                f"read_parquet('{self.sf_dir}/documents.parquet')"
            )
            self.expected = {}
            for op, text in sql.items():
                rel = con.sql(text)
                self.expected[op] = _norm_rows(list(rel.columns), rel.fetchall())
        finally:
            con.close()

    def calls(self, spark, dropped: list, cache: list) -> dict:
        from xqspark import queries as q

        d = self.sf_dir
        return {
            "minhash_sig": lambda: q.q_minhash_sig(spark, d),
            "simhash": lambda: q.q_simhash(spark, d),
            "winnow_fp": lambda: q.winnow_fp(spark, d),
            "lsh_pairs": lambda: q.lsh_pairs(
                spark, d, n_bands=16, n_rows=4, band_cap=64,
                on_dropped=dropped.append, cache_out=cache,
            ),
            "simhash_pairs": lambda: q.simhash_pairs(spark, d),
            "winnow_pairs": lambda: q.winnow_pairs(spark, d),
            "dedup_clusters": lambda: q.dedup_clusters(spark, d),
        }

    def execute(self, ctx: Ctx):
        """Every op once, collected: (seconds, job groups, layer
        figures, outputs)."""
        dropped: list[int] = []
        cache: list = []
        calls = self.calls(ctx.spark, dropped, cache)
        groups, layer, outputs = [], {}, {}
        t0 = time.perf_counter()
        for op in self.OPS:
            groups.append(ctx.group(op))
            s0 = time.perf_counter()
            with ctx.tracer.span(f"queries.{op}"):
                df = calls[op]()
                s1 = time.perf_counter()
                with ctx.tracer.span("spark.collect"):
                    rows = df.collect()
            s2 = time.perf_counter()
            outputs[op] = (df.columns, rows)
            layer[f"queries.{op}_s"] = s2 - s0
            layer[f"queries.{op}_rows"] = len(rows)
            if op == "dedup_clusters":
                layer["queries.dedup_clusters_build_s"] = s1 - s0
        job_s = time.perf_counter() - t0
        for c in cache:
            c.unpersist()
        layer["queries.lsh_dropped_hot_bands"] = dropped[-1] if dropped else 0
        return job_s, groups, layer, outputs

    def run_pass(self, ctx: Ctx) -> Pass:
        job_s, groups, layer, outputs = self.execute(ctx)
        failed = sum(
            _norm_rows(cols, rows) != self.expected[op]
            for op, (cols, rows) in outputs.items()
        )
        return Pass(job_s, len(self.OPS), failed, groups, layer)


WORKLOADS = {w.name: w for w in (ExtractHtmlLarge, NeardupSf01)}
