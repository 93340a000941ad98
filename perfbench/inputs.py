"""Seeded inputs for the benchmark workloads, with their expected outputs.

Every generator is a pure function of its seed. Expected extraction
outputs are computed in closed form from the generator's own parts and
never call ``xqspark.core``, so a wrong parse or a wrong selector shows
up as a checksum mismatch instead of agreeing with itself.
"""

from __future__ import annotations

import random
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PROSE = (
    "alpha amber anchor apple arrow autumn basin beacon birch blossom breeze "
    "canyon cedar cinder cobalt comet coral crystal delta desert drift dune "
    "ember falcon fern field flint forest frost garden glacier granite grove "
    "harbor hazel horizon island ivory jasper lagoon lantern linen maple "
    "meadow mist moss nectar oak ocean orbit pebble pine prairie quartz "
    "rain raven reef ridge river saffron sand shadow silver slate spruce "
    "stone summit thistle timber valley willow winter"
).split()


def _zipf_hosts(rng: random.Random, n_rows: int, n_hosts: int = 100) -> list[int]:
    weights = [1.0 / h for h in range(1, n_hosts + 1)]
    return rng.choices(range(1, n_hosts + 1), weights=weights, k=n_rows)


def xml_pages(spark: SparkSession, n_rows: int, seed: int) -> DataFrame:
    """~190 B XML pages over Zipf-skewed hosts; the seed moves the host
    of every row, and with it the salt, the part_key and the partition
    each document lands in."""
    from xqspark.pipeline import synthesize_pages

    return synthesize_pages(spark, n_rows=n_rows, seed=seed, body_repeats=1)


def xml_title_expected(pages: DataFrame) -> DataFrame:
    """(url, expected) for ``xpath-single //title`` on ``xml_pages``: the
    generator writes ``<title>Page {id}</title>`` and ``/p{id}`` at the end
    of the url, so the expected text is that id plus the newline xq
    prints after a node."""
    page_id = F.regexp_extract(F.col("url"), r"/p([0-9]+)$", 1)
    return pages.select(
        "url", F.concat(F.lit("Page "), page_id, F.lit("\n")).alias("expected")
    )


def html_page_rows(
    n_rows: int, seed: int, paragraphs: int = 60
) -> list[tuple[str, bytes, str, str]]:
    """~3.7 KB article pages: a nav bar, ``paragraphs`` main paragraphs
    and a table inside ``div.main``, then a link-dense footer.

    Each row is (url, html, css, main): css and main are the closed-form
    outputs of ``css`` mode with ``div.main p`` and of ``main-content``
    mode."""
    rng = random.Random(seed)
    hosts = _zipf_hosts(rng, n_rows)
    nav = "".join(f'<li><a href="/s{k}">Section {k}</a></li>' for k in range(8))
    footer = " | ".join(f'<a href="/f{k}">more link {k}</a>' for k in range(12))
    rows = []
    for i, host in enumerate(hosts):
        url = f"http://host{host}.example/a{i}"
        title = f"Article {i} {rng.choice(_PROSE)}"
        paras, para_html = [], []
        for _ in range(paragraphs):
            words = rng.choices(_PROSE, k=rng.randint(4, 6))
            j = rng.randrange(len(words))
            paras.append(" ".join(words))
            marked = words[:j] + [f"<b>{words[j]}</b>"] + words[j + 1:]
            para_html.append("<p>" + " ".join(marked) + "</p>")
        cells = [[rng.choice(_PROSE), str(rng.randint(1, 999))] for _ in range(4)]
        table = "<table><tr><th>name</th><th>count</th></tr>" + "".join(
            f"<tr><td>{a}</td><td>{b}</td></tr>" for a, b in cells
        ) + "</table>"
        html = (
            f"<!DOCTYPE html><html><head><title>{title}</title></head><body>"
            f'<nav><ul>{nav}</ul></nav><div class="main"><h1>{title}</h1>'
            + "".join(para_html)
            + table
            + f'</div><div class="footer">{footer}</div></body></html>'
        )
        # main-content picks div.main: nav is a noise subtree and the
        # footer's links weigh double against it, so div.main outscores
        # body; its text nodes are joined with single spaces
        main_words = [title] + paras + ["name", "count"] + [c for r in cells for c in r]
        css = "".join(p + "\n" for p in paras)
        rows.append((url, html.encode(), css, " ".join(main_words)))
    return rows


def html_pages(spark: SparkSession, n_rows: int, seed: int) -> tuple[DataFrame, DataFrame]:
    """``html_page_rows`` as (url, html) pages and (url, css, main)
    expected outputs. Built from pandas, so the rows reach the JVM as
    Arrow batches without a Python-worker job."""
    import pandas as pd

    frame = pd.DataFrame(html_page_rows(n_rows, seed), columns=["url", "html", "css", "main"])
    pages = spark.createDataFrame(frame[["url", "html"]], "url string, html binary")
    expected = spark.createDataFrame(
        frame[["url", "css", "main"]], "url string, css string, main string"
    )
    return pages, expected


DOCUMENTS = Path(__file__).resolve().parent / "data" / "documents.parquet"
_CONSONANTS = "bcdfghjklm"


def write_documents(sf_dir: str, seed: int) -> int:
    """``{sf_dir}/documents.parquet``: the catalog's sf0.1 ``documents``
    table (5,000 docs, a copy kept under ``data/``) with the consonant
    rotation of ``tools/make_scale_corpus.py`` keyed by the seed.

    The rotation is a bijection on characters, so every pair's shingle
    overlap, and with it the set of true near-duplicates, is the table's
    own; what the seed moves is every hash, and so the minhash
    signatures, the LSH band keys and which bands run hot. One row
    group, the layout of the catalog tables the ``queries`` functions
    read. Returns the number of docs."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    k = seed % len(_CONSONANTS)
    table = str.maketrans(_CONSONANTS, _CONSONANTS[k:] + _CONSONANTS[:k])
    docs = pq.read_table(DOCUMENTS)
    text = pa.array([t.translate(table) for t in docs.column("text").to_pylist()], pa.string())
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", text)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(docs, f"{sf_dir}/documents.parquet", row_group_size=docs.num_rows)
    return docs.num_rows
