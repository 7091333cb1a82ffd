"""Table registry / loaders for the driver-generated testdata and the
engine's own tables.

The driver testdata (TESTDATA.md) is plain parquet; the engine's state
tables (frontier, seen, crawl_log, documents, metrics) live in a
warehouse directory managed by ``sources.warehouse`` (Iceberg-shaped:
snapshot manifests + parquet data; falls back cleanly because the
Iceberg runtime jar is not available in the sandbox — SURVEY.md §7
"Iceberg fallback").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# the testdata tables the ``queries()`` board reads; tools/check_oracles.py
# creates its DuckDB views from this list
BOARD_TABLES = ("documents", "events", "orders")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_seed_list(path: str, n: int | None = None) -> list[str]:
    """Reference seed-list scan: JSON object {rank: domain} -> ordered
    domain list via dict insertion order (== ``json.load(fp).values()``,
    reference src/crawler.py:335-338), truncated to the first n
    (crawler.py:337-338)."""
    import json

    with open(path) as fp:
        domains = list(json.load(fp).values())
    return domains[:n] if n is not None else domains


def documents_as_rich_html(df: DataFrame) -> DataFrame:
    """Adapter for the flagship query: render each flat document as a
    multi-span HTML page (header = first 4 words, two paragraph halves,
    a 3-item list from the tail words) so the full walk/tokenize/rule
    surface is exercised.  Unlike documents_as_html this has no closed-
    form SQL oracle — used by entry() (smoke-gated), not by the
    oracle-checked queries."""
    from pyspark.sql import functions as F

    esc = lambda c: F.replace(  # noqa: E731
        F.replace(F.replace(c, F.lit("&"), F.lit("&amp;")), F.lit("<"), F.lit("&lt;")),
        F.lit(">"),
        F.lit("&gt;"),
    )
    words = F.split(F.trim("text"), r"\s+")
    n = F.size(words)
    head = F.concat_ws(" ", F.slice(words, 1, 4))
    half = F.greatest((n / 2).cast("int"), F.lit(5))
    p1 = F.concat_ws(" ", F.slice(words, 5, half))
    p2 = F.concat_ws(" ", F.slice(words, half + F.lit(5), n))
    li = lambda i: F.concat_ws(" ", F.slice(words, i, 3))  # noqa: E731
    html = F.concat(
        F.lit("<html><body><h1>"), esc(head), F.lit("</h1><p>"), esc(p1),
        F.lit("</p><ul><li>"), esc(li(F.lit(1))), F.lit("</li><li>"),
        esc(li(half)), F.lit("</li></ul><p>"), esc(p2), F.lit("</p></body></html>"),
    )
    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"), html.alias("html")
    )


def documents_as_html(df: DataFrame) -> DataFrame:
    """Adapter: the driver's flat ``documents(doc_id, text, ...)`` table
    -> the engine's canonical HTML shape, rendering each text as a
    single-paragraph HTML doc (FIXTURES.md §8 text->single-p-span)."""
    from pyspark.sql import functions as F

    escaped = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("<html><body><p>"), escaped, F.lit("</p></body></html>")
        ).alias("html"),
        F.col("text").alias("auto_text"),
    )
