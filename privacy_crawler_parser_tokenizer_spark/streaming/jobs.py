"""Structured Streaming twins of the batch pipeline (SURVEY.md §2.5
"Streaming-only": the reference is pure batch; these are the engine's
[NEW] incremental surfaces for continuously-arriving crawl output).

The streaming sentence path calls the batch pipeline's own functions:
span context comes from the core kernel inside the extraction UDF and
the parse gate is a column, so the dataflow is map-only until the
optional windowed aggregation and Spark runs it with no state at all
(equality with batch ``parse_tokenize`` is asserted in tests).

Jobs:
  * ``sentences_stream``     file-source documents -> sentence rows
  * ``windowed_rule_counts`` event-time window + watermark aggregation
  * ``exact_dedup_stream``   first-arriving document per content hash
  * ``crawl_log_stream`` + ``crawl_monitor``  per-round crawl health
    over the frontier's ``crawl_log`` snapshots
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import extract_documents, sentences_table, spans_table

DOCS_STREAM_SCHEMA = "doc_id string, html string, ts timestamp"


def read_documents_stream(spark: SparkSession, src_dir: str,
                          max_files: int | None = None) -> DataFrame:
    reader = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files or 16)
    )
    return reader.parquet(src_dir)


def sentences_stream(docs: DataFrame) -> DataFrame:
    """Incremental sentence rows with quality rules: the batch
    ``sentences_table(spans_table(extract_documents(docs)))`` dataflow
    run on the stream, parse gate included, with ``ts`` passed through
    after doc_id.  Span context and the gate are per-document columns
    computed in the extraction UDF, so the stage needs no state."""
    return sentences_table(spans_table(extract_documents(docs)))


def windowed_rule_counts(sentences: DataFrame, window: str = "1 minute",
                         watermark: str = "2 minutes") -> DataFrame:
    """Event-time windowed rule histogram with late-data watermark."""
    return (
        sentences.withWatermark("ts", watermark)
        .select("ts", F.explode("rule_hits").alias("rule"))
        .groupBy(F.window("ts", window).alias("win"), "rule")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("win.start").alias("win_start"), "rule", "cnt")
    )


def exact_dedup_stream(docs: DataFrame, watermark: str | None = "10 minutes",
                       ts_col: str = "ts") -> DataFrame:
    """Streaming exact-dedup twin of the batch ``exact_dedup`` query:
    keep the first-arriving document per content hash.

    With a watermark, state for old hashes is dropped via
    ``dropDuplicatesWithinWatermark`` (two duplicates farther apart
    than the watermark both survive — the bounded-state trade every
    streaming dedup at 100 TB must make, stated rather than hidden);
    ``watermark=None`` keeps exact global dedup with unbounded state."""
    hashed = docs.withColumn("text_hash", F.sha2(F.col("html"), 256))
    if watermark is None:
        return hashed.dropDuplicates(["text_hash"])
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["text_hash"]
    )


def crawl_log_stream(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    """Streaming source over the frontier's crawl_log delta snapshots:
    each committed round drops new parquet files under
    ``crawl_log/snap=<round>/``, which the file source picks up
    incrementally — live observability while a crawl runs.

    Attaching acquires a monitor marker in the warehouse so a
    concurrent crawler's periodic compaction leaves the ``snap=`` dirs
    this glob is reading alone (compaction would move rounds into
    ``compact=`` dirs and delete files mid-read).  Call
    ``release_crawl_monitor(warehouse_dir)`` when the stream stops."""
    from ..plans.frontier import _LOG_SCHEMA
    from ..sources.warehouse import Warehouse

    Warehouse(warehouse_dir).acquire_monitor("crawl_log")
    return (
        spark.readStream.schema(_LOG_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{warehouse_dir}/crawl_log/snap=*")
    )


def release_crawl_monitor(warehouse_dir: str) -> None:
    """Detach this process's crawl_log monitor marker (re-enables
    compaction for the table)."""
    import os

    from ..sources.warehouse import Warehouse

    wh = Warehouse(warehouse_dir)
    wh.release_monitor(
        os.path.join(wh._monitors_dir(), f"crawl_log.{os.getpid()}")
    )


def crawl_monitor(log_stream: DataFrame) -> DataFrame:
    """Per-round crawl health: fetches, policy hits, duplicates."""
    return log_stream.groupBy("round").agg(
        F.count("*").alias("requests"),
        F.sum(F.col("fetched").cast("int")).alias("fetched"),
        F.sum((F.col("valid") & ~F.col("duplicate")).cast("int")).alias("policies"),
        F.sum(F.col("duplicate").cast("int")).alias("duplicates"),
    )


def run_to_memory(stream_df: DataFrame, name: str,
                  output_mode: str = "append") -> None:
    """Drain a stream with the availableNow trigger into a memory sink
    (test/bench helper).  Windowed aggregations should use
    ``output_mode='complete'`` — in append mode, windows newer than the
    watermark stay buffered and never emit in a finite run."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
