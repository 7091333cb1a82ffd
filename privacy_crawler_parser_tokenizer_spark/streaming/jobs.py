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
  * ``sessionize_stateful``  applyInPandasWithState session assignment
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

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


# -- stateful sessionization (applyInPandasWithState) -----------------------

SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("session_id", LongType()),
    ]
)
SESSION_STATE_SCHEMA = StructType(
    [StructField("last_epoch", LongType()), StructField("session_id", LongType())]
)
SESSION_GAP_S = 1800


def _assign_sessions(key, pdf_iter: Iterator[pd.DataFrame],
                     state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    last_epoch, session_id = state.get if state.exists else (None, 0)
    # One group's rows can arrive split across several Arrow chunks with
    # no inter-chunk time order; sorting each chunk independently would
    # assign session ids out of event-time order for groups larger than
    # one batch.  Concatenate the whole group first, then sort once.
    chunks = list(pdf_iter)
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        epochs = (pdf["ts"].astype("int64") // 10**9).tolist()
        sessions = []
        for e in epochs:
            if last_epoch is None or e - last_epoch > SESSION_GAP_S:
                session_id += 1
            last_epoch = e
            sessions.append(session_id)
        yield pd.DataFrame(
            {
                "user_id": user_id,
                "event_id": pdf["event_id"].values,
                "ts": pdf["ts"].values,
                "session_id": sessions,
            }
        )
    state.update((last_epoch, session_id))


def sessionize_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator over an events stream: per-user session
    ids with a 30-min inactivity gap, state carried across micro-batches
    via applyInPandasWithState (the batch twin is queries.py
    'sessionize', asserted equal in tests)."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _assign_sessions,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


LSH_PAIR_SCHEMA = StructType(
    [StructField("a", LongType()), StructField("b", LongType())]
)
LSH_STATE_SCHEMA = StructType(
    [StructField("ids", ArrayType(LongType()))]
)


_DURATION_UNITS_MS = {
    "millisecond": 1, "milliseconds": 1, "ms": 1,
    "second": 1000, "seconds": 1000, "s": 1000,
    "minute": 60_000, "minutes": 60_000, "min": 60_000,
    "hour": 3_600_000, "hours": 3_600_000, "h": 3_600_000,
    "day": 86_400_000, "days": 86_400_000, "d": 86_400_000,
}


def _duration_ms(ttl: str | int) -> int:
    """'30 minutes' / '1 millisecond' / 1500 -> milliseconds (PySpark's
    GroupState.setTimeoutDuration only takes an int)."""
    if isinstance(ttl, int):
        return ttl
    value, _, unit = ttl.strip().partition(" ")
    return int(value) * _DURATION_UNITS_MS[unit.strip().lower()]


def _make_emit_bucket_pairs(ttl: str | int | None):
    """Build the per-bucket stateful function.  With ``ttl`` set, a
    bucket idle longer than the TTL is evicted (``state.remove()``) on
    the next micro-batch — the bounded-state mode; ``ttl=None`` keeps
    buckets forever (exact, unbounded)."""

    def emit(key, pdf_iter: Iterator[pd.DataFrame],
             state: GroupState) -> Iterator[pd.DataFrame]:
        if ttl is not None and state.hasTimedOut:
            # bucket saw no arrivals for a full TTL: drop its member
            # list.  A pair whose two docs arrive farther apart than
            # the TTL is missed from here on — the trade that keeps
            # state bounded at stream scale.
            state.remove()
            return
        (seen,) = state.get if state.exists else ([],)
        seen = list(seen)
        out_a, out_b = [], []
        chunks = list(pdf_iter)
        if chunks:
            new_ids = sorted(
                pd.concat(chunks, ignore_index=True)["doc_id"].unique().tolist()
            )
            for nid in new_ids:
                if nid in seen:
                    continue  # re-delivery (revisit/replay): no duplicate
                              # state entry, no re-emitted pairs
                for old in seen:
                    out_a.append(min(old, nid))
                    out_b.append(max(old, nid))
                seen.append(int(nid))
            yield pd.DataFrame({"a": out_a, "b": out_b})
        state.update((seen,))
        if ttl_ms is not None:
            # sliding idle-TTL: each arrival re-arms the eviction clock
            state.setTimeoutDuration(ttl_ms)

    ttl_ms = None if ttl is None else _duration_ms(ttl)
    return emit


# backward-compatible name for the exact/unbounded variant
_emit_bucket_pairs = _make_emit_bucket_pairs(None)


def lsh_candidates_stream(docs: DataFrame, ttl: str | None = None) -> DataFrame:
    """ONLINE near-dup detection: MinHash-band LSH over a document
    stream.  Band signatures are computed with the same native
    expressions as the batch query; each (band, mh) bucket keeps the
    doc_ids seen so far as stream state (applyInPandasWithState) and a
    new arrival emits one candidate pair per prior bucket member.

    Invariant (asserted in tests): every unordered batch pair is found
    exactly when the LATER of its two docs arrives, so the union of
    emitted pairs over the run == the batch lsh_candidate_pairs set
    (modulo the same cross-band duplicates batch dedups with distinct).

    State: ``ttl=None`` keeps every bucket forever (exact, unbounded —
    fine for bounded replays, an OOM at 100-TB stream scale).  Pass a
    duration (e.g. ``'30 minutes'``) to bound state with a sliding
    idle-TTL (``ProcessingTimeTimeout``): a bucket with no arrivals for
    a full TTL is evicted, so state holds only buckets active within
    the last TTL window.  Pairs whose members arrive within the TTL
    still match batch exactly; a pair split farther apart than the TTL
    is missed — the same stated trade as
    ``exact_dedup_stream``'s ``dropDuplicatesWithinWatermark``.

    Engine quirk (Spark 4.1, verified in tests): with
    ``ProcessingTimeTimeout`` registered, ``Trigger.AvailableNow`` runs
    never terminate — the engine keeps scheduling empty micro-batches
    after the source drains.  Finite runs should poll for their
    completion condition and ``stop()`` explicitly
    (tests/test_streaming_multimodal.py::_poll_then_stop); production
    streams run continuous triggers and are unaffected."""
    from ..functions.text import N_BANDS, minhash_col, shingles_col

    sh = shingles_col(F.col("html")).alias("sh")
    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"), sh).filter(
        F.size("sh") > 0
    )
    bands = base.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        minhash_col(F.col("sh"), b).alias("mh"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("x"),
    ).select("doc_id", F.col("x.band").alias("band"), F.col("x.mh").alias("mh"))
    return bands.groupBy("band", "mh").applyInPandasWithState(
        _make_emit_bucket_pairs(ttl),
        outputStructType=LSH_PAIR_SCHEMA,
        stateStructType=LSH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl is not None
            else GroupStateTimeout.NoTimeout
        ),
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
