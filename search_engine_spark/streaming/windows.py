"""Structured Streaming operators.

The reference has no streaming at all (SURVEY.md §2.4) — its crawler
frontier and PageRank loops are iterative batch. This module adds the
streaming surface a Common-Crawl-scale ingest pipeline needs, built on
Structured Streaming so the SAME transformations run incrementally:

* ``stream_pages`` — file-source stream over a pages directory: new
  parquet files (crawl deliveries) are picked up incrementally.
* ``streaming_postings`` — the indexer's tokenize stage as a streaming
  transform (mapInPandas works unchanged on streams): each micro-batch
  appends (docid, term, tf, positions, dl) rows; a downstream batch job
  folds them into the postings table (index refresh).
* ``windowed_event_counts`` — tumbling event-time window aggregation with
  a watermark (late data dropped after the threshold).
* ``session_windows`` — gap-based session aggregation via the built-in
  ``session_window`` (state stores + watermark eviction).

Tests drive these with trigger(availableNow=True) against static parquet
and assert equality with the batch equivalents — the Structured Streaming
guarantee being exercised deliberately.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from search_engine_spark.operators.indexer import POSTINGS_SCHEMA, tokenize_postings

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def stream_pages(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Incremental scan of a pages directory (crawl output deliveries)."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def streaming_postings(
    pages_stream: DataFrame, lang: str = "en"
) -> DataFrame:
    """Tokenize stage over a stream: same pandas UDF as the batch indexer.

    docids are not assignable incrementally as dense ranks; streaming mode
    keys postings by url hash (xxhash64) — the batch compaction job maps
    them to dense ids when folding into the main index."""
    src = pages_stream.filter(F.col("lang") == lang).select(
        F.xxhash64("url").alias("docid"), "text"
    )
    return tokenize_postings(src)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts/sums per event_type with late-data watermark.

    Works on both a stream (incremental state) and a static frame (plain
    groupBy) — the declarative plan is identical."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return src.groupBy(
        F.window("ts", window).alias("win"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
    ).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "event_type",
        "n",
        "sum_value",
    )


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based sessions per user via the built-in session_window
    (stateful streaming operator; watermark evicts closed sessions)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return src.groupBy(
        F.session_window("ts", gap).alias("sess"),
        "user_id",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
    ).select(
        "user_id",
        F.col("sess.start").alias("session_start"),
        F.col("sess.end").alias("session_end"),
        "n_events",
        "sum_value",
    )


def streaming_first_seen(
    docs_stream: DataFrame, docid: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Streaming exact dedup — a CUSTOM stateful operator via
    ``applyInPandasWithState``: emit each content hash's FIRST occurrence
    only, across the whole stream. Per-key state (one flag per hash) lives
    in the state store; later micro-batches containing the same content
    emit nothing. Within the first micro-batch that sees a hash, the
    smallest docid wins (deterministic survivor).

    This is the streaming face of operators/dedup.exact_dedup: a crawl
    ingest can drop duplicate page bodies at arrival time instead of in a
    batch pass."""
    import pandas as pd

    src = docs_stream.select(
        F.md5(F.col(text)).alias("content_hash"),
        F.col(docid).alias("docid"),
    )

    def emit_first(key, pdfs, state):
        if state.exists:
            return iter(())
        best = None
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf["docid"].min())
                best = m if best is None else min(best, m)
        state.update((1,))
        return iter(
            [pd.DataFrame({"content_hash": [key[0]], "docid": [best]})]
        )

    return src.groupBy("content_hash").applyInPandasWithState(
        emit_first,
        outputStructType="content_hash string, docid long",
        stateStructType="seen int",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def run_stream_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
) -> None:
    """Drain a stream into an in-memory table with availableNow (test/dev
    helper): processes everything currently available, then stops."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def view_click_join(
    events: DataFrame,
    max_delay: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """(user_id, view_id, click_id, delay_us) — stream-stream INTERVAL
    join: every (view, click) pair by the same user with
    ``view.ts <= click.ts <= view.ts + max_delay`` (multi-touch
    click-to-impression attribution; take min delay_us per click
    downstream for last-touch).

    On streams both sides carry watermarks and the join condition is
    time-bounded, so Spark's stream-stream join can evict state: a view
    older than ``watermark + max_delay`` can never match a future click
    and is dropped from the join state. On static frames the SAME plan is
    a plain range-condition equi-join on user_id (the time bound prunes
    within the hash-partitioned user bucket). delay_us is exact integer
    micros."""
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    if events.isStreaming:
        views = views.withWatermark("view_ts", watermark)
        clicks = clicks.withWatermark("click_ts", watermark)
    joined = views.join(
        clicks,
        F.expr(
            "v_user = c_user AND click_ts >= view_ts "
            f"AND click_ts <= view_ts + INTERVAL {max_delay}"
        ),
    )
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        (
            F.unix_micros(F.col("click_ts").cast("timestamp"))
            - F.unix_micros(F.col("view_ts").cast("timestamp"))
        ).alias("delay_us"),
    )


def view_click_join_sql(
    max_delay_minutes: int = 30, table: str = "events"
) -> str:
    """DuckDB mirror of the batch form of :func:`view_click_join`."""
    delay_us = max_delay_minutes * 60_000_000
    return f"""
WITH v AS (
  SELECT user_id, event_id AS view_id, epoch_us(ts::TIMESTAMP) AS vt
  FROM {table} WHERE event_type = 'view'
),
c AS (
  SELECT user_id, event_id AS click_id, epoch_us(ts::TIMESTAMP) AS ct
  FROM {table} WHERE event_type = 'click'
)
SELECT v.user_id, v.view_id, c.click_id, (c.ct - v.vt)::BIGINT AS delay_us
FROM v JOIN c ON c.user_id = v.user_id
WHERE c.ct >= v.vt AND c.ct <= v.vt + {delay_us}
"""
