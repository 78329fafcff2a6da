"""Structured Streaming surface: incremental ingest + event-time analytics.

The reference is a pure batch codec library (no streaming of any kind); the
north rule's job is batch too. This module covers the streaming category for
the engine (SURVEY.md §2.1.6): the same enrichment/tiling kernels applied
incrementally, plus watermarked event-time windows for late data.

* ``stream_pages``        -- file-source stream over an Iceberg/parquet pages
                             directory; with ``availableNow`` it processes the
                             current snapshot incrementally and stops: the
                             standard catch-up ingest pattern.
* ``streaming_tile_rollup`` -- per-micro-batch tile assignment + running
                             counts (complete/update mode): the incremental
                             form of the flagship tile rollup. All kernels are
                             the batch ones -- Structured Streaming reuses the
                             same DataFrame program.
* ``windowed_event_counts`` -- tumbling event-time windows with a watermark:
                             late rows beyond the watermark are dropped,
                             within it they update their window -- exactly
                             Spark's late-data contract.
* ``sessionize_stream``   -- per-user session windows via
                             ``session_window`` (stateful, watermark-gated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .synth import PAGES_SCHEMA
from .tiles import tile_x, tile_y


def stream_pages(spark: SparkSession, path: str,
                 max_files_per_trigger: int = 16) -> DataFrame:
    """readStream over a parquet pages table (schema per input_hint)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_tile_rollup(pages_stream: DataFrame, zoom: int = 8) -> DataFrame:
    """Incremental tile counts over a geocoded pages stream."""
    from .geocode import geocode_page

    located = geocode_page(pages_stream).where(F.col("lon").isNotNull())
    return (
        located.withColumn("tile_x", F.expr(tile_x("lon", zoom)))
        .withColumn("tile_y", F.expr(tile_y("lat", zoom)))
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n_pages"))
    )


def windowed_event_counts(events_stream: DataFrame,
                          ts_col: str = "warc_ts",
                          window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time windows with late-data handling."""
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("lang"))
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), "lang", "n_pages")
    )


def sessionize_stream(events_stream: DataFrame, ts_col: str, key_col: str,
                      gap: str = "30 minutes",
                      watermark: str = "1 hour") -> DataFrame:
    """Stateful session windows keyed by ``key_col`` (gap-based)."""
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("s"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("s.start").alias("session_start"),
                F.col("s.end").alias("session_end"), key_col, "n_events")
    )


def stateful_running_totals(events_stream: DataFrame,
                            key_col: str = "user_id") -> DataFrame:
    """CUSTOM stateful streaming operator via ``applyInPandasWithState``
    (the task-mandated escape hatch when built-in streaming aggregations
    can't express the semantics): per-key running event totals carried in
    explicit group state across micro-batches. Each batch emits the key's
    cumulative count so far; counts are monotone, so the final value per
    key equals the batch groupBy count (the equivalence the test pins)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        n_new = 0
        for pdf in pdfs:
            n_new += len(pdf)
        prev = state.get[0] if state.exists else 0
        total = prev + n_new
        state.update((total,))
        yield pd.DataFrame({key_col: [key[0]], "n_events": [total]})

    return events_stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} long, n_events long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def join_event_streams(left: DataFrame, right: DataFrame, key_col: str,
                       ts_col: str = "ts", within: str = "30 minutes",
                       watermark: str = "2 hours",
                       how: str = "inner") -> DataFrame:
    """Watermarked STREAM-STREAM join (the attribution shape: match each
    left event with right events of the same key that follow it within
    ``within``). Right-side columns come back suffixed ``_r``.
    ``how="leftOuter"`` adds the unmatched-left rows with null right
    columns -- but ONLY once the watermark passes a left row's join
    window (Spark cannot know a row is unmatched earlier), so outer
    results trail the watermark by design.

    Scale shape: both sides carry a watermark and the join predicate bounds
    right's event time to a closed interval after left's, so Spark's
    streaming symmetric hash join can evict state older than
    watermark+interval -- state stays bounded no matter how long the
    streams run (the unbounded-state join is the classic streaming
    scale-killer). On a finite availableNow input the result equals the
    batch join (for outer joins: provided the final watermark has passed
    every real row -- the sentinel-advancer fixture move), which is what
    the driver oracle replays in SQL."""
    r2 = (right.select([F.col(c).alias(f"{c}_r") for c in right.columns])
          .withWatermark(f"{ts_col}_r", watermark))
    l2 = left.withWatermark(ts_col, watermark)
    cond = (
        (F.col(key_col) == F.col(f"{key_col}_r"))
        & (F.col(f"{ts_col}_r") >= F.col(ts_col))
        & (F.col(f"{ts_col}_r")
           <= F.col(ts_col) + F.expr(f"INTERVAL {within}"))
    )
    return l2.join(r2, cond, how)


def enrich_stream_static(stream: DataFrame, dim: DataFrame,
                         key_left: str, key_right: str,
                         how: str = "left") -> DataFrame:
    """STREAM-STATIC enrichment join: each streaming row picks up the
    attributes of its dimension row (the lookup shape every event pipeline
    needs -- user -> account, page -> site, ip -> geo). The static side is
    explicitly ``F.broadcast``-hinted: at stream scale the dimension is
    always the small side, and broadcasting it means the unbounded stream
    NEVER shuffles for the join -- each micro-batch probes an executor-
    local hash map. A shuffle-based plan here would re-exchange every
    micro-batch forever, the quiet scale-killer of naive enrichment.

    ``how='left'`` keeps stream rows with no dimension match (nulls), the
    robust enrichment default; Spark supports stream-left/static-right
    left-outer natively and stateless-ly (no watermark needed -- the
    static side never changes mid-query, it is re-read per micro-batch
    only if the plan demands)."""
    return stream.join(F.broadcast(dim),
                       stream[key_left] == dim[key_right], how)


def dedup_stream(stream: DataFrame, key_cols: list[str],
                 ts_col: str = "ts",
                 watermark: str = "2 hours") -> DataFrame:
    """Streaming DEDUPLICATION via ``dropDuplicatesWithinWatermark``: each
    key emits once; state for keys older than the watermark horizon is
    evicted, so memory stays bounded on an infinite stream (plain
    ``dropDuplicates`` would grow state forever -- the scale trap this
    wrapper exists to avoid). With a watermark longer than the input's
    event-time span nothing expires and the emitted key set equals batch
    ``SELECT DISTINCT`` exactly -- the driver-oracle configuration."""
    return (stream.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(list(key_cols)))


def run_available_now(stream_df: DataFrame, checkpoint_dir: str,
                      out_table_name: str, output_mode: str = "update") -> None:
    """Process everything currently available, then stop (catch-up ingest).
    Results land in an in-memory table named ``out_table_name``."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(out_table_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
