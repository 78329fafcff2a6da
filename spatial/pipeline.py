"""Flagship job: pages -> extract_text -> geocode -> cell/tile -> spatial
join -> sinks, with batch checkpoint/resume and per-partition lineage.

This is the pipeline the north rule mandates over the 10^12-row pages table
(SURVEY.md §3.4). Sandbox storage is parquet laid out Iceberg-style (one
committed snapshot per input batch + a manifest of committed batch ids); on a
real cluster the same code targets ``df.writeTo(table).append()`` and the
manifest becomes the Iceberg snapshot log -- the resume logic is identical
because it keys on *batch ids*, not file paths.

Checkpoint/resume semantics:
* input is processed in deterministic batches (pmod of a url hash, so batch
  membership is stable across runs/cluster sizes);
* each batch's outputs (join_out, tile_assign) are committed atomically
  (parquet dir rename-on-success by Spark's committer) together with a
  manifest row;
* resume = read the manifest, skip committed batches -- an anti-join at the
  batch-id level, costing one tiny scan instead of a 10^12-row exceptAll.
  Because extract_text/geocode are bytewise-deterministic per url, a resumed
  run's union of outputs is byte-identical to an uninterrupted run's.

One pass per batch: the batch is enriched once and joined once. Both
results are persisted (the enrichment without ``text``, which nothing
downstream reads), every sink write reads them, and both are released when
the batch commits or fails.

Per-partition lineage/metrics: each committed batch also writes a metrics
table of ``join_out`` (batch, spark partition id, ``rows_out``,
``urls_out``) via ``groupBy(spark_partition_id())`` -- cheap, no extra
shuffle.

Batch counters live in the manifest JSON, observed on the sink writes
themselves (``DataFrame.observe``), so no output is read back to count it:
``join_rows``, ``tile_rows``, ``tile_rows_by_source`` (coords / city /
cctld geocodes) and ``hot_cells`` (size of the plan's salted hot-cell set,
0 on a broadcast plan).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .ewkb import ewkb_decode
from .geocode import geocode_page
from .iterate import persisted
from .join import SpatialJoinPlan, cluster_by_cell
from .textextract import extract_text
from .tiles import tile_assign

# what the join and the sinks read of an enriched batch: the cached frame
# leaves out text, the large column
ENRICHED_COLS = ("url", "lon", "lat", "geo_source", "tile_z", "tile_x", "tile_y")
GEO_SOURCES = ("coords", "city", "cctld")


@dataclass
class PipelineConfig:
    out_dir: str
    n_batches: int = 4
    zoom: int = 12
    cell_level: Optional[int] = None
    salt_buckets: int = 0
    broadcast_threshold: int = 2_000_000
    # >0: repartitionByRange the join output on the cell id into this many
    # partitions before writing (cell-prefix locality; join.cluster_by_cell)
    cluster_cells: int = 0


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def committed_batches(out_dir: str) -> set[int]:
    path = _manifest_path(out_dir)
    if not os.path.exists(path):
        return set()
    out = set()
    for name in os.listdir(path):
        if name.startswith("batch-") and name.endswith(".json"):
            with open(os.path.join(path, name)) as f:
                out.add(json.load(f)["batch"])
    return out


def _commit_batch(out_dir: str, batch: int, stats: dict) -> None:
    path = _manifest_path(out_dir)
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".batch-{batch}.json.tmp")
    final = os.path.join(path, f"batch-{batch}.json")
    with open(tmp, "w") as f:
        json.dump({"batch": batch, **stats}, f)
    os.replace(tmp, final)  # atomic commit


def enrich_pages(pages: DataFrame, zoom: int) -> DataFrame:
    """extract_text (only where text is missing -- never re-read html when
    text is populated, the column-pruning win from SURVEY §4.2), geocode,
    tile-assign. Pure narrow ops: no shuffle at all."""
    # Mask html to null JVM-side for rows whose text is already populated:
    # ArrowEvalPython computes UDF columns unconditionally, so a plain
    # coalesce(text, extract_text(html)) would serialize every row's html
    # binary across the Arrow boundary and parse it, then throw the result
    # away. With the mask, decided rows ship a null instead of the payload.
    enriched = pages.withColumn(
        "text",
        F.coalesce(
            F.col("text"),
            extract_text(F.when(F.col("text").isNull(), F.col("html")))),
    ).drop("html")
    located = geocode_page(enriched).where(F.col("lon").isNotNull())
    return tile_assign(located, "lon", "lat", zoom)


def _write(df: DataFrame, out_dir: str, table: str, batch: int) -> None:
    df.write.mode("overwrite").parquet(
        os.path.join(out_dir, table, f"batch={batch}"))


def _run_batch(plan: SpatialJoinPlan, batch_pages: DataFrame,
               cfg: PipelineConfig, batch: int) -> None:
    """Enrich and join one batch once, write its three sinks from those two
    cached frames, and commit the counts observed on the writes."""
    with persisted(enrich_pages(batch_pages, cfg.zoom)
                   .select(*ENRICHED_COLS)) as enriched:
        joined = plan.join(enriched, x_col="lon", y_col="lat", salt_key="url")
        join_out = joined.select(
            "url", "region_id", "cell", F.col("lon").alias("x"), F.col("lat").alias("y"))
        if cfg.cluster_cells > 0:
            join_out = cluster_by_cell(join_out, "cell", cfg.cluster_cells)
        with persisted(join_out) as join_out:
            join_obs = Observation(f"join_out-{batch}")
            _write(join_out.observe(join_obs, F.count(F.lit(1)).alias("rows")),
                   cfg.out_dir, "join_out", batch)
            tile_obs = Observation(f"tile_assign-{batch}")
            by_source = [F.count_if(F.col("geo_source") == s).alias(s)
                         for s in GEO_SOURCES]
            _write(enriched.observe(tile_obs, F.count(F.lit(1)).alias("rows"),
                                    *by_source)
                   .select("url", "tile_z", "tile_x", "tile_y"),
                   cfg.out_dir, "tile_assign", batch)
            # per-partition lineage counters (groupBy partition id: map-side agg)
            metrics = (
                join_out.groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(F.count("*").alias("rows_out"),
                     F.approx_count_distinct("url").alias("urls_out"))
                .withColumn("batch", F.lit(batch))
            )
            _write(metrics, cfg.out_dir, "metrics", batch)
            tiles = tile_obs.get
            _commit_batch(cfg.out_dir, batch, {
                "join_rows": join_obs.get["rows"],
                "tile_rows": tiles["rows"],
                "tile_rows_by_source": {s: tiles[s] for s in GEO_SOURCES},
                # the set the plan detected on this call's first salted join
                "hot_cells": len(plan._hot_cache or []),
            })


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    regions: DataFrame,
    cfg: PipelineConfig,
    fail_after_batch: Optional[int] = None,
) -> dict:
    """Run (or resume) the flagship job. ``fail_after_batch`` simulates a
    mid-job kill for the resume tests. Returns summary stats."""
    regions_geom = regions.withColumn("geom", ewkb_decode("geom_hex")).select(
        "region_id", "geom"
    )
    # prepare the polygon build side ONCE; every batch reuses it
    plan = SpatialJoinPlan(
        regions_geom,
        level=cfg.cell_level,
        broadcast_threshold=cfg.broadcast_threshold,
        salt_buckets=cfg.salt_buckets,
    )
    done = committed_batches(cfg.out_dir)
    ran = []
    try:
        for batch in range(cfg.n_batches):
            if batch in done:
                continue
            # deterministic batch membership: stable across runs & cluster sizes
            batch_pages = pages.where(
                F.pmod(F.xxhash64("url"), F.lit(cfg.n_batches)) == batch
            )
            _run_batch(plan, batch_pages, cfg, batch)
            ran.append(batch)
            if fail_after_batch is not None and batch >= fail_after_batch:
                raise RuntimeError(f"simulated failure after batch {batch}")
    finally:
        plan.unpersist()
    return {"ran_batches": ran, "committed": sorted(committed_batches(cfg.out_dir))}


def read_output(spark: SparkSession, out_dir: str, table: str) -> DataFrame:
    return spark.read.option("basePath", os.path.join(out_dir, table)).parquet(
        os.path.join(out_dir, table, "batch=*"))
