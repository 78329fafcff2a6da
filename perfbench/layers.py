"""Per-layer split for the traced run.

Layer seconds come from cumulative prefixes over the engine's public calls,
each forced once with a ``noop`` write (the sink prefix with the
workload's own writes) and timed:

    scan -> +extract_text -> +geocode_page -> +tile_assign -> +with_cell
         -> +SpatialJoinPlan.join -> +sink

``with_cell`` is a side branch (the join assigns cells itself), so
``cells.s`` is measured against the tile prefix and ``join.s`` too. On a
salted plan, hot-cell detection is timed on its own and its result handed
to the join prefix. Counts, bytes and per-UDF Python time come from the
Spark event log of the timed iterations (job groups ``timed-<i>``),
normalised per iteration.
"""

from __future__ import annotations

import os
import time
from statistics import median

from pyspark.sql import functions as F

from eventlog import EventLog
from workloads import N_BATCHES, TILE_COLS, ZOOM, job_group, noop, timed_group

# (name, unit, better) of every per-layer metric, in report order
PER_LAYER = [
    ("scan.s", "s", "lower"),
    ("scan.input_bytes", "bytes", "lower"),
    ("textextract.s", "s", "lower"),
    ("textextract.py_run_s", "s", "lower"),
    ("textextract.py_bytes_sent", "bytes", "lower"),
    ("textextract.rows_sent", "count", "lower"),
    ("geocode.s", "s", "lower"),
    ("geocode.rows_in", "count", "higher"),
    ("geocode.rows_out", "count", "higher"),
    ("geocode.by_coords", "count", "higher"),
    ("geocode.by_city", "count", "higher"),
    ("geocode.by_cctld", "count", "higher"),
    ("tiles.s", "s", "lower"),
    ("cells.s", "s", "lower"),
    ("join.prepare_s", "s", "lower"),
    ("join.hot_cell_detect_s", "s", "lower"),
    ("join.hot_cells", "count", "lower"),
    ("join.s", "s", "lower"),
    ("join.candidate_pairs", "count", "lower"),
    ("join.matches", "count", "higher"),
    ("join.refine_hit_ratio", "ratio", "higher"),
    ("join.refine.py_run_s", "s", "lower"),
    ("join.refine.py_bytes_sent", "bytes", "lower"),
    ("join.build_rows", "count", "lower"),
    ("join.shuffle_write_bytes", "bytes", "lower"),
    ("join.shuffle_records", "count", "lower"),
    ("join.fetch_wait_s", "s", "lower"),
    ("join.task_skew", "ratio", "lower"),
    ("sink.s", "s", "lower"),
    ("pipeline.batch_s", "s", "lower"),
    ("pipeline.enrich_passes", "ratio", "lower"),
    ("pipeline.jobs_per_batch", "count", "lower"),
    ("pipeline.stages_per_batch", "count", "lower"),
    ("pipeline.sink_bytes", "bytes", "lower"),
    ("pipeline.reread_bytes", "bytes", "lower"),
    ("python.init_s", "s", "lower"),
    ("python.run_s", "s", "lower"),
    ("python.bytes_sent", "bytes", "lower"),
    ("python.bytes_returned", "bytes", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("trace.pages_per_s", "pages/s", "higher"),
]

_RUN = "time to run Python workers"
_INIT = "time to initialize Python workers"
_SENT = "data sent to Python workers"
_BACK = "data returned from Python workers"
_ROWS = "number of output rows"


def _udf_node(udf: str):
    return lambda pm: pm.node == "ArrowEvalPython" and f"{udf}(" in pm.detail


def _python_node(pm) -> bool:
    return "Python" in pm.node


def _timed(spark, group: str, action) -> float:
    with job_group(spark, group):
        t0 = time.perf_counter()
        action()
        return time.perf_counter() - t0


def prefix_split(wl) -> dict:
    """Seconds to prepare a fresh plan, of hot-cell detection (salted plans
    only) and of each cumulative prefix (job groups ``prefix-<stage>``)."""
    from spatial.cells import with_cell
    from spatial.geocode import geocode_page
    from spatial.join import detect_hot_cells
    from spatial.textextract import extract_text
    from spatial.tiles import tile_assign

    spark = wl.spark
    pages = wl.pages_df
    with job_group(spark, "prepare"):
        t0 = time.perf_counter()
        plan = wl.make_plan()
        prepare_s = time.perf_counter() - t0
    text = pages.withColumn("text", F.coalesce(
        F.col("text"),
        extract_text(F.when(F.col("text").isNull(), F.col("html"))))).drop("html")
    geo = geocode_page(text).where(F.col("lon").isNotNull())
    tiles = tile_assign(geo, "lon", "lat", ZOOM)
    cells = with_cell(tiles, "lon", "lat", plan.level)

    out = {"plan": plan, "prepare_s": prepare_s,
           "hot_cell_detect_s": 0.0, "hot_cells": []}
    hot = None
    if wl.salt_key:
        with job_group(spark, "detect"):
            t0 = time.perf_counter()
            hot = detect_hot_cells(cells)
            out["hot_cell_detect_s"] = time.perf_counter() - t0
        out["hot_cells"] = hot
    joined = wl.join(plan, tiles, hot_cells=hot)

    def sink():
        if wl.name == "join_broadcast":
            noop(tiles)
            noop(joined)
            return
        base = os.path.join(wl.work_dir, "prefix-sink")
        joined.select("url", "region_id", "cell", F.col("lon").alias("x"),
                      F.col("lat").alias("y")) \
            .write.mode("overwrite").parquet(os.path.join(base, "join_out"))
        tiles.select("url", *TILE_COLS).write.mode("overwrite") \
            .parquet(os.path.join(base, "tile_assign"))

    for stage, action in (("scan", lambda: noop(pages)),
                          ("text", lambda: noop(text)),
                          ("geocode", lambda: noop(geo)),
                          ("tiles", lambda: noop(tiles)),
                          ("cells", lambda: noop(cells)),
                          ("join", lambda: noop(joined)),
                          ("sink", sink)):
        out[stage] = _timed(spark, f"prefix-{stage}", action)
    return out


def layer_metrics(log: EventLog, wl, n_pages: int, n_iter: int, split: dict,
                  reference, matches: int, traced_pages_per_s: float) -> dict:
    """Every PER_LAYER metric as {name: value}; metrics of a layer the
    workload does not run read 0."""
    timed = log.jobs("timed-")
    per = 1.0 / n_iter
    tot = log.task_totals(timed)
    text = log.node_metrics(timed, _udf_node("extract_text"))
    refine = log.node_metrics(timed, _udf_node("st_contains_point"))
    py = log.node_metrics(timed, _python_node)
    candidates = log.node_metrics(log.jobs("prefix-join"),
                                  _udf_node("st_contains_point")).get(_ROWS, 0)
    src = reference["geo_source"].value_counts()
    skews = [log.shuffle_read_skew(log.jobs(timed_group(i)))
             for i in range(n_iter)]
    pipeline = wl.name == "pipeline_resume"
    gaps = []
    if pipeline:
        for i in range(n_iter):
            # across the kill too: that gap includes the resumed call's plan
            # preparation and hot-cell detection
            t = wl.commit_times(i)
            gaps += [t[b] - t[b - 1] for b in range(1, N_BATCHES)]
    reread = log.scans(timed, "/join_out/") | log.scans(timed, "/tile_assign/")
    reread_bytes = log.task_totals(log.jobs_of_executions(reread))["input_bytes"]
    rows_sent = text.get(_ROWS, 0) * per
    batches = n_iter * N_BATCHES
    s = split
    return {
        "scan.s": s["scan"],
        "scan.input_bytes": tot["input_bytes"] * per,
        "textextract.s": s["text"] - s["scan"],
        "textextract.py_run_s": text.get(_RUN, 0) * per,
        "textextract.py_bytes_sent": text.get(_SENT, 0) * per,
        "textextract.rows_sent": rows_sent,
        "geocode.s": s["geocode"] - s["text"],
        "geocode.rows_in": n_pages,
        "geocode.rows_out": len(reference),
        "geocode.by_coords": int(src.get("coords", 0)),
        "geocode.by_city": int(src.get("city", 0)),
        "geocode.by_cctld": int(src.get("cctld", 0)),
        "tiles.s": s["tiles"] - s["geocode"],
        "cells.s": s["cells"] - s["tiles"],
        "join.prepare_s": s["prepare_s"],
        "join.hot_cell_detect_s": s["hot_cell_detect_s"],
        "join.hot_cells": len(s["hot_cells"]),
        "join.s": s["join"] - s["tiles"],
        "join.candidate_pairs": candidates,
        "join.matches": matches,
        "join.refine_hit_ratio": matches / candidates if candidates else 0.0,
        "join.refine.py_run_s": refine.get(_RUN, 0) * per,
        "join.refine.py_bytes_sent": refine.get(_SENT, 0) * per,
        "join.build_rows": s["plan"].n_build,
        "join.shuffle_write_bytes": tot["shuffle_write_bytes"] * per,
        "join.shuffle_records": tot["shuffle_records"] * per,
        "join.fetch_wait_s": tot["fetch_wait_s"] * per,
        "join.task_skew": median(skews),
        "sink.s": s["sink"] - s["join"],
        "pipeline.batch_s": median(gaps) if gaps else 0.0,
        "pipeline.enrich_passes": rows_sent / n_pages if pipeline else 0.0,
        "pipeline.jobs_per_batch": tot["jobs"] / batches if pipeline else 0.0,
        "pipeline.stages_per_batch": tot["stages"] / batches if pipeline else 0.0,
        "pipeline.sink_bytes": tot["output_bytes"] * per,
        "pipeline.reread_bytes": reread_bytes * per,
        "python.init_s": py.get(_INIT, 0) * per,
        "python.run_s": py.get(_RUN, 0) * per,
        "python.bytes_sent": py.get(_SENT, 0) * per,
        "python.bytes_returned": py.get(_BACK, 0) * per,
        "spark.jobs": tot["jobs"] * per,
        "spark.stages": tot["stages"] * per,
        "spark.gc_s": tot["gc_s"] * per,
        "spark.spill_bytes": tot["spill_bytes"] * per,
        "trace.pages_per_s": traced_pages_per_s,
    }
