"""The benchmark's workloads, driven through the engine's public functions.

Both read the same seed-fixed synthetic pages table (``spatial.synth``) and
join it against the fixed region polygons:

* ``join_broadcast`` -- pages with ``text`` populated -> ``enrich_pages`` ->
  ``SpatialJoinPlan.join`` on the default broadcast plan; both outputs are
  forced with ``write.format("noop")``. The flagship read path: geocode and
  the PIP refine do most of the work; text extraction only sees masked
  nulls, and there is no shuffle, salting or sink.
* ``pipeline_resume`` -- the same pages with ``text`` nulled (the raw-crawl
  case) through ``run_pipeline`` with 2 batches on the salted shuffle plan
  (``broadcast_threshold=0, salt_buckets=8``), killed after batch 0 and
  resumed to completion. The only workload that runs ``extract_text`` on
  every row, the cell-keyed shuffle with hot-cell salting and
  ``detect_hot_cells``, the parquet sinks, manifest commits, re-read counts
  and resume. Each ``run_pipeline`` call prepares its own plan, as a
  submitted batch job does, so set-up prepares none for it; its warm-up is
  the checks' reference enrichment.
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ZOOM = 12
N_BATCHES = 2
KILL_AFTER_BATCH = 0
TILE_COLS = ("tile_z", "tile_x", "tile_y")
REFERENCE_COLS = ("url", "lon", "lat", "geo_source") + TILE_COLS


@contextmanager
def job_group(spark: SparkSession, group: str, description: str = ""):
    """Tag the Spark jobs of a block so the event log can attribute them;
    the description becomes the SQL execution's description."""
    sc = spark.sparkContext
    sc.setJobGroup(group, description or group)
    try:
        yield
    finally:
        sc.setJobGroup("idle", "idle")


def timed_group(i: int) -> str:
    return f"timed-{i:03d}"


def regions_geom(spark: SparkSession) -> DataFrame:
    from spatial.ewkb import ewkb_decode
    from spatial.synth import synth_regions

    return synth_regions(spark).withColumn(
        "geom", ewkb_decode("geom_hex")).select("region_id", "geom")


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    raw_text = False
    plan_kwargs: dict = {}
    salt_key = None
    # write label -> plan markers each timed write must carry (checks.MARKERS)
    required_markers: dict = {}
    writes_per_iteration: dict = {}
    reference = None  # pandas frame of REFERENCE_COLS, for the checks

    def __init__(self, spark: SparkSession, work_dir: str):
        self.spark = spark
        self.work_dir = work_dir

    def pages(self, path: str) -> DataFrame:
        pages = self.spark.read.parquet(path)
        if self.raw_text:
            pages = pages.withColumn("text", F.lit(None).cast("string"))
        return pages

    def make_plan(self):
        from spatial.join import SpatialJoinPlan

        return SpatialJoinPlan(regions_geom(self.spark), **self.plan_kwargs)

    def make_setup_plan(self):
        """The plan set-up prepares and the timed iterations reuse."""
        return self.make_plan()

    def join(self, plan, enriched: DataFrame, hot_cells=None) -> DataFrame:
        return plan.join(enriched, x_col="lon", y_col="lat",
                         salt_key=self.salt_key, hot_cells=hot_cells)

    def warm_up(self, pages: DataFrame, plan) -> None:
        """Run the path once, untimed, so the timed iterations start warm."""
        raise NotImplementedError

    def collect_checked(self) -> None:
        """Collect what the checks compare that timing did not keep."""

    def prepare(self, pages: DataFrame, plan) -> None:
        """Hold what the timed iterations reuse."""
        self.pages_df, self.plan = pages, plan

    def iteration(self, i: int) -> None:
        raise NotImplementedError

    def write_label(self, description: str, plan: str):
        """The label of a timed write execution, or None for other work."""
        raise NotImplementedError

    def outputs(self, i: int) -> tuple[list, list, list[str]]:
        """(join pairs, tile rows, problems) of timed iteration ``i``."""
        raise NotImplementedError

    def release(self) -> None:
        if self.plan is not None:
            self.plan.unpersist()


class JoinBroadcast(Workload):
    name = "join_broadcast"
    required_markers = {
        "enriched": ("extract_text", "tile_projection"),
        "joined": ("extract_text", "st_contains_point", "tile_projection"),
    }
    writes_per_iteration = {"enriched": 1, "joined": 1}

    def warm_up(self, pages, plan):
        """Build both outputs once (every timed iteration writes these same
        frames: each write plans and runs the whole query again) and write
        them to noop once."""
        from spatial.pipeline import enrich_pages

        self.enriched = enrich_pages(pages, ZOOM)
        self.joined_df = self.join(plan, self.enriched)
        noop(self.enriched)
        noop(self.joined_df)

    def collect_checked(self):
        """After timing: both outputs collected for the checks (noop writes
        keep nothing to compare, and the iterations are deterministic)."""
        self.reference = self.enriched.select(*REFERENCE_COLS).toPandas()
        self.joined = self.joined_df.select(
            "url", "region_id", *TILE_COLS).toPandas()

    def iteration(self, i: int) -> None:
        with job_group(self.spark, timed_group(i), "enriched"):
            noop(self.enriched)
        with job_group(self.spark, timed_group(i), "joined"):
            noop(self.joined_df)

    def write_label(self, description, plan):
        return description if description in self.writes_per_iteration else None

    def outputs(self, i):
        rows = self.joined
        pairs = list(zip(rows["url"], rows["region_id"]))
        tiles = list(zip(rows["url"], *(rows[c] for c in TILE_COLS)))
        return pairs, tiles, []


class PipelineResume(Workload):
    name = "pipeline_resume"
    raw_text = True
    plan_kwargs = {"broadcast_threshold": 0, "salt_buckets": 8}
    salt_key = "url"  # run_pipeline's own
    required_markers = {
        "join_out": ("extract_text", "st_contains_point"),
        "tile_assign": ("extract_text", "tile_projection"),
        "metrics": ("extract_text", "st_contains_point"),
    }
    writes_per_iteration = {k: N_BATCHES for k in required_markers}

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work_dir, f"pipeline-{i}")

    def config(self, i: int):
        from spatial.pipeline import PipelineConfig

        return PipelineConfig(out_dir=self.out_dir(i), n_batches=N_BATCHES,
                              zoom=ZOOM, **self.plan_kwargs)

    def iteration(self, i: int) -> None:
        from spatial.pipeline import run_pipeline
        from spatial.synth import synth_regions

        shutil.rmtree(self.out_dir(i), ignore_errors=True)
        regions = synth_regions(self.spark)
        with job_group(self.spark, timed_group(i)):
            try:
                run_pipeline(self.spark, self.pages_df, regions, self.config(i),
                             fail_after_batch=KILL_AFTER_BATCH)
            except RuntimeError as exc:  # the deliberate kill
                if "simulated failure" not in str(exc):
                    raise
            else:
                raise RuntimeError("pipeline was not killed after batch "
                                   f"{KILL_AFTER_BATCH}")
            self.resumed[i] = run_pipeline(self.spark, self.pages_df,
                                           regions, self.config(i))

    def write_label(self, description, plan):
        if "InsertIntoHadoopFsRelationCommand" not in plan:
            return None
        for label in self.required_markers:
            if f"/{label}/batch=" in plan:
                return label
        return None

    def make_setup_plan(self):
        return None

    def warm_up(self, pages, plan):
        """The checks' reference enrichment, collected before timing."""
        from spatial.pipeline import enrich_pages

        self.reference = enrich_pages(pages, ZOOM).select(
            *REFERENCE_COLS).toPandas()

    def prepare(self, pages, plan):
        super().prepare(pages, plan)
        self.resumed = {}

    def outputs(self, i):
        from spatial.pipeline import committed_batches, read_output

        problems = []
        done = sorted(committed_batches(self.out_dir(i)))
        if done != list(range(N_BATCHES)):
            problems.append(f"committed batches {done}")
        ran = self.resumed[i]["ran_batches"]
        if ran != list(range(KILL_AFTER_BATCH + 1, N_BATCHES)):
            problems.append(f"resume ran batches {ran}")
        join = read_output(self.spark, self.out_dir(i), "join_out") \
            .select("url", "region_id").toPandas()
        tiles = read_output(self.spark, self.out_dir(i), "tile_assign") \
            .select("url", *TILE_COLS).toPandas()
        if len(tiles) != len(self.reference):
            problems.append(f"tile_assign holds {len(tiles)} of "
                            f"{len(self.reference)} enriched pages")
        for key, rows in (("join_rows", join), ("tile_rows", tiles)):
            counted = sum(self.manifest_entry(i, b)[key] for b in done)
            if counted != len(rows):
                problems.append(f"manifest {key} {counted} != {len(rows)}")
        return (list(zip(join["url"], join["region_id"])),
                list(zip(tiles["url"], *(tiles[c] for c in TILE_COLS))),
                problems)

    def manifest_path(self, i: int, batch: int) -> str:
        return os.path.join(self.out_dir(i), "_manifest", f"batch-{batch}.json")

    def manifest_entry(self, i: int, batch: int) -> dict:
        with open(self.manifest_path(i, batch)) as fh:
            return json.load(fh)

    def commit_times(self, i: int) -> list[float]:
        """Manifest commit times of iteration ``i`` in batch order."""
        return [os.stat(self.manifest_path(i, b)).st_mtime
                for b in range(N_BATCHES)]


WORKLOADS = {w.name: w for w in (JoinBroadcast, PipelineResume)}
