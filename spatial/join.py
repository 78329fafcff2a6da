"""Skew-aware spatial join: points-in-polygons at web scale.

The reference has no joins at all (it is a 636-line codec library); this is
the engine's centerpiece, mandated by BASELINE.json north_rule. Design is
Spark-first (SURVEY.md §2.1.6, §4.3):

    build side:  regions -> bbox (JVM array_min/max) -> cover_cells(bbox, L)
                 -> explode  => (cell, region_id, bbox)
    probe side:  points -> cell_of(x, y, L)          => (cell, x, y, payload)
    candidates:  equi-join on cell  (Catalyst picks hash join; broadcast()
                 hint when the exploded build side is small)
    prefilter:   bbox containment   (pure column predicate, codegen)
    refine:      exact ray-cast point-in-polygon, vectorized per region
                 within each Arrow batch

Physical decisions (explicit, per the north rule):

* **Broadcast path** (default when exploded build side <= broadcast_threshold
  rows): probe points NEVER shuffle -- the only wide exchange in the whole
  job disappears. This is the 100TB-friendly plan whenever the polygon side
  is dim-table-sized (countries, admin regions, metros: thousands of rows).
* **Salted shuffle path**: when the build side is too big to broadcast, the
  join shuffles on cell -- and web pages geocode heavily onto few cities, so
  cell keys are Zipf-skewed. ``salt_buckets=s`` splits every hot cell's probe
  rows across s sub-keys (deterministic pmod of a payload hash) and
  replicates matching build rows s times: reducer-side work for a hot cell
  drops by ~s with zero correctness impact (each probe row still meets every
  build row of its cell exactly once). AQE skew-join handles residual skew.
* **Locality**: optional repartitionByRange on the cell id before writing --
  Morton ids make range partitioning equal spatial-prefix partitioning
  (cells.py layout note).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, BooleanType, LongType

from .cells import cell_from_lonlat, cover_bbox_batch, level_for_extent
from .kernels import pip_even_odd


def cluster_by_cell(df: DataFrame, cell_col: str = "cell",
                    num_partitions: Optional[int] = None) -> DataFrame:
    """Cell-prefix range partitioning (the north rule's locality clause).

    The Morton/quadtree cell ids are hierarchical: every cell's descendants
    occupy one contiguous id interval (``cells.cell_range``), so plain range
    partitioning on the raw id IS spatial-prefix partitioning -- each output
    partition holds a contiguous patch of the globe, files are
    min/max-prunable on the cell column, and downstream cell-key joins read
    co-located data."""
    if num_partitions is not None:
        return df.repartitionByRange(num_partitions, F.col(cell_col))
    return df.repartitionByRange(F.col(cell_col))


def make_cover_cells(level: int):
    """pandas_udf: (minx, miny, maxx, maxy) -> array of covering cell ids.

    Whole-batch vectorized (cells.cover_bbox_batch): one flat sample->cell
    pipeline + one global sort-unique for the entire Arrow batch; only
    antimeridian/oversized rows walk the scalar cover_bbox. The per-row
    form cost ~1.8 ms/row and dominated polygon-side preparation once the
    polygon count grew past dim-table size (round-4 overlay join)."""

    @pandas_udf(ArrayType(LongType()))
    def cover_cells(minx: pd.Series, miny: pd.Series, maxx: pd.Series,
                    maxy: pd.Series) -> pd.Series:
        covers = cover_bbox_batch(
            minx.to_numpy(dtype=np.float64, na_value=np.nan),
            miny.to_numpy(dtype=np.float64, na_value=np.nan),
            maxx.to_numpy(dtype=np.float64, na_value=np.nan),
            maxy.to_numpy(dtype=np.float64, na_value=np.nan), level)
        return pd.Series([
            [] if c is None else c.astype(np.int64) for c in covers])

    return cover_cells


@pandas_udf(BooleanType())
def st_contains_point(region_id: pd.Series, geom: pd.DataFrame,
                      x: pd.Series, y: pd.Series) -> pd.Series:
    """Exact PIP refine. Within an Arrow batch, rows are grouped by
    region_id and each group's points are tested against that one polygon in
    a single vectorized kernel call -- the per-batch group count is the
    number of distinct regions, not the number of rows."""
    out = np.zeros(len(x), dtype=bool)
    xv = x.to_numpy(np.float64)
    yv = y.to_numpy(np.float64)
    if len(x) == 0:
        return pd.Series(out)
    gb = pd.Series(np.arange(len(x))).groupby(region_id.to_numpy())
    xs_col = geom["xs"]
    ys_col = geom["ys"]
    ro_col = geom["ring_offsets"]
    for _, idx in gb.indices.items():
        first = idx[0]
        xs = np.asarray(xs_col.iloc[first], dtype=np.float64)
        ys = np.asarray(ys_col.iloc[first], dtype=np.float64)
        ro = [int(v) for v in ro_col.iloc[first]]
        out[idx] = pip_even_odd(xv[idx], yv[idx], xs, ys, ro)
    return pd.Series(out)


def prepare_regions(regions: DataFrame, level: int,
                    geom_col: str = "geom", id_col: str = "region_id") -> DataFrame:
    """regions(geom GEOMETRY, id) -> exploded (id, bbox, cell); geometry-free."""
    cover = make_cover_cells(level)
    g = F.col(geom_col)
    with_bbox = regions.select(
        F.col(id_col),
        F.array_min(g["xs"]).alias("bbox_minx"),
        F.array_min(g["ys"]).alias("bbox_miny"),
        F.array_max(g["xs"]).alias("bbox_maxx"),
        F.array_max(g["ys"]).alias("bbox_maxy"),
    )
    return with_bbox.withColumn(
        "cell", F.explode(cover("bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy"))
    )


def _median_extent(g):
    """Aggregate: median over regions of the larger bbox side."""
    return F.percentile_approx(
        F.greatest(F.array_max(g["xs"]) - F.array_min(g["xs"]),
                   F.array_max(g["ys"]) - F.array_min(g["ys"])), 0.5
    ).alias("ext")


def _level_for_median_extent(ext) -> int:
    return level_for_extent(float(ext or 1.0), target_cells_per_axis=4)


def pick_level(regions: DataFrame, geom_col: str = "geom") -> int:
    """Join level from the median region bbox extent (driver-side tiny agg)."""
    row = regions.select(_median_extent(F.col(geom_col))).first()
    return _level_for_median_extent(row["ext"])


class SpatialJoinPlan:
    """Prepare-once / join-many spatial join.

    The polygon (dim) side is static across probe batches in every real
    pipeline, so its expensive parts -- one decode pass sizes the geometry
    and picks the level, then cover-cells explode, persist, sizing count +
    byte estimate, strategy choice -- happen exactly once here; each
    ``join`` call then contributes only distributed probe-side work.

    Physical shape (round-2 revision per the 100TB audit):

    * the candidate join broadcasts/shuffles ONLY (cell, region_id, bbox) --
      the geometry column never rides the exploded cover-cells side, so the
      broadcast payload is ~56 bytes/row regardless of polygon complexity;
      geometry re-attaches in the refine step via a second broadcast keyed
      by region_id (one copy per region, not per covering cell);
    * broadcast decision is BYTE-based: estimated candidate-side bytes +
      geometry-side bytes vs ``broadcast_max_bytes`` (row cap kept as a
      secondary guard and for tests that force the shuffle path);
    * when the geometry side itself exceeds the byte budget, the refine
      falls back to a shuffle join on region_id (region-count sized -- far
      smaller than the candidate join);
    * salting is SELECTIVE: only cells detected hot in a probe sample are
      salted/replicated (detect_hot_cells), so build-side replication pays
      s x only on the keys that need it, not the whole build side.
    """

    # conservative serialized-bytes estimates (cell+id+bbox struct row;
    # per-coordinate-pair bytes in the geometry struct; per-row overhead)
    _CELL_ROW_BYTES = 56
    _COORD_BYTES = 16
    _GEOM_ROW_OVERHEAD = 200

    def __init__(
        self,
        regions: DataFrame,
        region_id_col: str = "region_id",
        geom_col: str = "geom",
        level: Optional[int] = None,
        broadcast_threshold: int = 2_000_000,
        salt_buckets: int = 0,
        broadcast_max_bytes: int = 256 << 20,
    ):
        # Catalyst's constraint propagation rewrites the cell equi-join by
        # substituting the staged cell expression into inferred filter
        # predicates -- measured 357x expression duplication (7 -> 2502
        # copies of the trig subtree), evaluated PER ROW: a 5x slowdown at
        # bench scale and unbounded at 10^12 rows. The inferred IsNotNull/
        # transitive predicates are worthless for this plan (keys are never
        # null by construction), so the rule is turned off for the SESSION
        # (it cannot be scoped per query: optimization happens at each
        # action, long after this constructor).
        regions.sparkSession.conf.set(
            "spark.sql.constraintPropagation.enabled", "false")
        self.region_id_col = region_id_col
        self.salt_buckets = salt_buckets
        # geometry side: ONE row per region (not per covering cell). Cached
        # first, so the (possibly Python) geometry decode runs in one pass:
        # the aggregate below sizes it and picks the level, and the
        # cover-cells explode reads the cache.
        self.geoms = regions.select(
            F.col(region_id_col), F.col(geom_col).alias("__geom")).persist()
        g = F.col("__geom")
        stats = self.geoms.agg(
            F.count("*").alias("n"), F.sum(F.size(g["xs"])).alias("pts"),
            *([_median_extent(g)] if level is None else [])).first()
        self.level = level if level is not None else \
            _level_for_median_extent(stats["ext"])
        self.n_regions = stats["n"]
        self.geom_bytes = int((stats["pts"] or 0) * self._COORD_BYTES
                              + self.n_regions * self._GEOM_ROW_OVERHEAD)
        self.build = prepare_regions(
            self.geoms, self.level, "__geom", region_id_col).persist()
        self.n_build = self.build.count()
        self.cells_bytes = int(self.n_build * self._CELL_ROW_BYTES)
        self.use_broadcast = (
            self.n_build <= broadcast_threshold
            and self.cells_bytes + self.geom_bytes <= broadcast_max_bytes
            and salt_buckets == 0)
        self.broadcast_geoms = self.geom_bytes <= broadcast_max_bytes
        self._hot_cache: Optional[list] = None

    def _candidates(self, probe: DataFrame, x_col: str, y_col: str,
                    salt_key: Optional[str],
                    hot_cells: Optional[list] = None) -> DataFrame:
        """probe x cover-cells candidate join + bbox prefilter (geometry-free)."""
        if self.use_broadcast:
            joined = probe.join(F.broadcast(self.build), "cell", "inner")
        elif self.salt_buckets > 1:
            key = salt_key or x_col
            s = self.salt_buckets
            # hot-cell detection samples the probe (which may sit behind
            # expensive enrichment UDFs), so detect once per plan and reuse:
            # the hot set is a property of the workload's key distribution,
            # stable across same-source probe batches. Callers joining
            # differently-distributed probes pass hot_cells explicitly.
            if hot_cells is None:
                if self._hot_cache is None:
                    self._hot_cache = detect_hot_cells(probe)
                hot = self._hot_cache
            else:
                hot = hot_cells
            if hot:
                is_hot = F.col("cell").isin(hot)
                probe_s = probe.withColumn(
                    "__salt",
                    F.when(is_hot, F.pmod(F.xxhash64(F.col(key)), F.lit(s)))
                    .otherwise(F.lit(0)).cast("int"))
                build_s = self.build.withColumn(
                    "__salt",
                    F.explode(F.when(is_hot, F.sequence(F.lit(0), F.lit(s - 1)))
                              .otherwise(F.array(F.lit(0))))
                ).withColumn("__salt", F.col("__salt").cast("int"))
                joined = probe_s.join(build_s, ["cell", "__salt"], "inner") \
                                .drop("__salt")
            else:
                joined = probe.join(self.build, "cell", "inner")
        else:
            joined = probe.join(self.build, "cell", "inner")
        return joined.where(
            (F.col(x_col) >= F.col("bbox_minx")) & (F.col(x_col) <= F.col("bbox_maxx"))
            & (F.col(y_col) >= F.col("bbox_miny")) & (F.col(y_col) <= F.col("bbox_maxy"))
        ).drop("bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy")

    def join(self, points: DataFrame, x_col: str = "x", y_col: str = "y",
             salt_key: Optional[str] = None, how: str = "inner",
             hot_cells: Optional[list] = None) -> DataFrame:
        """``hot_cells``: pre-computed hot-cell ids for the salted path
        (None = auto-detect from a probe sample per call; pass a cached list
        when joining many batches of similarly-distributed probes)."""
        from .cells import with_cell

        region_id_col = self.region_id_col
        # The plan owns these working column names on the probe side. A
        # user column named "cell" would be silently OVERWRITTEN by the
        # staged cell assignment -- and on the how='left' path the value
        # re-attach would then compare original vs computed cells and match
        # NOTHING (all-null region_id, review finding). Fail loudly instead.
        reserved = {"cell", "__salt", "__geom", region_id_col,
                    "bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy"}
        clash = reserved & set(points.columns)
        if clash:
            raise ValueError(
                f"points columns {sorted(clash)} collide with the spatial "
                f"join's working columns; rename them before joining")
        # pure-JVM staged cell assignment: the probe side has NO Python
        # crossing for cell ids (bit-parity with the NumPy kernel pinned in
        # tests/test_cells.py)
        probe = with_cell(points, x_col, y_col, self.level, "cell")
        pre = self._candidates(probe, x_col, y_col, salt_key, hot_cells)
        # re-attach geometry (one row per region) for the exact refine
        geoms = F.broadcast(self.geoms) if self.broadcast_geoms else self.geoms
        refined = pre.join(geoms, region_id_col, "inner").where(
            st_contains_point(F.col(region_id_col), F.col("__geom"),
                              F.col(x_col), F.col(y_col))
        ).drop("__geom")

        if how == "inner":
            return refined
        if how == "left":
            # Re-attach matches by VALUE identity with NULL-SAFE equality:
            # the previous plain column-list join used `=` semantics, so a
            # matched row carrying ANY null column silently failed to
            # re-attach and came back region-less (null = null is not true
            # in SQL). Aliased frames avoid the self-join lineage ambiguity.
            # Contract: point rows are distinct (duplicate identical rows
            # cross-multiply, as in any value-keyed join).
            p = points.alias("__pts")
            m = refined.select(*points.columns,
                               F.col(region_id_col)).alias("__match")
            cond = None
            for c in points.columns:
                e = F.col(f"__pts.{c}").eqNullSafe(F.col(f"__match.{c}"))
                cond = e if cond is None else (cond & e)
            return p.join(m, cond, "left").select(
                *[F.col(f"__pts.{c}").alias(c) for c in points.columns],
                F.col(f"__match.{region_id_col}").alias(region_id_col))
        raise ValueError(f"unsupported how={how!r}")

    def unpersist(self):
        self.build.unpersist()
        self.geoms.unpersist()


def spatial_join(
    points: DataFrame,
    regions: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    region_id_col: str = "region_id",
    geom_col: str = "geom",
    level: Optional[int] = None,
    broadcast_threshold: int = 2_000_000,
    salt_buckets: int = 0,
    salt_key: Optional[str] = None,
    how: str = "inner",
) -> DataFrame:
    """One-shot convenience wrapper: prepare a plan and join once.

    Repeated joins against the same regions should build a SpatialJoinPlan
    and reuse it."""
    plan = SpatialJoinPlan(
        regions, region_id_col=region_id_col, geom_col=geom_col, level=level,
        broadcast_threshold=broadcast_threshold, salt_buckets=salt_buckets)
    return plan.join(points, x_col=x_col, y_col=y_col, salt_key=salt_key, how=how)


def detect_hot_cells(points_with_cell: DataFrame, threshold_ratio: float = 0.01,
                     sample_fraction: float = 0.05) -> list[int]:
    """Sampled hot-cell detection for choosing salt_buckets (SURVEY §4.3):
    cells holding more than threshold_ratio of a 5% sample are 'hot'.

    Deterministic: the sample is seeded and the list sorted, so the same
    input partitions give the same hot set, salting layout and generated
    code on every call. ``fraction`` is passed by keyword on purpose: the
    positional form ``sample(f, seed=...)`` drops the seed in PySpark
    (``seed`` is then read from the unset ``fraction`` argument) and draws
    a new random sample for each of the two jobs below."""
    sample = points_with_cell.sample(fraction=sample_fraction, seed=42)
    counts = sample.groupBy("cell").count()
    total = sample.count()
    if total == 0:
        return []
    hot = counts.where(F.col("count") > threshold_ratio * total)
    return sorted(r["cell"] for r in hot.collect())
