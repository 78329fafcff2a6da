"""Raster map algebra, the relational way: FOCAL (3x3 neighborhood) and
ZONAL (per-region) operations over a cell grid -- the raster half of the
raster<->vector mandate (BASELINE.json north_star: "raster-tile<->vector
assignment") beyond the tile rollups and areal-interpolation weights the
engine already ships.

Design: a raster IS a relation (x, y, z) -- the classic Map Algebra
(Tomlin) framing.  Focal ops are a scatter-gather stencil: every cell
ships (z, kernel-position) to its <= 9 neighborhoods and one combinable
conditional aggregate folds each neighborhood -- only bare-long rows
shuffle, no self-join; zonal ops become a cell->zone assignment joined
to a combinable per-zone aggregate.  Both are exactly the shapes a 100 TB DEM pipeline
runs (tiled COG -> cell relation -> focal/zonal) -- no per-pixel Python,
no rasters in driver memory, partition-friendly keys.

Exactness: integer elevations, integer Horn gradients (the 3x3 Sobel-like
numerators -- the /8dx normalization is left to the consumer, the repo's
pieces discipline), COUNT/SUM/MIN/MAX zonal aggregates -- nothing to
drift; every value replays bit-for-bit in DuckDB.

Reference scope note: haskell-postgis is a geometry codec library; raster
algebra belongs to the tiling mandate layered on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterate import fixpoint, persisted


def focal_slope(grid: DataFrame, x_col: str = "x", y_col: str = "y",
                z_col: str = "z") -> DataFrame:
    """Horn's method (the GDAL/ArcGIS slope standard) as a relational
    focal op: for every INTERIOR cell, the exact integer gradient
    numerators

        gx = (z_ne + 2*z_e + z_se) - (z_nw + 2*z_w + z_sw)
        gy = (z_sw + 2*z_s + z_se) - (z_nw + 2*z_n + z_ne)

    (slope = atan(sqrt(gx^2+gy^2)/(8*cellsize)) -- the transcendental
    tail is the consumer's, the pieces discipline), plus the ruggedness
    piece r2 = gx^2 + gy^2.  Interior = cells with all 8 neighbors
    present, detected by COUNT(*) = 9 -- no width/height parameters, so
    ragged / multi-tile grids work unchanged.

    Plan: explode the 3x3 kernel (x9 on bare longs -- z rides along, no
    geometry, no arrays), one packed-key equi-join back to itself
    avoided entirely: each cell SENDS (z, weight-position) to the 9
    neighborhoods it participates in, and one combinable conditional
    aggregate per receiving cell folds the weighted sums.  ONE shuffle
    keyed by (cx, cy); at 100 TB a real DEM pipeline keys this by tile
    prefix (Morton cell id) so the stencil shuffle stays tile-local."""
    x, y, z = F.col(x_col), F.col(y_col), F.col(z_col)
    off = F.explode(F.expr(
        "array(struct(-1 AS dx, -1 AS dy), struct(-1 AS dx, 0 AS dy), "
        "struct(-1 AS dx, 1 AS dy), struct(0 AS dx, -1 AS dy), "
        "struct(0 AS dx, 0 AS dy), struct(0 AS dx, 1 AS dy), "
        "struct(1 AS dx, -1 AS dy), struct(1 AS dx, 0 AS dy), "
        "struct(1 AS dx, 1 AS dy))")).alias("o")
    # cell (x, y) contributes to neighborhood center (x+dx, y+dy); its
    # position IN that neighborhood is (-dx, -dy)
    sc = (grid.select(x.alias("__x"), y.alias("__y"),
                      z.cast("bigint").alias("__z"))
          .select("__x", "__y", "__z", off)
          .select((F.col("__x") + F.col("o.dx")).alias("cx"),
                  (F.col("__y") + F.col("o.dy")).alias("cy"),
                  (-F.col("o.dx")).alias("px"),
                  (-F.col("o.dy")).alias("py"),
                  F.col("__z")))

    def zat(px: int, py: int):
        return F.sum(F.when((F.col("px") == px) & (F.col("py") == py),
                            F.col("__z")).otherwise(F.lit(0)))

    agg = (sc.groupBy("cx", "cy")
           .agg(F.count("*").alias("__n"),
                (zat(1, 1) + 2 * zat(1, 0) + zat(1, -1)
                 - zat(-1, 1) - 2 * zat(-1, 0) - zat(-1, -1)).alias("gx"),
                (zat(-1, -1) + 2 * zat(0, -1) + zat(1, -1)
                 - zat(-1, 1) - 2 * zat(0, 1) - zat(1, 1)).alias("gy")))
    return (agg.where(F.col("__n") == 9)
            .select(F.col("cx").alias(x_col), F.col("cy").alias(y_col),
                    F.col("gx").cast("bigint").alias("gx"),
                    F.col("gy").cast("bigint").alias("gy"),
                    (F.col("gx") * F.col("gx")
                     + F.col("gy") * F.col("gy")).cast("bigint")
                    .alias("r2")))


def focal_slope_oracle_sql(grid_sql: str, x_col: str = "x",
                           y_col: str = "y", z_col: str = "z") -> str:
    """DuckDB replay: identical scatter (UNNEST kernel offsets), identical
    conditional-sum fold, COUNT(*) = 9 interior gate."""
    def zat(px: int, py: int) -> str:
        return (f"SUM(CASE WHEN px = {px} AND py = {py} "
                f"THEN __z ELSE 0 END)")

    gx = (f"({zat(1, 1)} + 2 * {zat(1, 0)} + {zat(1, -1)} "
          f"- {zat(-1, 1)} - 2 * {zat(-1, 0)} - {zat(-1, -1)})")
    gy = (f"({zat(-1, -1)} + 2 * {zat(0, -1)} + {zat(1, -1)} "
          f"- {zat(-1, 1)} - 2 * {zat(0, 1)} - {zat(1, 1)})")
    return f"""
WITH __g AS ({grid_sql}),
__sc AS (
  SELECT ({x_col} + ox.dx) AS cx, ({y_col} + oy.dy) AS cy,
         -ox.dx AS px, -oy.dy AS py, CAST({z_col} AS BIGINT) AS __z
  FROM __g, (SELECT UNNEST(range(-1, 2)) AS dx) ox,
       (SELECT UNNEST(range(-1, 2)) AS dy) oy),
__agg AS (
  SELECT cx, cy, COUNT(*) AS __n,
         CAST({gx} AS BIGINT) AS gx, CAST({gy} AS BIGINT) AS gy
  FROM __sc GROUP BY cx, cy)
SELECT cx AS {x_col}, cy AS {y_col}, gx, gy,
       CAST(gx * gx + gy * gy AS BIGINT) AS r2
FROM __agg WHERE __n = 9"""


def zonal_stats(grid: DataFrame, zones: DataFrame,
                x_col: str = "x", y_col: str = "y", z_col: str = "z",
                zone_id: str = "zone_id") -> DataFrame:
    """ZONAL statistics (the other Map Algebra half): per-zone
    COUNT/SUM/MIN/MAX of cell values for cells whose center falls in the
    zone's axis-aligned box [x0, x1) x [y0, y1) -- the raster->vector
    assignment rollup (per-district elevation/population/NDVI summaries).

    Plan: the zone table is a broadcast dim (real pipelines pre-tile
    zones; boxes here, polygon zones route the same cells through the
    engine's PIP refine); the cell side never shuffles -- the aggregate
    is map-side combinable per zone after a broadcast range join.
    Overlapping zones legally double-count (each zone sees its own
    cells)."""
    j = grid.join(
        F.broadcast(zones),
        (F.col(x_col) >= F.col("x0")) & (F.col(x_col) < F.col("x1"))
        & (F.col(y_col) >= F.col("y0")) & (F.col(y_col) < F.col("y1")))
    return (j.groupBy(zone_id)
            .agg(F.count("*").cast("bigint").alias("n_cells"),
                 F.sum(z_col).cast("bigint").alias("sum_z"),
                 F.min(z_col).cast("bigint").alias("min_z"),
                 F.max(z_col).cast("bigint").alias("max_z")))


def zonal_stats_oracle_sql(grid_sql: str, zones_sql: str,
                           x_col: str = "x", y_col: str = "y",
                           z_col: str = "z",
                           zone_id: str = "zone_id") -> str:
    """DuckDB replay: identical half-open range join + aggregates."""
    return f"""
WITH __g AS ({grid_sql}), __zn AS ({zones_sql})
SELECT z.{zone_id},
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(g.{z_col}) AS BIGINT) AS sum_z,
       CAST(MIN(g.{z_col}) AS BIGINT) AS min_z,
       CAST(MAX(g.{z_col}) AS BIGINT) AS max_z
FROM __g g JOIN __zn z
  ON g.{x_col} >= z.x0 AND g.{x_col} < z.x1
 AND g.{y_col} >= z.y0 AND g.{y_col} < z.y1
GROUP BY z.{zone_id}"""


# ---------------------------------------------------------------------------
# D8 hydrology -- flow direction + bounded-hop flow accumulation
# ---------------------------------------------------------------------------

D8_ROUNDS = 4


def _d8_scatter(grid: DataFrame, x_col: str, y_col: str,
                z_col: str) -> DataFrame:
    """The focal_slope scatter reused: (cx, cy, px, py, __z) rows where
    (px, py) is the contributing cell's offset from the center."""
    x, y, z = F.col(x_col), F.col(y_col), F.col(z_col)
    off = F.explode(F.expr(
        "array(struct(-1 AS dx, -1 AS dy), struct(-1 AS dx, 0 AS dy), "
        "struct(-1 AS dx, 1 AS dy), struct(0 AS dx, -1 AS dy), "
        "struct(0 AS dx, 0 AS dy), struct(0 AS dx, 1 AS dy), "
        "struct(1 AS dx, -1 AS dy), struct(1 AS dx, 0 AS dy), "
        "struct(1 AS dx, 1 AS dy))")).alias("o")
    return (grid.select(x.alias("__x"), y.alias("__y"),
                        z.cast("bigint").alias("__z"))
            .select("__x", "__y", "__z", off)
            .select((F.col("__x") + F.col("o.dx")).alias("cx"),
                    (F.col("__y") + F.col("o.dy")).alias("cy"),
                    (-F.col("o.dx")).alias("px"),
                    (-F.col("o.dy")).alias("py"),
                    F.col("__z")))


def d8_flow_dir(grid: DataFrame, x_col: str = "x", y_col: str = "y",
                z_col: str = "z") -> DataFrame:
    """D8 flow direction (O'Callaghan & Mark 1984 -- the standard
    hydrology first step): every interior cell drains to the
    steepest-DESCENT neighbor of its 3x3 window.  Steepness
    drop/distance compares EXACTLY by cross-multiplication:
    m = drop^2 * (2 for straight neighbors, 1 for diagonals) orders
    s^2 = drop^2/dist^2 with dist^2 in {1, 2} -- no sqrt, no float.
    Ties break by the compass octant code (the SAME engine-shared
    octant_sql expression classifying the unit offset -- N=0 .. NW=7),
    strict drop > 0, cells with no downhill neighbor are PITS
    (dir = -1, m = 0).  Output: (x, y, dir, m) for interior cells.

    Plan: the focal scatter + one combinable min(struct) argmin over
    candidate rows; a left join back to the interior set marks pits.
    Only bare-long rows shuffle, keyed (cx, cy) throughout -- the
    stencil keys reuse across the aggregates."""
    from .geodesy import octant_sql

    sc = _d8_scatter(grid, x_col, y_col, z_col)
    interior = (sc.groupBy("cx", "cy")
                .agg(F.count("*").alias("__n"),
                     F.sum(F.when((F.col("px") == 0) & (F.col("py") == 0),
                                  F.col("__z"))).alias("zc"))
                .where(F.col("__n") == 9)
                .select("cx", "cy", "zc"))
    drop = F.col("zc") - F.col("__z")
    straight = (F.col("px") == 0) | (F.col("py") == 0)
    m = (drop * drop * F.when(straight, F.lit(2)).otherwise(F.lit(1))) \
        .cast("bigint")
    code = F.expr(octant_sql("px", "py")).cast("bigint")
    cand = (sc.where(~((F.col("px") == 0) & (F.col("py") == 0)))
            .join(interior, ["cx", "cy"])
            .where(drop > 0)
            .select("cx", "cy", m.alias("__m"), code.alias("__c")))
    best = (cand.groupBy("cx", "cy")
            .agg(F.min(F.struct((-F.col("__m")).alias("negm"),
                                F.col("__c").alias("code"))).alias("b")))
    return (interior.join(best, ["cx", "cy"], "left")
            .select(F.col("cx").alias(x_col), F.col("cy").alias(y_col),
                    F.coalesce(F.col("b.code"), F.lit(-1)).cast("bigint")
                    .alias("dir"),
                    F.coalesce(-F.col("b.negm"), F.lit(0)).cast("bigint")
                    .alias("m")))


def _d8_dir_ctes(grid_sql: str, x_col: str, y_col: str,
                 z_col: str) -> list[str]:
    """Shared CTE chain ending in __dir (x, y, dir, m)."""
    from .geodesy import octant_sql

    code = octant_sql("px", "py")
    return [f"""__g AS ({grid_sql})""", f"""__sc AS (
  SELECT ({x_col} + ox.dx) AS cx, ({y_col} + oy.dy) AS cy,
         -ox.dx AS px, -oy.dy AS py, CAST({z_col} AS BIGINT) AS __z
  FROM __g, (SELECT UNNEST(range(-1, 2)) AS dx) ox,
       (SELECT UNNEST(range(-1, 2)) AS dy) oy)""", """__int AS (
  SELECT cx, cy,
         SUM(CASE WHEN px = 0 AND py = 0 THEN __z END) AS zc
  FROM __sc GROUP BY cx, cy HAVING COUNT(*) = 9)""", f"""__cand AS (
  SELECT s.cx, s.cy,
         CAST((i.zc - s.__z) * (i.zc - s.__z)
              * (CASE WHEN s.px = 0 OR s.py = 0 THEN 2 ELSE 1 END)
              AS BIGINT) AS m,
         CAST({code} AS BIGINT) AS code
  FROM __sc s JOIN __int i ON s.cx = i.cx AND s.cy = i.cy
  WHERE NOT (s.px = 0 AND s.py = 0) AND i.zc > s.__z)""", """__best AS (
  SELECT cx, cy, m, code FROM __cand
  QUALIFY ROW_NUMBER() OVER (PARTITION BY cx, cy
                             ORDER BY m DESC, code ASC) = 1)""", """__dir AS (
  SELECT i.cx, i.cy,
         CAST(COALESCE(b.code, -1) AS BIGINT) AS dir,
         CAST(COALESCE(b.m, 0) AS BIGINT) AS m
  FROM __int i LEFT JOIN __best b ON i.cx = b.cx AND i.cy = b.cy)"""]


def d8_flow_dir_oracle_sql(grid_sql: str, x_col: str = "x",
                           y_col: str = "y", z_col: str = "z") -> str:
    """DuckDB replay: identical scatter + cross-multiplied steepness,
    argmin as ROW_NUMBER (two dataflows, one answer)."""
    ctes = ",\n".join(_d8_dir_ctes(grid_sql, x_col, y_col, z_col))
    return f"""
WITH {ctes}
SELECT cx AS {x_col}, cy AS {y_col}, dir, m FROM __dir"""


# dir code -> unit offset (the octant_sql inverse for unit vectors)
_D8_DX = "CASE dir WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 3 THEN 1 " \
         "WHEN 5 THEN -1 WHEN 6 THEN -1 WHEN 7 THEN -1 ELSE 0 END"
_D8_DY = "CASE dir WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 7 THEN 1 " \
         "WHEN 3 THEN -1 WHEN 4 THEN -1 WHEN 5 THEN -1 ELSE 0 END"


def d8_accumulation(dirs: DataFrame, x_col: str = "x", y_col: str = "y",
                    rounds: int = D8_ROUNDS) -> DataFrame:
    """Bounded-hop D8 flow accumulation: acc_k(c) = number of cells
    (self included) whose flow path reaches c within <= k steps -- the
    contributing-area census truncated at ``rounds`` hops (the full
    accumulation is this fixpoint; bounded rounds keep the oracle a
    finite CTE chain, the bfs/cheapest-path discipline).  The D8 graph
    is a forest (one out-edge per cell), so each upstream cell is
    counted exactly once, at its flow distance.  Flow off the interior
    (into border cells) leaves the domain and drops.

    Per round one (x, y)-keyed equi-join + one combinable sum; the
    accumulator is the :func:`spatial.iterate.fixpoint` state,
    checkpointed per round."""
    cells = dirs.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"),
                        F.col("dir"))
    with persisted(cells.where(F.col("dir") >= 0)
                   .select(F.col("x").alias("sx"), F.col("y").alias("sy"),
                           (F.col("x") + F.expr(_D8_DX)).alias("tx"),
                           (F.col("y") + F.expr(_D8_DY)).alias("ty"))
                   ) as edges:

        def step(acc: DataFrame) -> DataFrame:
            inflow = (edges.join(acc, (edges.sx == acc.x)
                                 & (edges.sy == acc.y))
                      .groupBy(F.col("tx").alias("ix"),
                               F.col("ty").alias("iy"))
                      .agg(F.sum("acc").alias("s")))
            return (cells.join(inflow, (cells.x == inflow.ix)
                               & (cells.y == inflow.iy), "left")
                    .select(cells.x, cells.y,
                            (F.lit(1) + F.coalesce(F.col("s"), F.lit(0)))
                            .cast("bigint").alias("acc")))

        acc = fixpoint(cells.select("x", "y",
                                    F.lit(1).cast("bigint").alias("acc")),
                       step, rounds)
    return acc.select(F.col("x").alias(x_col), F.col("y").alias(y_col),
                      "acc")


def d8_accumulation_oracle_sql(grid_sql: str, x_col: str = "x",
                               y_col: str = "y", z_col: str = "z",
                               rounds: int = D8_ROUNDS) -> str:
    """DuckDB replay: the direction CTEs + chained accumulation rounds
    relaxing from the FULL previous table (provably the same integers as
    the engine's checkpointed loop -- same recurrence, same rounds)."""
    ctes = _d8_dir_ctes(grid_sql, x_col, y_col, z_col)
    ctes.append(f"""__e AS (
  SELECT cx AS sx, cy AS sy,
         cx + ({_D8_DX}) AS tx, cy + ({_D8_DY}) AS ty
  FROM __dir WHERE dir >= 0)""")
    ctes.append("""__a0 AS (
  SELECT cx AS x, cy AS y, CAST(1 AS BIGINT) AS acc FROM __dir)""")
    r = 0
    for r in range(1, int(rounds) + 1):
        ctes.append(f"""__a{r} AS (
  SELECT d.cx AS x, d.cy AS y,
         CAST(1 + COALESCE(SUM(a.acc), 0) AS BIGINT) AS acc
  FROM __dir d
  LEFT JOIN __e e ON e.tx = d.cx AND e.ty = d.cy
  LEFT JOIN __a{r - 1} a ON a.x = e.sx AND a.y = e.sy
  GROUP BY d.cx, d.cy)""")
    cte_block = ",\n".join(ctes)
    return f"""
WITH {cte_block}
SELECT x AS {x_col}, y AS {y_col}, acc FROM __a{r}"""
