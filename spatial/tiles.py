"""Web-Mercator (slippy-map) raster tiling -- pure column math, zero UDF.

tile_assign is the engine's raster-tile <-> vector assignment primitive
(net-new vs the reference, mandated by BASELINE.json north_star). Each
formula is written once as a SQL expression string (``tile_x``,
``tile_y``, ``quadkey_oracle_sql``, ...): Spark evaluates it with
``F.expr`` and stays inside whole-stage codegen, and the DuckDB oracles in
__spark_entry__.py evaluate the same string.

Formulas (OSM slippy map):
    n      = 2^z
    tile_x = floor((lon + 180) / 360 * n)
    tile_y = floor((1 - asinh(tan(lat_rad)) / pi) / 2 * n)
with lat clamped to the Web-Mercator domain +-85.05112878 and indices clamped
to [0, n-1] (lon = +180 maps to the last column).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cells import interleave_sql, quantize_sql
from .gazetteer import sql_double

MERCATOR_MAX_LAT = 85.05112878


def tile_x(lon: str, zoom: int) -> str:
    """Tile column of a longitude SQL expression (BIGINT SQL string)."""
    return quantize_sql(lon, -180.0, 360.0, 2 ** zoom)


def tile_y(lat: str, zoom: int) -> str:
    """Tile row of a latitude SQL expression (BIGINT SQL string)."""
    m = sql_double(MERCATOR_MAX_LAT)
    lat_rad = f"radians(least(greatest({lat}, -{m}), {m}))"
    # asinh(tan(x)) = ln(tan(x) + 1/cos(x)) -- sec form keeps DuckDB parity
    merc = f"ln(tan({lat_rad}) + 1.0e0 / cos({lat_rad}))"
    raw = (f"floor((1.0e0 - {merc} / {sql_double(math.pi)}) / 2.0e0"
           f" * {sql_double(2 ** zoom)})")
    return f"CAST(least(greatest({raw}, 0), {2 ** zoom - 1}) AS BIGINT)"


def tile_assign(df: DataFrame, lon_col: str, lat_col: str, zoom: int,
                out_prefix: str = "tile") -> DataFrame:
    return df.withColumns({
        f"{out_prefix}_z": F.lit(zoom).cast("int"),
        f"{out_prefix}_x": F.expr(tile_x(lon_col, zoom)),
        f"{out_prefix}_y": F.expr(tile_y(lat_col, zoom)),
    })


def tile_id(zoom: int, tx: Column, ty: Column) -> Column:
    """Single-long tile key (z in high bits) for groupBy/partitioning."""
    return (F.lit(zoom).cast("long") * F.lit(2 ** 58)) + tx * F.lit(float(2 ** 29)).cast("long") + ty


def tile_assign_oracle_sql(lon_expr: str, lat_expr: str, zoom: int) -> tuple[str, str]:
    """(tile_x, tile_y) SQL strings for the DuckDB oracle: the very strings
    tile_assign evaluates."""
    return tile_x(lon_expr, zoom), tile_y(lat_expr, zoom)


def tile_cover(df: DataFrame, geom_col: str, zoom: int,
               out_prefix: str = "tile") -> DataFrame:
    """Vector -> raster-tile assignment: one output row per z/x/y tile whose
    extent intersects the geometry's bbox at ``zoom``.

    The other direction of tile_assign (point -> its tile). Pure column
    math: bbox corners -> tile index ranges -> sequence() cross-explode,
    all JVM-side. Tile y grows southward, so the min tile row comes from the
    bbox's MAX latitude. Exact (non-bbox) coverage, when needed, is this
    followed by a PIP refine of tile centers/corners against the geometry --
    same pattern as the spatial join's cover-then-refine."""
    xs, ys = f"{geom_col}.xs", f"{geom_col}.ys"
    txs = F.sequence(F.expr(tile_x(f"array_min({xs})", zoom)),
                     F.expr(tile_x(f"array_max({xs})", zoom)))
    tys = F.sequence(F.expr(tile_y(f"array_max({ys})", zoom)),
                     F.expr(tile_y(f"array_min({ys})", zoom)))
    return (
        df.withColumn(f"{out_prefix}_z", F.lit(zoom).cast("int"))
        .withColumn(f"{out_prefix}_x", F.explode(txs))
        .withColumn(f"{out_prefix}_y", F.explode(tys))
    )


def tile_pyramid(df: DataFrame, lon_col: str, lat_col: str,
                 base_zoom: int, min_zoom: int = 0) -> DataFrame:
    """Raster z-pyramid rollup: per-tile point counts at ``base_zoom``,
    then every coarser level down to ``min_zoom`` -- one output row per
    (tile_z, tile_x, tile_y) with ``n_points``.

    Scale shape: the raw points are scanned and shuffled ONCE (the
    base-zoom aggregate); each coarser level aggregates the LEVEL BELOW
    (4 children per parent via ``tx >> 1, ty >> 1``), so levels cost
    #tiles -- not #points -- per step. The naive form (re-assign + re-agg
    the corpus per zoom) scans 100 TB once per level.

    Exactness of the hierarchical rollup: tile indices are
    floor(v * 2^z) with clamping; scaling by a power of two only shifts
    the float exponent (no rounding), so floor(v * 2^(z-1)) ==
    floor(v * 2^z) >> 1 identically, and the clamped edges map
    (n-1) >> 1 == parent n/2 - 1. The DuckDB oracle computes every level
    DIRECTLY from the raw points -- different plan, identical integers."""
    base = (
        tile_assign(df, lon_col, lat_col, base_zoom)
        .groupBy("tile_z", "tile_x", "tile_y")
        .agg(F.count("*").alias("n_points"))
    )
    cols = ["tile_z", "tile_x", "tile_y", "n_points"]
    levels = [base.select(*cols)]
    cur = base
    for z in range(base_zoom - 1, min_zoom - 1, -1):
        cur = (
            cur.groupBy(
                F.shiftright(F.col("tile_x"), 1).alias("tile_x"),
                F.shiftright(F.col("tile_y"), 1).alias("tile_y"))
            .agg(F.sum("n_points").alias("n_points"))
            .withColumn("tile_z", F.lit(z).cast("int"))
        )
        levels.append(cur.select(*cols))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def tile_envelope_exprs(zoom: int, tx_expr: str = "tile_x",
                        ty_expr: str = "tile_y"):
    """(west, south, east, north) shared Spark-SQL/DuckDB expression
    strings for a slippy tile's lon/lat envelope -- the INVERSE of
    tile_assign (PostGIS ST_TileEnvelope analog, completing the tile
    codec pair like geohash encode/decode).

    Longitudes are EXACT: the tile width 360/2^z is a dyadic multiple of
    45, so tx*width and the -180 shift introduce no rounding -- raw
    doubles compare bit-exactly. Latitudes invert the Mercator projection
    (atan of sinh, sinh spelled (exp(t) - exp(-t))/2 since neither engine
    ships sinh under one name-and-semantics) -- a handful of ~1-ulp
    transcendentals on bit-identical inputs; callers round(6) per the
    transcendental policy. Degrees convert by the shared 180/pi literal
    (never the engines' degrees() builtin). Zero shuffle, zero Python."""
    from .synth import sql_double

    import math

    w = sql_double(360.0 / (1 << zoom))          # dyadic * 45 -> exact
    k = sql_double(2.0 / (1 << zoom))            # dyadic -> ty*k exact
    pi = sql_double(math.pi)
    deg = sql_double(180.0 / math.pi)

    def lat_of(ty):
        t = f"((1.0e0 - ({ty}) * {k}) * {pi})"
        sinh = f"((exp({t}) - exp(-{t})) / 2.0e0)"
        return f"(atan({sinh}) * {deg})"

    west = f"(({tx_expr}) * {w} - 180.0e0)"
    east = f"((({tx_expr}) + 1) * {w} - 180.0e0)"
    north = lat_of(ty_expr)
    south = lat_of(f"({ty_expr}) + 1")
    return west, south, east, north


def quadkey_expr(zoom: int, tx: str, ty: str) -> Column:
    """(tx, ty) SQL expressions -> Bing-maps quadkey string column: the
    Spark rendering of ``quadkey_oracle_sql``."""
    return F.expr(quadkey_oracle_sql(zoom, tx, ty))


def quadkey_decode_exprs(zoom: int, qk: str) -> tuple[Column, Column]:
    """quadkey SQL expression -> (tx, ty) columns: the Spark rendering of
    ``quadkey_decode_oracle_sql``."""
    tx, ty = quadkey_decode_oracle_sql(zoom, qk)
    return F.expr(tx), F.expr(ty)


def quadkey_oracle_sql(zoom: int, tx_expr: str, ty_expr: str) -> str:
    """(tx, ty) -> Bing-maps quadkey: ``zoom`` base-4 digit chars, most
    significant first, digit = x_bit + 2*y_bit (the public Microsoft Bing
    tile-system encoding) -- the Morton interleave of (ty, tx) read out
    two bits at a time, so a tile's quadkey is PREFIXED by every
    ancestor's: prefix range scans give pyramid rollups and spatial
    pruning on a plain string sort. Pure integer shift/mask + substring
    on a 4-char literal; zero Python.

    zoom >= 1 required: the z=0 root's quadkey is the empty string, which
    an empty SQL fragment cannot spell -- callers wanting the root write
    ''."""
    if zoom < 1:
        raise ValueError("quadkey_oracle_sql requires zoom >= 1")
    m = interleave_sql(ty_expr, tx_expr, zoom)
    return " || ".join(
        f"substring('0123', CAST((({m} >> {2 * i}) & 3) + 1 AS INT), 1)"
        for i in range(zoom - 1, -1, -1))


def quadkey_decode_oracle_sql(zoom: int, qk_expr: str) -> tuple[str, str]:
    """quadkey -> (tx, ty) SQL strings, the inverse codec: each char
    yields one bit of tx (digit & 1) and one of ty (digit >> 1), weighted
    by its level. zoom >= 1 (see quadkey_oracle_sql)."""
    if zoom < 1:
        raise ValueError("quadkey_decode_oracle_sql requires zoom >= 1")
    txs, tys = [], []
    for i in range(zoom):
        d = f"CAST(substring({qk_expr}, {i + 1}, 1) AS BIGINT)"
        txs.append(f"(({d} & 1) << {zoom - 1 - i})")
        tys.append(f"(({d} >> 1) << {zoom - 1 - i})")
    return " + ".join(txs), " + ".join(tys)
