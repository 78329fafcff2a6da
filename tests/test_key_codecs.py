"""Cross-engine parity of the spatial key codecs: each codec is one stage
list of SQL strings (spatial/cells.py), and its Spark function and its
DuckDB oracle must return identical values over a fixed point set that
includes the domain edges (lon +-180, lat +-90, the Mercator clamp
+-85.05112878) and points just past each clamp."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from spatial.cells import cell_of_oracle_sql, with_cell
from spatial.geohash import (geohash_decode_oracle_sql, geohash_oracle_sql,
                             with_geohash, with_geohash_bounds)
from spatial.hilbert import hkey_oracle_sql, with_hkey
from spatial.tiles import (quadkey_decode_exprs, quadkey_decode_oracle_sql,
                           quadkey_expr, quadkey_oracle_sql, tile_assign,
                           tile_assign_oracle_sql)
from spatial.zorder import with_zkey, zkey_oracle_sql

_EDGE_LON = [-180.0000001, -180.0, -179.9999999, 0.0, 179.9999999, 180.0,
             180.0000001]
_EDGE_LAT = [-90.0000001, -90.0, -89.9999999, -85.05112879, -85.05112878,
             -85.05112877, 0.0, 85.05112877, 85.05112878, 85.05112879,
             89.9999999, 90.0, 90.0000001]


def _points() -> pd.DataFrame:
    rng = np.random.default_rng(2024)
    edge = [(x, y) for x in _EDGE_LON for y in _EDGE_LAT]
    grid = [(x, y) for x in np.arange(-180.0, 180.5, 7.5)
            for y in np.arange(-90.0, 90.5, 7.5)]
    rand = list(zip(rng.uniform(-180, 180, 1000), rng.uniform(-90, 90, 1000)))
    pts = edge + grid + rand
    return pd.DataFrame({"id": np.arange(len(pts), dtype=np.int64),
                         "lon": [float(p[0]) for p in pts],
                         "lat": [float(p[1]) for p in pts]})


PTS = _points()


def _duck(sql: str, **tables) -> list:
    con = duckdb.connect()
    for name, pdf in tables.items():
        con.register(name, pdf)
    return sorted(map(tuple, con.execute(sql).fetchall()))


def _spark(df, cols) -> list:
    return sorted(tuple(r) for r in df.select("id", *cols).collect())


def _cell(spark, level):
    sdf = spark.createDataFrame(PTS)
    got = _spark(with_cell(sdf, "lon", "lat", level), ["cell"])
    want = _duck(f"SELECT id, cell FROM ("
                 f"{cell_of_oracle_sql('lon', 'lat', level, 'pts', 'id')})",
                 pts=PTS)
    return got, want


def _zkey(spark):
    got = _spark(with_zkey(spark.createDataFrame(PTS), "lon", "lat", 12),
                 ["zkey"])
    want = _duck(f"SELECT id, zkey FROM ({zkey_oracle_sql('lon', 'lat', 12)})",
                 __zo_in=PTS)
    return got, want


def _hkey(spark):
    got = _spark(with_hkey(spark.createDataFrame(PTS), "lon", "lat", 12),
                 ["hkey"])
    want = _duck(f"SELECT id, hkey FROM ({hkey_oracle_sql('lon', 'lat', 12)})",
                 __hi_in=PTS)
    return got, want


def _geohash(spark, precision):
    got = _spark(with_geohash(spark.createDataFrame(PTS), "lon", "lat",
                              precision), ["geohash"])
    want = _duck(geohash_oracle_sql("SELECT * FROM pts", "lon", "lat",
                                    precision, "id, "), pts=PTS)
    return got, want


def _geohash_decode(spark, precision):
    enc = with_geohash(spark.createDataFrame(PTS), "lon", "lat", precision)
    ghs = enc.select("id", "geohash").toPandas()
    bounds = ["lon_lo", "lat_lo", "lon_hi", "lat_hi"]
    got = _spark(with_geohash_bounds(spark.createDataFrame(ghs), "geohash",
                                     precision), bounds)
    want = _duck(geohash_decode_oracle_sql("SELECT * FROM ghs", "geohash",
                                           precision, "id, "), ghs=ghs)
    return got, want


def _tile(spark, zoom):
    got = _spark(tile_assign(spark.createDataFrame(PTS), "lon", "lat", zoom),
                 ["tile_x", "tile_y"])
    tx, ty = tile_assign_oracle_sql("lon", "lat", zoom)
    want = _duck(f"SELECT id, {tx}, {ty} FROM pts", pts=PTS)
    return got, want


def _quadkey(spark, zoom=12):
    tiles = tile_assign(spark.createDataFrame(PTS), "lon", "lat", zoom)
    dx, dy = quadkey_decode_exprs(zoom, "quadkey")
    got = _spark(tiles.withColumn("quadkey", quadkey_expr(zoom, "tile_x",
                                                          "tile_y"))
                 .select("id", "quadkey", dx.alias("dx"), dy.alias("dy")),
                 ["quadkey", "dx", "dy"])
    tx, ty = tile_assign_oracle_sql("lon", "lat", zoom)
    qk = quadkey_oracle_sql(zoom, "tx", "ty")
    ox, oy = quadkey_decode_oracle_sql(zoom, "quadkey")
    want = _duck(f"""SELECT id, quadkey, {ox}, {oy} FROM (
                       SELECT id, {qk} AS quadkey FROM (
                         SELECT id, {tx} AS tx, {ty} AS ty FROM pts))""",
                 pts=PTS)
    return got, want


CASES = {
    **{f"cell{lv}": (lambda s, lv=lv: _cell(s, lv)) for lv in (6, 10, 14, 26)},
    "zkey": _zkey,
    "hkey": _hkey,
    **{f"geohash{p}": (lambda s, p=p: _geohash(s, p)) for p in (1, 8, 9, 12)},
    **{f"geohash_decode{p}": (lambda s, p=p: _geohash_decode(s, p))
       for p in (1, 8, 9, 12)},
    **{f"tile{z}": (lambda s, z=z: _tile(s, z)) for z in (0, 6, 12)},
    "quadkey": _quadkey,
}


@pytest.mark.parametrize("codec", list(CASES))
def test_spark_and_duckdb_render_identical_keys(spark, codec):
    got, want = CASES[codec](spark)
    assert len(got) == len(PTS)
    assert got == want

