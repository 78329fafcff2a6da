import math

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spatial.tiles import tile_assign, tile_assign_oracle_sql


def _slippy(lon, lat, z):
    """Independent closed-form oracle (OSM wiki formula)."""
    n = 2 ** z
    lat = min(max(lat, -85.05112878), 85.05112878)
    tx = int(min(max(math.floor((lon + 180.0) / 360.0 * n), 0), n - 1))
    lr = math.radians(lat)
    ty = int(min(max(math.floor((1.0 - math.asinh(math.tan(lr)) / math.pi) / 2.0 * n), 0), n - 1))
    return tx, ty


def test_tile_assign_matches_formula(spark):
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({
        "lon": np.concatenate([rng.uniform(-180, 180, 500), [-180.0, 180.0, 0.0]]),
        "lat": np.concatenate([rng.uniform(-90, 90, 500), [90.0, -90.0, 0.0]]),
    })
    for z in (0, 4, 12):
        df = tile_assign(spark.createDataFrame(pdf), "lon", "lat", z)
        rows = df.select("lon", "lat", "tile_x", "tile_y").collect()
        for r in rows:
            tx, ty = _slippy(r["lon"], r["lat"], z)
            assert (r["tile_x"], r["tile_y"]) == (tx, ty), (r["lon"], r["lat"], z)


def test_oracle_sql_matches_spark(spark):
    """The DuckDB-oracle SQL text must agree with the Spark columns exactly
    (this is the same pairing the driver checks in CORRECTNESS_r{N}.json)."""
    rng = np.random.default_rng(12)
    pdf = pd.DataFrame({"lon": rng.uniform(-180, 180, 1000),
                        "lat": rng.uniform(-88, 88, 1000)})
    z = 10
    df = tile_assign(spark.createDataFrame(pdf), "lon", "lat", z)
    spark_rows = sorted((r["tile_x"], r["tile_y"]) for r in df.collect())
    txe, tye = tile_assign_oracle_sql("lon", "lat", z)
    duck = duckdb.connect()
    duck.register("pts", pdf)
    duck_rows = sorted(duck.sql(f"SELECT {txe} AS tx, {tye} AS ty FROM pts").fetchall())
    assert spark_rows == duck_rows


def test_tile_assign_stays_jvm_side(spark):
    """No Python/Arrow eval in the plan -- tile math must be codegen'd."""
    pdf = pd.DataFrame({"lon": [1.0], "lat": [2.0]})
    df = tile_assign(spark.createDataFrame(pdf), "lon", "lat", 8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_tile_cover_matches_per_point_assignment(spark):
    """Every tile that any vertex of the polygon maps to must appear in the
    polygon's tile_cover (bbox cover is a superset of vertex tiles)."""
    import math

    from spatial import polygon
    from spatial.geometry import GEOMETRY
    from spatial.tiles import tile_cover

    ring = [(-10.0, -5.0), (25.0, -5.0), (25.0, 20.0), (-10.0, 20.0),
            (-10.0, -5.0)]
    g = polygon([ring], srid=4326)
    from pyspark.sql.types import LongType, StructField, StructType
    df = spark.createDataFrame(
        [(1, g.as_row())],
        StructType([StructField("id", LongType()), StructField("geom", GEOMETRY)]))
    got = {(r["tile_x"], r["tile_y"])
           for r in tile_cover(df, "geom", 4).collect()}

    def slippy(lon, lat, z):
        n = 2 ** z
        tx = min(max(int(math.floor((lon + 180) / 360 * n)), 0), n - 1)
        lr = math.radians(max(min(lat, 85.05112878), -85.05112878))
        ty = min(max(int(math.floor(
            (1 - math.asinh(math.tan(lr)) / math.pi) / 2 * n)), 0), n - 1)
        return tx, ty

    for lon, lat in ring:
        assert slippy(lon, lat, 4) in got
    # cover is exactly the bbox tile rectangle
    txs = sorted({t[0] for t in got})
    tys = sorted({t[1] for t in got})
    assert txs == list(range(txs[0], txs[-1] + 1))
    assert tys == list(range(tys[0], tys[-1] + 1))
    assert len(got) == len(txs) * len(tys)


def test_tile_envelope_roundtrip_containment(spark):
    """tile_envelope_exprs inverts tile_assign: every point falls inside
    its assigned tile's envelope (west <= lon < east, south <= lat <=
    north up to the Mercator clamp), and longitudes are exact dyadic
    doubles (width == 360/2^z bit-exactly)."""
    from pyspark.sql import functions as F

    from spatial.tiles import tile_envelope_exprs, tile_x, tile_y

    pts = [(1, -0.1, 51.5), (2, 139.7, 35.7), (3, -179.9, -84.9),
           (4, 0.0, 0.0), (5, 179.9, 85.9)]  # 5: above the clamp
    df = spark.createDataFrame(pts, "i long, lon double, lat double")
    z = 6
    w, s, e, n = tile_envelope_exprs(z)
    out = {r["i"]: r for r in df.select(
        "i", "lon", "lat",
        F.expr(tile_x("lon", z)).alias("tile_x"),
        F.expr(tile_y("lat", z)).alias("tile_y"))
        .select("*", F.expr(w).alias("w"), F.expr(s).alias("s"),
                F.expr(e).alias("e"), F.expr(n).alias("n")).collect()}
    for i, lon, lat in pts:
        r = out[i]
        assert r["w"] <= lon < r["e"], (i, r)
        assert r["e"] - r["w"] == 360.0 / (1 << z)
        lat_c = min(max(lat, -85.05112878), 85.05112878)
        assert r["s"] - 1e-9 <= lat_c <= r["n"] + 1e-9, (i, r)


def _bing_quadkey(tx, ty, z):
    """Bing tile-system reference (TileXYToQuadKey) in plain Python."""
    digits = []
    for i in range(z, 0, -1):
        mask = 1 << (i - 1)
        digits.append(str((1 if tx & mask else 0) + (2 if ty & mask else 0)))
    return "".join(digits)


def test_quadkey_roundtrip_and_known_vector(spark):
    """Quadkey codec pair: the public Bing example (tile (3,5) at z=3 ->
    '213'), prefix nesting (a tile's z-1 parent key is its key minus the
    last char), and decode(encode(t)) == t for every tile of the z=4
    grid; encode equals the Bing reference there and on random and corner
    tiles at z=23."""
    from spatial.tiles import quadkey_decode_exprs, quadkey_expr

    df = spark.createDataFrame([(3, 5)], "tx long, ty long")
    assert df.select(quadkey_expr(3, "tx", "ty")
                     .alias("qk")).collect()[0]["qk"] == "213"

    z = 4
    grid = spark.createDataFrame(
        [(x, y) for x in range(1 << z) for y in range(1 << z)],
        "tx long, ty long")
    enc = grid.select(
        "tx", "ty",
        quadkey_expr(z, "tx", "ty").alias("qk"),
        quadkey_expr(z - 1, "tx >> 1", "ty >> 1").alias("parent_qk"))
    dx, dy = quadkey_decode_exprs(z, "qk")
    bad = enc.select(
        "tx", "ty", "qk", "parent_qk",
        dx.alias("rx"), dy.alias("ry")).where(
        (F.col("rx") != F.col("tx")) | (F.col("ry") != F.col("ty"))
        | (F.col("parent_qk") != F.substring("qk", 1, z - 1))).count()
    assert bad == 0
    assert all(r["qk"] == _bing_quadkey(r["tx"], r["ty"], z)
               for r in enc.collect())

    z, n = 23, 1 << 23
    rng = np.random.default_rng(7)
    tiles = [(0, 0), (n - 1, n - 1), (0, n - 1), (n - 1, 0)] + [
        (int(x), int(y)) for x, y in rng.integers(0, n, (200, 2))]
    dx, dy = quadkey_decode_exprs(z, "qk")
    rows = (spark.createDataFrame(tiles, "tx long, ty long")
            .withColumn("qk", quadkey_expr(z, "tx", "ty"))
            .select("tx", "ty", "qk", dx.alias("dx"), dy.alias("dy"))
            .collect())
    for r in rows:
        assert r["qk"] == _bing_quadkey(r["tx"], r["ty"], z), r
        assert (r["dx"], r["dy"]) == (r["tx"], r["ty"]), r
