"""Geohash encoding (PostGIS ``ST_GeoHash`` analog) as pure-JVM column
math -- no UDF, whole-stage codegen end to end.

Geohash (public spec, Niemeyer 2008; also PostGIS ST_GeoHash,
postgis/lwgeom_export.c) interleaves quantized longitude/latitude bits --
starting with longitude -- and renders 5-bit groups in a base-32 alphabet
that omits a,i,l,o.  Cell prefixes nest: the first p characters of a
(p+1)-char geohash are the parent cell, so geohash columns range-partition
and prefix-rollup exactly like the engine's S2-style cells
(spatial/cells.py), with string ordering = Z-order locality.

Implementation: quantize ``lon_q = floor((lon+180) * (2^b_lon/360))``
(clamped), likewise lat; Morton-interleave the halves
(``cells.interleave_sql``: lon in the high position for an even bit
count, lat for an odd one); slice 5-bit groups into alphabet chars.
Decode folds the chars back with ``instr``/``substring``, gathers every
other bit into each half and scales to exact dyadic bounds.

Cross-engine exactness (oracle policy): the quantization is one add and
one multiply of IEEE doubles -- deterministic, identical in Spark and
DuckDB when written in the same operation order (no sums, no
transcendentals); everything after the floor is integer bit arithmetic.
Encode and decode are each one stage list of SQL strings that Spark
(``with_geohash``/``with_geohash_bounds``) and the DuckDB oracle
(``geohash_oracle_sql``/``geohash_decode_oracle_sql``) both render.

100 TB shape: a handful of staged projections per row, zero shuffles,
zero Python; the output column is a natural range-partitioning /
clustering key (``repartitionByRange(geohash)`` co-locates spatial
neighborhoods for downstream joins, same as cluster_by_cell).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .cells import interleave_sql, render_duckdb, render_spark
from .gazetteer import sql_double

BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _bits(precision: int) -> tuple[int, int]:
    """(lon bits, lat bits) of a ``precision``-char geohash; lon takes the
    first (most significant) bit, so it gets the extra one of an odd
    total."""
    if not 1 <= precision <= 12:
        raise ValueError("precision must be in [1, 12]")
    total = 5 * precision
    return (total + 1) // 2, total // 2


def geohash_stages(lon: str, lat: str, precision: int = 9,
                   out: str = "geohash") -> list:
    """Geohash of ``precision`` chars (<= 12): quantize, interleave, and
    read 5-bit groups out as base-32 chars.

    Interleave MSB-first starting with lon. Working LSB-up: for an even
    total the last (LSB) bit is lat[0], so lon is the high half; for an
    odd total lon has one extra bit and the LSB is lon[0], so lat is."""
    b_lon, b_lat = _bits(precision)

    def quant(expr, shift, span, b):
        k = sql_double((1 << b) / span)
        q = f"floor((({expr}) + {sql_double(shift)}) * {k})"
        return f"CAST(least({(1 << b) - 1}, greatest(0, {q})) AS BIGINT)"

    hi, lo = ("__ghx", "__ghy") if b_lon == b_lat else ("__ghy", "__ghx")
    chars = " || ".join(
        f"substring('{BASE32}', "
        f"CAST(((__ghh >> {5 * (precision - 1 - c)}) & 31) + 1 AS INT), 1)"
        for c in range(precision))
    return [{"__ghx": quant(lon, 180.0, 360.0, b_lon),
             "__ghy": quant(lat, 90.0, 180.0, b_lat)},
            {"__ghh": interleave_sql(hi, lo, b_lon)},
            {out: chars}]


def with_geohash(df: DataFrame, lon_col: str, lat_col: str,
                 precision: int = 9, out_col: str = "geohash") -> DataFrame:
    """df -> df + geohash column (Spark rendering of ``geohash_stages``:
    one projection per stage, pure JVM)."""
    return render_spark(df, geohash_stages(lon_col, lat_col, precision,
                                           out_col), [out_col])


def geohash_oracle_sql(table_sql: str, lon: str, lat: str,
                       precision: int = 9,
                       extra_cols: str = "") -> str:
    """DuckDB rendering of ``geohash_stages`` over ``table_sql``:
    ``extra_cols`` (e.g. ``"url, "``) plus ``geohash``."""
    staged = render_duckdb(f"({table_sql}) __ghsrc",
                           geohash_stages(lon, lat, precision), ["geohash"])
    return f"SELECT {extra_cols} geohash FROM ({staged})"


# -- decode (inverse codec) ---------------------------------------------------

def geohash_bounds_stages(gh: str, precision: int = 9) -> list:
    """Geohash DECODE (the inverse codec; PostGIS ST_GeomFromGeoHash /
    ST_Box2dFromGeoHash analog): the cell bounds (lon_lo, lat_lo, lon_hi,
    lat_hi) of a ``precision``-char geohash.

    The chars fold to the 5p-bit interleaved value (one unrolled
    ``instr`` lookup per char), each half gathers back every other bit,
    and the bounds come out EXACT -- the cell width 360/2^b_lon is a
    dyadic multiple of 45, so quantized*width and the -180 shift are exact
    double arithmetic (every output bit deterministic cross-engine)."""
    b_lon, b_lat = _bits(precision)
    fold = " + ".join(
        f"(CAST(instr('{BASE32}', substring({gh}, {c + 1}, 1)) AS BIGINT)"
        f" - 1) * {32 ** (precision - 1 - c)}" for c in range(precision))
    x_at, y_at = (1, 0) if b_lon == b_lat else (0, 1)

    def gather(at, bits):
        terms = (f"(((__dh >> {2 * b + at}) & 1) << {b})" for b in range(bits))
        return "(" + " | ".join(terms) + ")"

    wlon = sql_double(360.0 / (1 << b_lon))
    wlat = sql_double(180.0 / (1 << b_lat))
    return [{"__dh": f"({fold})"},
            {"__dx": gather(x_at, b_lon), "__dy": gather(y_at, b_lat)},
            {"lon_lo": f"__dx * {wlon} - 1.8e2",
             "lat_lo": f"__dy * {wlat} - 9.0e1",
             "lon_hi": f"(__dx + 1) * {wlon} - 1.8e2",
             "lat_hi": f"(__dy + 1) * {wlat} - 9.0e1"}]


_BOUNDS = ["lon_lo", "lat_lo", "lon_hi", "lat_hi"]


def with_geohash_bounds(df: DataFrame, gh_col: str = "geohash",
                        precision: int = 9) -> DataFrame:
    """df -> df + the cell bounds of each geohash (Spark rendering of
    ``geohash_bounds_stages``). Zero shuffle, zero Python."""
    return render_spark(df, geohash_bounds_stages(gh_col, precision), _BOUNDS)


def geohash_decode_oracle_sql(table_sql: str, gh_expr: str,
                              precision: int = 9,
                              extra_cols: str = "") -> str:
    """DuckDB rendering of ``geohash_bounds_stages`` over ``table_sql``:
    ``extra_cols`` plus the four bounds."""
    staged = render_duckdb(f"({table_sql}) __gdsrc",
                           geohash_bounds_stages(f"({gh_expr})", precision),
                           _BOUNDS)
    return f"SELECT {extra_cols} {', '.join(_BOUNDS)} FROM ({staged})"
