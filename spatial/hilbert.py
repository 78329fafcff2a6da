"""Hilbert-curve storage-layout keys: the locality-optimal clustering
order for the 100-TB write path, beside spatial/zorder.py's Morton key.

Why a second layout key: Z-order is the cheap interleave but has long
diagonal seams (consecutive keys can be half a world apart at quadrant
boundaries), so a bbox predicate over Z-ranges reads extra files at the
seams. The Hilbert curve is unit-step continuous -- consecutive keys are
ALWAYS grid neighbors (pytest-proven by brute force below) -- which is why
large systems cluster by Hilbert when they can afford it (public
technique: Hilbert 1891; Faloutsos & Roseman PODS'89 on Hilbert vs
Z-order range fragmentation; S2's cell ids are themselves Hilbert
positions). Same mechanism as zorder.write_zordered: repartitionByRange +
sortWithinPartitions on the key -> parquet min/max stats prune scans.

Algorithm: the classical per-level quadrant walk (the public xy2d
recurrence): for each bit plane s = 2^(level-1) .. 1, the quadrant digit
is (3*rx) XOR ry and the frame rotates/flips. Everything is BIGINT
shift/mask/CASE arithmetic -- the XOR is spelled 3*rx + ry - 2*rx*ry
(identical truth table, pure mul/add), so both engines evaluate it with
no engine-specific bit builtins. The flip uses the full-width constant
(n-1-x), keeping every intermediate in [0, n) -- no negative values ever
reach a shift/mask (the s-1 variant goes negative mid-fold, where SQL
engines' >> semantics diverge).

Expression staging: each level rewrites (x, y, d) and references each of
them several times, so ``hkey_stages`` is one stage per bit plane;
Catalyst's CollapseProject keeps multiply-referenced non-cheap aliases
staged (the cells.with_cell rationale), so the expression tree stays
LINEAR in `level`, not exponential. Zero Python, whole-stage codegen end
to end.

Float-parity policy: quantization is ``cells.quantize_sql`` (the zorder
op order on integer-derived coords -- bit-identical doubles); everything
after is integer-exact. Spark and the DuckDB oracle render the same stage
list, so they evaluate the same SQL strings.

Reference scope note: the reference (haskell-postgis,
src/Database/Postgis/Serialize.hs) is a codec library with no storage
layer; this module is engine scale mandate (SURVEY.md section 2.3,
cell-prefix range partitioning lineage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .cells import quantize_sql, render_duckdb, render_spark


def hilbert_xy2d(level: int, x: int, y: int) -> int:
    """Driver-side reference implementation (tests brute-force adjacency
    and bijectivity against this; the column/SQL builders mirror it op
    for op)."""
    n = 1 << level
    d = 0
    s = n >> 1
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * (3 * rx + ry - 2 * rx * ry)  # == (3*rx) XOR ry
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s >>= 1
    return d


def hkey_stages(lon: str, lat: str, level: int = 12,
                out: str = "hkey") -> list:
    """``level``-bit quantization per axis, then one stage per bit plane
    rewriting (__hx, __hy, __hd) -- ``hilbert_xy2d`` op for op."""
    n = 1 << level
    stages = [{"__hx": quantize_sql(lon, -180.0, 360.0, n),
               "__hy": quantize_sql(lat, -90.0, 180.0, n),
               "__hd": "CAST(0 AS BIGINT)"}]
    for b in range(level - 1, -1, -1):
        rx, ry = f"((__hx >> {b}) & 1)", f"((__hy >> {b}) & 1)"
        mirror, flip = f"{ry} = 0 AND {rx} = 1", f"{ry} = 0"
        stages.append({
            "__hd": f"__hd + ((3 * {rx} + {ry} - 2 * {rx} * {ry}) << {2 * b})",
            "__hx": f"CASE WHEN {mirror} THEN {n - 1} - __hy "
                    f"WHEN {flip} THEN __hy ELSE __hx END",
            "__hy": f"CASE WHEN {mirror} THEN {n - 1} - __hx "
                    f"WHEN {flip} THEN __hx ELSE __hy END"})
    return stages + [{out: "__hd"}]


def with_hkey(df: DataFrame, lon_col: str, lat_col: str, level: int = 12,
              out_col: str = "hkey") -> DataFrame:
    """df -> df + Hilbert key column (Spark rendering of ``hkey_stages``).
    One narrow projection chain, no shuffle, no Python."""
    return render_spark(df, hkey_stages(lon_col, lat_col, level, out_col),
                        [out_col])


def hkey_oracle_sql(lon_sql: str, lat_sql: str, level: int = 12) -> str:
    """DuckDB rendering of ``hkey_stages`` over a relation ``__hi_in``:
    its rows plus ``hkey``."""
    return render_duckdb("__hi_in", hkey_stages(lon_sql, lat_sql, level),
                         ["hkey"])
