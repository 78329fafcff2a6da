"""Z-order (Morton) storage-layout keys: multi-dimensional clustering for
the 100-TB write path.

At petabyte scale the dominant cost of a spatial workload is the SCAN, and
the scan is won or lost at write time: rows laid out in (lon, lat) Z-order
put spatially-near points in the same parquet files/row groups, so min/max
column statistics prune most of the table for any bbox/cell predicate --
the same mechanism as Delta Lake's OPTIMIZE ZORDER BY and Iceberg's
sort-order clustering, built here from first principles (public technique:
Morton 1966; Bayer's UB-tree).

Relationship to ``spatial/cells.py``: cell ids are S2-style face/uv quadkeys
used as JOIN keys; the z-key here is a plain equirectangular Morton
interleave used as a SORT/LAYOUT key. Both share the bit-interleave idea;
the z-key skips the cube-face projection because a layout key only needs
locality, not equal-area cells or ring arithmetic.

Reference scope note: the reference (haskell-postgis, src/Database/Postgis/
Serialize.hs) is a codec library with no storage layer; this module is part
of the engine's scale mandate (SURVEY.md section 2.3: cell-prefix range
partitioning).

Float-parity policy: the key is one stage list (``zkey_stages``:
``cells.quantize_sql`` per axis, then ``cells.interleave_sql``); Spark and
the DuckDB oracle evaluate the same SQL strings, so quantization (subtract
/ divide / multiply / floor in a fixed op order) is bit-identical on
integer-derived coordinates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cells import interleave_sql, quantize_sql, render_duckdb, render_spark


def zkey_stages(lon: str, lat: str, level: int = 12,
                out: str = "zkey") -> list:
    """(lon, lat) -> Z-order key: ``level``-bit quantization per axis,
    Morton-interleaved (lon bits in the odd/higher positions, matching
    cells.morton_encode's (i, j) convention). The quantized axes are
    staged as named columns: the fold references each ``level`` times."""
    n = 1 << level
    return [{"__zo_x": quantize_sql(lon, -180.0, 360.0, n),
             "__zo_y": quantize_sql(lat, -90.0, 180.0, n)},
            {out: interleave_sql("__zo_x", "__zo_y", level)}]


def with_zkey(df: DataFrame, lon_col: str, lat_col: str, level: int = 12,
              out_col: str = "zkey") -> DataFrame:
    """df -> df + z-key column (Spark rendering of ``zkey_stages``; pure
    JVM column math, whole-stage codegen, zero Python)."""
    return render_spark(df, zkey_stages(lon_col, lat_col, level, out_col),
                        [out_col])


def write_zordered(df: DataFrame, path: str, lon_col: str, lat_col: str,
                   level: int = 12, n_files: int = 8,
                   key_col: str = "zkey") -> None:
    """Write ``df`` as parquet clustered by z-key: repartitionByRange on
    the key (files own DISJOINT key ranges -> file-level skipping) +
    sortWithinPartitions (row groups within a file own narrow ranges ->
    row-group skipping via parquet min/max stats). This is the whole
    OPTIMIZE ZORDER mechanism; at 100 TB the reader's bbox predicate
    becomes a z-range union and the scan touches only overlapping files."""
    (with_zkey(df, lon_col, lat_col, level, key_col)
     .repartitionByRange(n_files, F.col(key_col))
     .sortWithinPartitions(key_col)
     .write.mode("overwrite").parquet(path))


def zkey_oracle_sql(lon_sql: str, lat_sql: str, level: int = 12) -> str:
    """DuckDB rendering of ``zkey_stages`` over a relation ``__zo_in``:
    its rows plus ``zkey``."""
    return render_duckdb("__zo_in", zkey_stages(lon_sql, lat_sql, level),
                         ["zkey"])
