"""S2-style hierarchical cell index, from scratch in vectorized uint64 NumPy.

No h3/s2 native libs exist in this environment (and the north star mandates
vectorized Arrow UDFs anyway), so this implements the published S2 geometry
construction directly: lon/lat -> unit-sphere xyz -> cube face (6 faces, by
largest-|component| axis, same face numbering as S2) -> per-face (u,v) ->
(i,j) quadtree coordinates -> bit-interleaved 64-bit cell id.

Deviations from Google S2, chosen deliberately and documented:

* **Morton (Z-order) instead of Hilbert** bit interleave. Both give the
  hierarchical prefix property (parent id = child id with trailing bits
  cleared), which is what range partitioning and parent/child pruning need;
  Hilbert only improves worst-case locality by a small constant. Morton
  vectorizes to 5 shift/mask ops per axis.
* **Linear st<->uv** instead of S2's quadratic area-equalizing transform:
  cell areas vary by at most ~5.2x across a face, irrelevant for join
  pruning, and the linear form keeps every kernel branch-free.

Cell id layout (64-bit unsigned, always < 2^60 so it is also a valid
positive Spark LongType):

    id = (face << 57) | (morton << (57 - 2*level)) | level

* face: 3 bits (0..5),
* morton: 2*level bits, i-bits in the odd (higher) positions,
* level: low 5 bits (0..MAX_LEVEL=26).

Because morton occupies the highest bits after face, **sorting by id sorts by
(face, spatial prefix)**: all descendants of a cell form one contiguous id
range (see ``cell_range``), which is what makes ``repartitionByRange("cell")``
equal cell-prefix locality partitioning (SURVEY.md §4.3).

One definition, two engines: every spatial key codec (cells here; z-order,
Hilbert, geohash and slippy tiles in their modules) is written once, as an
ordered list of stages, each a ``{column: SQL expression}`` dict.
``render_spark`` applies it as one projection per stage and
``render_duckdb`` as one nested SELECT per stage, so the Spark column and
the DuckDB oracle evaluate the same strings. ``quantize_sql`` and
``interleave_sql`` are the shared quantize and Morton bit-spread steps.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .gazetteer import sql_double

MAX_LEVEL = 26
_FACE_SHIFT = 57
_LEVEL_MASK = np.uint64(31)

_U64 = np.uint64


def _u(x) -> np.uint64:
    return np.uint64(x)


# ---------------------------------------------------------------------------
# sphere <-> cube face <-> ij
# ---------------------------------------------------------------------------

def xyz_from_lonlat(lon, lat):
    lon = np.radians(np.atleast_1d(np.asarray(lon, dtype=np.float64)))
    lat = np.radians(np.atleast_1d(np.asarray(lat, dtype=np.float64)))
    cl = np.cos(lat)
    return cl * np.cos(lon), cl * np.sin(lon), np.sin(lat)


def face_from_xyz(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    comp = np.choose(face, [x, y, z])
    return np.where(comp < 0, face + 3, face).astype(np.int64)


def uv_from_face_xyz(face, x, y, z):
    """Per-face gnomonic (u,v); valid S2 face functions (branchless select)."""
    with np.errstate(divide="ignore", invalid="ignore"):
        us = np.stack([y / x, -x / y, -x / z, z / x, z / y, -y / z])
        vs = np.stack([z / x, z / y, -y / z, y / x, -x / y, -x / z])
    idx = np.atleast_1d(np.asarray(face, dtype=np.int64))
    take = np.arange(len(idx))
    return us[idx, take], vs[idx, take]


def xyz_from_face_uv(face, u, v):
    face = np.asarray(face, dtype=np.int64)
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    one = np.ones_like(u)
    xs = np.stack([one, -u, -u, -one, v, v])
    ys = np.stack([u, one, -v, -v, -one, u])
    zs = np.stack([v, v, one, -u, -u, -one])
    take = np.arange(len(face))
    return xs[face, take], ys[face, take], zs[face, take]


def lonlat_from_xyz(x, y, z):
    norm = np.sqrt(x * x + y * y + z * z)
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arcsin(np.clip(z / norm, -1.0, 1.0)))
    return lon, lat


def ij_from_uv(u, v, level: int):
    n = 1 << level
    s = (np.asarray(u, dtype=np.float64) + 1.0) * 0.5
    t = (np.asarray(v, dtype=np.float64) + 1.0) * 0.5
    i = np.clip(np.floor(s * n), 0, n - 1).astype(np.int64)
    j = np.clip(np.floor(t * n), 0, n - 1).astype(np.int64)
    return i, j


def uv_center_from_ij(i, j, level: int):
    n = float(1 << level)
    u = 2.0 * (np.asarray(i, dtype=np.float64) + 0.5) / n - 1.0
    v = 2.0 * (np.asarray(j, dtype=np.float64) + 0.5) / n - 1.0
    return u, v


# ---------------------------------------------------------------------------
# Morton interleave
# ---------------------------------------------------------------------------

def _spread(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64)
    x = (x | (x << _u(16))) & _u(0x0000FFFF0000FFFF)
    x = (x | (x << _u(8))) & _u(0x00FF00FF00FF00FF)
    x = (x | (x << _u(4))) & _u(0x0F0F0F0F0F0F0F0F)
    x = (x | (x << _u(2))) & _u(0x3333333333333333)
    x = (x | (x << _u(1))) & _u(0x5555555555555555)
    return x


def _compact(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64) & _u(0x5555555555555555)
    x = (x | (x >> _u(1))) & _u(0x3333333333333333)
    x = (x | (x >> _u(2))) & _u(0x0F0F0F0F0F0F0F0F)
    x = (x | (x >> _u(4))) & _u(0x00FF00FF00FF00FF)
    x = (x | (x >> _u(8))) & _u(0x0000FFFF0000FFFF)
    x = (x | (x >> _u(16))) & _u(0x00000000FFFFFFFF)
    return x


def morton_encode(i, j):
    return (_spread(np.asarray(i)) << _u(1)) | _spread(np.asarray(j))


def morton_decode(m):
    m = np.asarray(m, dtype=np.uint64)
    return _compact(m >> _u(1)).astype(np.int64), _compact(m).astype(np.int64)


# ---------------------------------------------------------------------------
# cell ids
# ---------------------------------------------------------------------------

def cell_from_face_ij(face, i, j, level: int):
    face = np.asarray(face, dtype=np.uint64)
    m = morton_encode(i, j)
    return ((face << _u(_FACE_SHIFT))
            | (m << _u(_FACE_SHIFT - 2 * level))
            | _u(level))


def cell_from_xyz(x, y, z, level: int):
    face = face_from_xyz(x, y, z)
    u, v = uv_from_face_xyz(face, x, y, z)
    i, j = ij_from_uv(u, v, level)
    return cell_from_face_ij(face, i, j, level)


def cell_from_lonlat(lon, lat, level: int):
    """Vectorized lon/lat -> uint64 cell id at the given level."""
    return cell_from_xyz(*xyz_from_lonlat(lon, lat), level)


def cell_level(cell):
    return (np.asarray(cell, dtype=np.uint64) & _LEVEL_MASK).astype(np.int64)


def cell_face(cell):
    return (np.asarray(cell, dtype=np.uint64) >> _u(_FACE_SHIFT)).astype(np.int64)


def cell_ij(cell, level: int):
    c = np.asarray(cell, dtype=np.uint64)
    m = (c >> _u(_FACE_SHIFT - 2 * level)) & _u((1 << (2 * level)) - 1)
    return morton_decode(m)


def cell_parent(cell, parent_level: int):
    """Ancestor id at a coarser level (prefix truncation)."""
    c = np.asarray(cell, dtype=np.uint64)
    lvl = cell_level(c)
    if np.any(lvl < parent_level):
        raise ValueError("parent_level finer than cell level")
    face = c >> _u(_FACE_SHIFT)
    # shift out per-row (levels may differ): morton' = morton >> 2*(lvl-pl)
    m = np.zeros_like(c)
    for L in np.unique(lvl):
        sel = lvl == L
        mm = (c[sel] >> _u(_FACE_SHIFT - 2 * int(L))) & _u((1 << (2 * int(L))) - 1)
        m[sel] = mm >> _u(2 * (int(L) - parent_level))
    return ((face << _u(_FACE_SHIFT))
            | (m << _u(_FACE_SHIFT - 2 * parent_level))
            | _u(parent_level))


def cell_range(cell):
    """[lo, hi] inclusive id range containing every descendant (any level).

    This is the contiguity property that makes range partitioning on the id
    equal spatial-prefix partitioning."""
    c = np.asarray(cell, dtype=np.uint64)
    lvl = cell_level(c)
    lo = np.zeros_like(c)
    hi = np.zeros_like(c)
    for L in np.unique(lvl):
        sel = lvl == L
        shift = _u(_FACE_SHIFT - 2 * int(L))
        prefix = (c[sel] >> shift) << shift
        lo[sel] = prefix
        hi[sel] = prefix | _u((1 << int(shift)) - 1)
    return lo, hi


def cell_center_lonlat(cell):
    c = np.asarray(cell, dtype=np.uint64)
    lvl = cell_level(c)
    lon = np.zeros(len(c), dtype=np.float64)
    lat = np.zeros(len(c), dtype=np.float64)
    for L in np.unique(lvl):
        sel = lvl == L
        face = cell_face(c[sel])
        i, j = cell_ij(c[sel], int(L))
        u, v = uv_center_from_ij(i, j, int(L))
        x, y, z = xyz_from_face_uv(face, u, v)
        lon[sel], lat[sel] = lonlat_from_xyz(x, y, z)
    return lon, lat


def cell_size_degrees(level: int) -> float:
    """Lower bound on a cell's angular extent at the given level, degrees.

    d(theta)/du for u = tan(theta) is 1/(1+u^2) >= 1/2 on |u|<=1, so one cell
    (du = 2/2^L) spans at least (1/2^L) radians along the sphere."""
    return np.degrees(1.0 / (1 << level))


# ---------------------------------------------------------------------------
# neighborhoods (cross-face correct via uv extrapolation + renormalize)
# ---------------------------------------------------------------------------

def neighbors_disk(cell, k: int):
    """All cells with Chebyshev ij-distance <= k of each input cell
    ((2k+1)^2 per cell, deduplicated per row at face seams).

    Out-of-face (i,j) offsets are resolved by extrapolating the linear uv
    beyond [-1,1], mapping through the face's xyz chart (valid for any uv),
    renormalizing onto the sphere, and re-locating -- exact at face seams.
    Returns (n, <= (2k+1)^2) object array of per-row unique id lists."""
    c = np.asarray(cell, dtype=np.uint64)
    if len(c) == 0:
        return []
    lvl = cell_level(c)
    out = [None] * len(c)
    offs = [(di, dj) for di in range(-k, k + 1) for dj in range(-k, k + 1)]
    for L in np.unique(lvl):
        Li = int(L)
        n = 1 << Li
        sel = np.where(lvl == L)[0]
        face = cell_face(c[sel])
        i, j = cell_ij(c[sel], Li)
        ids = np.empty((len(sel), len(offs)), dtype=np.uint64)
        for t, (di, dj) in enumerate(offs):
            ii, jj = i + di, j + dj
            inb = (ii >= 0) & (ii < n) & (jj >= 0) & (jj < n)
            res = np.empty(len(sel), dtype=np.uint64)
            if inb.any():
                res[inb] = cell_from_face_ij(face[inb], ii[inb], jj[inb], Li)
            if (~inb).any():
                u, v = uv_center_from_ij(ii[~inb], jj[~inb], Li)
                x, y, z = xyz_from_face_uv(face[~inb], u, v)
                res[~inb] = cell_from_xyz(x, y, z, Li)
            ids[:, t] = res
        for r, row in zip(sel, ids):
            out[r] = np.unique(row)
    return out


def cell_ring(cell, k: int):
    """Ring k only (Chebyshev distance exactly k); ring 0 = the cell itself."""
    if k == 0:
        return [np.asarray([x], dtype=np.uint64) for x in np.asarray(cell, dtype=np.uint64)]
    disk_k = neighbors_disk(cell, k)
    disk_km1 = neighbors_disk(cell, k - 1)
    return [np.setdiff1d(a, b) for a, b in zip(disk_k, disk_km1)]


# ---------------------------------------------------------------------------
# bbox covering
# ---------------------------------------------------------------------------

def cover_bbox(minx: float, miny: float, maxx: float, maxy: float,
               level: int) -> np.ndarray:
    """Superset covering of a lon/lat bbox with cells at `level`.

    Dense-samples the box at < half the minimum cell angular size, takes the
    cell of every sample, then pads with each cell's 1-disk -- guaranteeing
    (sampling step < cell size, plus one-ring pad) that every cell whose
    interior intersects the box is present. Antimeridian boxes (minx > maxx)
    are split into two. Used for the join build side; the exact PIP refine
    removes any false positives, so over-coverage only costs candidates."""
    if minx > maxx:  # antimeridian crossing
        a = cover_bbox(minx, miny, 180.0, maxy, level)
        b = cover_bbox(-180.0, miny, maxx, maxy, level)
        return np.unique(np.concatenate([a, b]))
    step = 0.45 * cell_size_degrees(level)
    # ny from the lat-CLIPPED extent, matching cover_bbox_batch: deriving
    # it from the raw (maxy - miny) would make batch vs scalar sample grids
    # (and thus covers) diverge for boxes extending past +/-90 -- both
    # remain valid supersets, but the batch==scalar parity pin would break.
    lo_y = float(np.clip(miny, -90.0, 90.0))
    hi_y = float(np.clip(maxy, -90.0, 90.0))
    nx = max(2, int(np.ceil((maxx - minx) / step)) + 1)
    ny = max(2, int(np.ceil((hi_y - lo_y) / step)) + 1)
    gx = np.linspace(minx, maxx, nx)
    gy = np.linspace(lo_y, hi_y, ny)
    lon, lat = np.meshgrid(gx, gy)
    base = np.unique(cell_from_lonlat(lon.ravel(), lat.ravel(), level))
    padded = neighbors_disk(base, 1)
    return np.unique(np.concatenate([base] + list(padded)))


def _disk1_columns(cells: np.ndarray, level: int) -> list:
    """The 3x3 ij-neighborhood of each cell as 9 flat uint64 arrays (no
    per-row dedup -- callers union + unique in bulk). Same out-of-face
    resolution as neighbors_disk, restricted to one uniform level.

    All 9 offsets encode in ONE flattened cell_from_face_ij call (round-5
    profile: 9 separate Morton encodes paid _spread's fixed overhead 9x;
    batching trims ~10% off the whole cover at 100k bboxes -- the
    remaining cost is the two global lexsort-uniques over the ~10x padded
    stream, which are the algorithm, not overhead)."""
    n = 1 << level
    m = len(cells)
    face = cell_face(cells)
    i, j = cell_ij(cells, level)
    offs = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 0), (0, 1),
            (1, -1), (1, 0), (1, 1)]
    ii = np.concatenate([i + di for di, _ in offs])
    jj = np.concatenate([j + dj for _, dj in offs])
    ff = np.tile(face, 9)
    inb = (ii >= 0) & (ii < n) & (jj >= 0) & (jj < n)
    res = np.empty(9 * m, dtype=np.uint64)
    if inb.any():
        res[inb] = cell_from_face_ij(ff[inb], ii[inb], jj[inb], level)
    if (~inb).any():
        u, v = uv_center_from_ij(ii[~inb], jj[~inb], level)
        x, y, z = xyz_from_face_uv(ff[~inb], u, v)
        res[~inb] = cell_from_xyz(x, y, z, level)
    return [res[k * m:(k + 1) * m] for k in range(9)]


def cover_bbox_batch(minx, miny, maxx, maxy, level: int,
                     max_samples_per_row: int = 4096) -> list:
    """Vectorized cover_bbox over ROW ARRAYS: one flat cell_from_lonlat call
    for every sample of every row, one flat 1-disk pad, one global
    lexsort-unique -- zero per-row Python for the common case. Per-row
    guarantee is cover_bbox's (sampling step < half cell size + one-ring
    pad => every cell whose interior intersects the box is present).

    Rows that are antimeridian-crossing, non-finite, or would need more
    than max_samples_per_row samples fall back to the scalar cover_bbox
    (None/NaN rows yield None). Returns a list of uint64 arrays / None.

    Motivation (round 4): the per-row cover UDF cost ~1.8 ms/row, which
    dominated the polygon x polygon overlay join -- the polygon side's
    analog of the probe side's pure-JVM with_cell."""
    mnx = np.asarray(minx, dtype=np.float64)
    mny = np.asarray(miny, dtype=np.float64)
    mxx = np.asarray(maxx, dtype=np.float64)
    mxy = np.asarray(maxy, dtype=np.float64)
    n_rows = len(mnx)
    out: list = [None] * n_rows
    finite = (np.isfinite(mnx) & np.isfinite(mny)
              & np.isfinite(mxx) & np.isfinite(mxy))
    ok = finite & (mnx <= mxx)

    step = 0.45 * cell_size_degrees(level)
    lo_y = np.clip(mny, -90.0, 90.0)
    hi_y = np.clip(mxy, -90.0, 90.0)
    with np.errstate(invalid="ignore"):
        nx = np.maximum(2, np.where(finite, np.ceil((mxx - mnx) / step),
                                    2).astype(np.int64) + 1)
        ny = np.maximum(2, np.where(finite, np.ceil((hi_y - lo_y) / step),
                                    2).astype(np.int64) + 1)
    vec = ok & (nx * ny <= max_samples_per_row)

    # scalar fallbacks: antimeridian boxes and oversized sample grids
    for r in np.where(finite & ~vec)[0]:
        out[r] = cover_bbox(float(mnx[r]), float(mny[r]), float(mxx[r]),
                            float(mxy[r]), level)

    idxs = np.where(vec)[0]
    if len(idxs) == 0:
        return out
    counts = (nx * ny)[idxs]
    total = int(counts.sum())
    row_of = np.repeat(np.arange(len(idxs)), counts)
    offsets = np.concatenate([[0], np.cumsum(counts)[:-1]])
    s = np.arange(total) - np.repeat(offsets, counts)
    r = idxs[row_of]
    tx = s % nx[r]
    ty = s // nx[r]
    # linspace semantics: t * ((stop-start)/div) + start, endpoint forced
    with np.errstate(invalid="ignore", divide="ignore"):
        dx = (mxx[r] - mnx[r]) / (nx[r] - 1)
        dy = (hi_y[r] - lo_y[r]) / (ny[r] - 1)
    lon = np.where(tx == nx[r] - 1, mxx[r], tx * dx + mnx[r])
    lat = np.where(ty == ny[r] - 1, hi_y[r], ty * dy + lo_y[r])
    base = cell_from_lonlat(lon, lat, level)

    # dedupe (row, base cell) BEFORE the 9x pad: adjacent samples share
    # cells (sampling step is < half a cell), so this cuts the padded
    # volume ~4x before the expensive ij->morton re-encodes
    border = np.lexsort((base, r))
    rb, cb = r[border], base[border]
    first = np.empty(len(rb), dtype=bool)
    first[0] = True
    first[1:] = (rb[1:] != rb[:-1]) | (cb[1:] != cb[:-1])
    r, base = rb[first], cb[first]

    all_cells = np.concatenate(_disk1_columns(base, level) + [base])
    all_rows = np.tile(r, 10)
    order = np.lexsort((all_cells, all_rows))
    sr = all_rows[order]
    sc = all_cells[order]
    keep = np.empty(len(sr), dtype=bool)
    keep[0] = True
    keep[1:] = (sr[1:] != sr[:-1]) | (sc[1:] != sc[:-1])
    kr = sr[keep]
    kc = sc[keep]
    bounds = np.searchsorted(kr, idxs)
    ends = np.searchsorted(kr, idxs, side="right")
    for pos, row in enumerate(idxs):
        out[row] = kc[bounds[pos]:ends[pos]]
    return out


def level_for_extent(extent_degrees: float, target_cells_per_axis: int = 8) -> int:
    """Coarsest level at which an extent spans about target_cells_per_axis."""
    if extent_degrees <= 0:
        return MAX_LEVEL
    lvl = int(np.floor(np.log2(np.degrees(1.0) * target_cells_per_axis
                               / max(extent_degrees, 1e-12))))
    return int(np.clip(lvl, 0, MAX_LEVEL))


# ---------------------------------------------------------------------------
# one definition, two engines: staged SQL key codecs
# ---------------------------------------------------------------------------

def quantize_sql(expr: str, lo: float, span: float, n: int) -> str:
    """floor((expr - lo) / span * n) clamped to [0, n-1] as BIGINT: one
    subtract, one divide, one multiply, one floor, in that order. Literals
    are DOUBLE (``sql_double``); a plain ``180.0`` types as DECIMAL."""
    q = (f"floor((({expr}) - ({sql_double(lo)})) / {sql_double(span)}"
         f" * {sql_double(n)})")
    return f"CAST(least(greatest({q}, 0), {n - 1}) AS BIGINT)"


def interleave_sql(hi: str, lo: str, bits: int) -> str:
    """Morton interleave of the low ``bits`` bits of two BIGINT
    expressions: bit b of ``hi`` lands at 2b+1, bit b of ``lo`` at 2b
    (``morton_encode``'s (i, j) convention). Every operator is
    parenthesized: the engines rank ``<<``, ``&`` and ``|`` differently."""
    if bits == 0:
        return "CAST(0 AS BIGINT)"
    terms = []
    for b in range(bits):
        terms.append(f"((({hi}) >> {b}) & 1) << {2 * b + 1}")
        terms.append(f"((({lo}) >> {b}) & 1) << {2 * b}")
    return "(" + " | ".join(f"({t})" for t in terms) + ")"


def _staged(stages: list, out) -> set:
    return {c for stage in stages for c in stage} - set(out)


def render_spark(df, stages: list, out):
    """Spark rendering of a stage list (each stage a ``{column: SQL}``
    dict): one ``withColumns`` projection of ``F.expr`` columns per stage,
    then every staged column not in ``out`` dropped."""
    from pyspark.sql import functions as F

    for stage in stages:
        df = df.withColumns({c: F.expr(e) for c, e in stage.items()})
    return df.drop(*_staged(stages, out))


def render_duckdb(source: str, stages: list, out) -> str:
    """DuckDB rendering of the same list: one nested ``SELECT *, ...`` per
    stage over the FROM item ``source`` (``* REPLACE`` for a column an
    earlier stage made), then the staged columns not in ``out`` excluded."""
    frm, made = source, set()
    for stage in stages:
        rep = ", ".join(f"{e} AS {c}" for c, e in stage.items() if c in made)
        cols = [f"* REPLACE ({rep})" if rep else "*"]
        cols += [f"{e} AS {c}" for c, e in stage.items() if c not in made]
        frm = f"(SELECT {', '.join(cols)} FROM {frm})"
        made.update(stage)
    drop = ", ".join(sorted(_staged(stages, out)))
    return f"SELECT * EXCLUDE ({drop}) FROM {frm}"


def cell_stages(lon: str, lat: str, level: int, out: str = "cell") -> list:
    """cell_from_lonlat as five SQL stages, step for step with the NumPy
    kernel: xyz -> face0 -> face -> (i, j) -> Morton cell id.

    Each stage is one projection over named columns. One flat expression
    would copy the trig/branch subtree into every bit of the Morton fold
    (~20x), costing seconds of analysis and codegen per query; Catalyst's
    CollapseProject keeps multiply-referenced non-cheap aliases staged.

    Float parity: mul/div/trig in the kernel's order; the only
    discretization, floor((u + 1) / 2 * n), is clamp-protected at the +-1
    face edges (dividing by 2 is the kernel's exact * 0.5). Bit-identical
    to the NumPy kernel (tests/test_cells.py)."""
    n = 1 << level
    lr, br = f"radians({lon})", f"radians({lat})"
    x, y, z, f0, face = "__co_x", "__co_y", "__co_z", "__co_f0", "__co_face"

    def by_face(*cases):
        whens = " ".join(f"WHEN {k} THEN {e}" for k, e in enumerate(cases[:5]))
        return f"CASE {face} {whens} ELSE {cases[5]} END"

    u = by_face(f"{y} / {x}", f"-{x} / {y}", f"-{x} / {z}",
                f"{z} / {x}", f"{z} / {y}", f"-{y} / {z}")
    v = by_face(f"{z} / {x}", f"{z} / {y}", f"-{y} / {z}",
                f"{y} / {x}", f"-{x} / {y}", f"-{x} / {z}")
    morton = interleave_sql("__co_i", "__co_j", level)
    return [
        {x: f"cos({br}) * cos({lr})", y: f"cos({br}) * sin({lr})",
         z: f"sin({br})"},
        {f0: f"CASE WHEN abs({x}) >= abs({y}) "
             f"THEN (CASE WHEN abs({x}) >= abs({z}) THEN 0 ELSE 2 END) "
             f"ELSE (CASE WHEN abs({y}) >= abs({z}) THEN 1 ELSE 2 END) END"},
        {face: f"CASE WHEN (CASE {f0} WHEN 0 THEN {x} WHEN 1 THEN {y} "
               f"ELSE {z} END) < 0 THEN {f0} + 3 ELSE {f0} END"},
        {"__co_i": quantize_sql(u, -1.0, 2.0, n),
         "__co_j": quantize_sql(v, -1.0, 2.0, n)},
        {out: f"((CAST({face} AS BIGINT) << {_FACE_SHIFT})"
              f" | ({morton} << {_FACE_SHIFT - 2 * level}) | {level})"},
    ]


def cell_of_oracle_sql(lon_sql: str, lat_sql: str, level: int,
                       source: str = "events",
                       extra_cols: str = "") -> str:
    """DuckDB rendering of ``cell_stages`` over ``source``: a query
    yielding columns cell plus ``extra_cols``."""
    ec = f", {extra_cols}" if extra_cols else ""
    staged = render_duckdb(source, cell_stages(lon_sql, lat_sql, level), ["cell"])
    return f"SELECT cell{ec} FROM ({staged})"


def with_cell(df, lon_col: str, lat_col: str, level: int,
              out_col: str = "cell"):
    """df -> df + pure-JVM cell-id column: the Spark rendering of
    ``cell_stages`` (whole-stage codegen, zero Python)."""
    return render_spark(df, cell_stages(lon_col, lat_col, level, out_col),
                        [out_col])


# ---------------------------------------------------------------------------
# Spark UDF layer
# ---------------------------------------------------------------------------

def make_cell_of(level: int):
    """pandas_udf (lon, lat) -> cell id at a fixed level (LongType)."""

    @pandas_udf(LongType())
    def cell_of(lon: pd.Series, lat: pd.Series) -> pd.Series:
        ids = cell_from_lonlat(lon.to_numpy(np.float64), lat.to_numpy(np.float64), level)
        return pd.Series(ids.astype(np.int64))

    return cell_of


def make_cell_parent(parent_level: int):
    @pandas_udf(LongType())
    def cell_parent_udf(cell: pd.Series) -> pd.Series:
        p = cell_parent(cell.to_numpy(np.int64).astype(np.uint64), parent_level)
        return pd.Series(p.astype(np.int64))

    return cell_parent_udf


def make_neighbors_disk(k: int):
    @pandas_udf(ArrayType(LongType()))
    def neighbors_udf(cell: pd.Series) -> pd.Series:
        disks = neighbors_disk(cell.to_numpy(np.int64).astype(np.uint64), k)
        return pd.Series([d.astype(np.int64).tolist() for d in disks])

    return neighbors_udf


# ---------------------------------------------------------------------------
# cover compaction (S2 CellUnion normalization)
# ---------------------------------------------------------------------------

def compact_cells(df, level: int, rounds: int = 3,
                  key_cols=("region_id",), cell_col: str = "cell"):
    """S2-style CellUnion NORMALIZATION: every COMPLETE 4-sibling group in
    a per-key cover is replaced by its parent, cascading `rounds` levels
    up -- the index-engineering step that shrinks covers (fewer join
    candidates, shorter IN-lists, coarser range-partition pruning) while
    representing the EXACT same region (the union of descendant id ranges
    is invariant; pinned by test_compact_cells_*).

    Input: distinct single-`level` cells per key (what cover_bbox
    emits). Because the id layout is a prefix code ((face << 57) | morton
    | level, module docstring), "parent" is pure integer truncation:
        parent(c) = ((c >> (59 - 2L)) << (59 - 2L)) | (L - 1)
    so each round is ONE (key, parent)-keyed count aggregate plus an
    anti-join of the summary back onto the round's rows -- no geometry,
    no Python, summaries only; promoted parents (a 4x smaller stream)
    feed the next round. 100 TB: shuffles carry (key, cell) longs and
    shrink geometrically per round.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    keys = list(key_cols)
    parts = []
    cur = df.select(*keys, cell_col)
    for r in range(rounds):
        L = level - r
        if L < 1:
            break
        sh = 59 - 2 * L  # 57 - 2L morton bits dropped + the 2 sibling bits
        parent = (F.shiftleft(F.shiftright(F.col(cell_col), sh), sh)
                  .bitwiseOR(F.lit(L - 1)))
        tagged = cur.withColumn("__p", parent)
        full = (tagged.groupBy(*keys, "__p")
                .agg(F.count("*").alias("__n"))
                .where(F.col("__n") == 4)
                .select(*keys, "__p"))
        parts.append(tagged.join(full, keys + ["__p"], "left_anti")
                     .drop("__p"))
        cur = full.select(*keys, F.col("__p").alias(cell_col))
    parts.append(cur)
    return reduce(lambda a, b: a.unionByName(b), parts)


def compact_cells_oracle_sql(cells_cte: str, level: int, rounds: int = 3,
                             key_col: str = "region_id",
                             cell_col: str = "cell") -> str:
    """DuckDB replay of compact_cells: the identical integer truncation,
    per-round count/anti-join/promote chain, fully unrolled (the input
    level is a constant, so every shift is a literal)."""
    parts = []
    stages = [f"__r0 AS ({cells_cte})"]
    cur = "__r0"
    for r in range(rounds):
        L = level - r
        if L < 1:
            break
        sh = 59 - 2 * L
        p = f"((({cell_col} >> {sh}) << {sh}) | {L - 1})"
        stages.append(
            f"__g{r} AS (SELECT {key_col}, {p} AS p, COUNT(*) AS n "
            f"FROM {cur} GROUP BY 1, 2)")
        stages.append(
            f"__f{r} AS (SELECT {key_col}, p FROM __g{r} WHERE n = 4)")
        stages.append(
            f"__k{r} AS (SELECT c.{key_col}, c.{cell_col} FROM {cur} c "
            f"LEFT JOIN __f{r} f ON f.{key_col} = c.{key_col} "
            f"AND f.p = {p.replace(cell_col, 'c.' + cell_col)} "
            f"WHERE f.p IS NULL)")
        stages.append(
            f"__r{r + 1} AS (SELECT {key_col}, p AS {cell_col} "
            f"FROM __f{r})")
        parts.append(f"SELECT * FROM __k{r}")
        cur = f"__r{r + 1}"
    parts.append(f"SELECT * FROM {cur}")
    return ("WITH " + ",\n".join(stages) + "\n"
            + "\nUNION ALL\n".join(parts))
