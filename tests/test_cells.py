"""Property tests for the S2-style cell index: hierarchy prefix, range
contiguity, neighbor symmetry, covering completeness (SURVEY.md §7 hard parts:
'get the hierarchy/prefix property right or range partitioning silently
degrades')."""

import numpy as np

from spatial.cells import (
    MAX_LEVEL,
    cell_center_lonlat,
    cell_face,
    cell_from_lonlat,
    cell_ij,
    cell_level,
    cell_parent,
    cell_range,
    cell_ring,
    cell_size_degrees,
    cover_bbox,
    level_for_extent,
    make_cell_of,
    make_neighbors_disk,
    neighbors_disk,
)

RNG = np.random.default_rng(42)
N = 5000
LON = RNG.uniform(-180, 180, N)
LAT = RNG.uniform(-90, 90, N)


def test_cell_fields_roundtrip():
    for level in (0, 1, 4, 10, 20, MAX_LEVEL):
        c = cell_from_lonlat(LON, LAT, level)
        assert (cell_level(c) == level).all()
        assert ((cell_face(c) >= 0) & (cell_face(c) <= 5)).all()
        # ids fit in a positive int64 (Spark LongType)
        assert (c < np.uint64(1) << np.uint64(60)).all()


def test_center_within_cell():
    level = 12
    c = cell_from_lonlat(LON, LAT, level)
    lon2, lat2 = cell_center_lonlat(c)
    c2 = cell_from_lonlat(lon2, lat2, level)
    assert (c == c2).all()


def test_parent_prefix_property():
    child = cell_from_lonlat(LON, LAT, 16)
    for pl in (0, 4, 8, 12, 16):
        par = cell_parent(child, pl)
        direct = cell_from_lonlat(LON, LAT, pl)
        assert (par == direct).all(), pl


def test_descendant_range_contiguity():
    par = cell_from_lonlat(LON, LAT, 6)
    lo, hi = cell_range(par)
    for lvl in (6, 9, 14):
        child = cell_from_lonlat(LON, LAT, lvl)
        assert (child >= lo).all() and (child <= hi).all()
    # points in a DIFFERENT level-6 cell fall outside that cell's range
    fine = cell_from_lonlat(LON, LAT, 14)
    outside = cell_parent(fine, 6) != par
    assert not ((fine >= lo) & (fine <= hi) & outside).any()


def test_neighbors_disk_contains_self_and_is_symmetric():
    level = 8
    c = cell_from_lonlat(LON[:300], LAT[:300], level)
    disks = neighbors_disk(c, 1)
    as_sets = {int(x): set(int(v) for v in d) for x, d in zip(c, disks)}
    for x, d in zip(c, disks):
        assert int(x) in set(int(v) for v in d)
        assert (cell_level(d) == level).all()
    # symmetry: if b in disk(a), then a in disk(b) — spot check across seams
    sample = list(as_sets.items())[:50]
    for a, dset in sample:
        back = neighbors_disk(np.asarray(sorted(dset), dtype=np.uint64), 1)
        for b, bd in zip(sorted(dset), back):
            assert a in set(int(v) for v in bd), (a, b)


def test_neighbors_cross_face_seam():
    # a point on a face boundary must still get a full >= 3x3-ish disk
    lon = np.asarray([45.0, -45.0, 135.0, 0.0])  # 45 deg lon = face seam
    lat = np.asarray([0.0, 0.0, 0.0, 90.0])      # pole = corner of 4 faces
    c = cell_from_lonlat(lon, lat, 6)
    disks = neighbors_disk(c, 1)
    for d in disks:
        assert len(d) >= 7  # dedup may drop a couple at corners, never half


def test_cell_ring_disjoint():
    c = cell_from_lonlat(LON[:50], LAT[:50], 8)
    r0 = cell_ring(c, 0)
    r1 = cell_ring(c, 1)
    r2 = cell_ring(c, 2)
    for a, b, cc in zip(r0, r1, r2):
        assert len(np.intersect1d(a, b)) == 0
        assert len(np.intersect1d(b, cc)) == 0


def test_cover_bbox_complete():
    # every point inside the bbox must land in a covered cell
    level = 8
    for (x0, y0, x1, y1) in [(-118.5, 33.5, -117.5, 34.5),
                             (10.0, 45.0, 14.0, 48.0),
                             (44.0, -1.0, 46.0, 1.0),  # face seam
                             (179.0, -10.0, -179.0, 10.0)]:  # antimeridian
        cover = set(int(v) for v in cover_bbox(x0, y0, x1, y1, level))
        if x0 > x1:
            px = np.where(RNG.random(2000) < 0.5,
                          RNG.uniform(x0, 180, 2000), RNG.uniform(-180, x1, 2000))
        else:
            px = RNG.uniform(x0, x1, 2000)
        py = RNG.uniform(y0, y1, 2000)
        pc = cell_from_lonlat(px, py, level)
        missing = [int(v) for v in pc if int(v) not in cover]
        assert not missing


def test_level_for_extent_monotonic():
    assert level_for_extent(90.0) < level_for_extent(1.0) < level_for_extent(0.01)
    assert 0 <= level_for_extent(360.0) <= MAX_LEVEL


def test_cell_size_bound():
    # two points farther apart than 3 cells cannot share a cell
    level = 10
    d = 3 * cell_size_degrees(level)
    a = cell_from_lonlat(np.asarray([10.0]), np.asarray([10.0]), level)
    b = cell_from_lonlat(np.asarray([10.0 + d]), np.asarray([10.0]), level)
    assert a[0] != b[0]


def test_spark_udfs(spark):
    import pandas as pd

    pdf = pd.DataFrame({"lon": LON[:500], "lat": LAT[:500]})
    df = spark.createDataFrame(pdf)
    cell_of = make_cell_of(10)
    nd = make_neighbors_disk(1)
    rows = (
        df.withColumn("cell", cell_of("lon", "lat"))
        .withColumn("disk", nd("cell"))
        .collect()
    )
    expect = cell_from_lonlat(LON[:500], LAT[:500], 10).astype(np.int64)
    got = np.asarray([r["cell"] for r in rows])
    assert (got == expect).all()
    for r in rows:
        assert r["cell"] in r["disk"]


def test_with_cell_matches_numpy_kernel(spark):
    """The pure-JVM staged cell pipeline (with_cell) is bit-identical to
    the NumPy kernel across grid + random points at several levels.
    Collected and compared in Python: a filter on the staged column
    would be pushed below the stages and inline them."""
    from pyspark.sql import functions as F

    from spatial.cells import with_cell

    df = spark.range(20000).select(
        ((F.col("id") * 7919 % 36000).cast("double") / 100.0 - 180.0).alias("lon"),
        ((F.col("id") * 104729 % 17000).cast("double") / 100.0 - 85.0).alias("lat"),
    ).union(spark.range(20000).select(
        (F.rand(3) * 360 - 180).alias("lon"), (F.rand(5) * 170 - 85).alias("lat")))
    levels = (6, 10, 14, 20)
    for level in levels:
        df = with_cell(df, "lon", "lat", level, f"c{level}")
    rows = df.collect()
    lon = np.array([r["lon"] for r in rows])
    lat = np.array([r["lat"] for r in rows])
    for level in levels:
        got = np.array([r[f"c{level}"] for r in rows], dtype=np.int64)
        want = cell_from_lonlat(lon, lat, level).astype(np.int64)
        assert (got == want).all(), (level, int((got != want).sum()))


def test_cover_bbox_batch_equals_scalar():
    """The vectorized batch cover (round 4: it feeds make_cover_cells, the
    polygon-side analog of with_cell) must produce the same cell SET as the
    scalar cover_bbox for every row -- mixed sizes, poles, antimeridian,
    NaN rows."""
    import numpy as np

    from spatial.cells import cover_bbox, cover_bbox_batch

    rng = np.random.default_rng(21)
    n = 400
    mnx = rng.uniform(-179, 178, n)
    mny = rng.uniform(-84, 82, n)
    mxx = np.minimum(mnx + rng.uniform(0.01, 4.0, n), 180.0)
    mxy = np.minimum(mny + rng.uniform(0.01, 4.0, n), 85.0)
    # splice in edge rows: NaN, antimeridian-crossing, degenerate point box,
    # and |lat| > 90 extents (ADVICE r4: ny must derive from the CLIPPED
    # extent in BOTH paths or the sample grids diverge here)
    mnx[0] = np.nan
    mnx[1], mxx[1] = 179.5, -179.5
    mnx[2] = mxx[2]
    mny[2] = mxy[2]
    mny[3], mxy[3] = -80.0, 95.0      # past the north clip
    mny[4], mxy[4] = -97.0, 88.0      # past the south clip
    mny[5], mxy[5] = -120.0, 120.0    # past both
    for level in (6, 8, 10):
        batch = cover_bbox_batch(mnx, mny, mxx, mxy, level)
        assert batch[0] is None
        for i in range(1, n):
            want = set(int(v) for v in cover_bbox(
                float(mnx[i]), float(mny[i]), float(mxx[i]), float(mxy[i]),
                level))
            got = set(int(v) for v in batch[i])
            assert got == want, (level, i)


# -- cover compaction ---------------------------------------------------------

def _py_compact(cells, level, rounds):
    """Independent driver-side reference of compact_cells."""
    from collections import Counter

    cur = set(int(c) for c in cells)
    out = set()
    for r in range(rounds):
        lvl = level - r
        if lvl < 1:
            break
        sh = 59 - 2 * lvl
        par = Counter(((c >> sh) << sh) | (lvl - 1) for c in cur)
        promoted = {p for p, n in par.items() if n == 4}
        out |= {c for c in cur
                if (((c >> sh) << sh) | (lvl - 1)) not in promoted}
        cur = promoted
    return out | cur


def test_compact_cells_matches_reference_and_preserves_region(spark):
    """compact_cells == the driver-side reference on a real cover, the
    compacted set is STRICTLY smaller, no complete 4-sibling group
    survives within the compaction depth, and the union of descendant id
    ranges is EXACTLY the original cover's (same region, fewer cells)."""
    import numpy as np

    from spatial.cells import cell_level, cell_range, compact_cells, cover_bbox

    lvl, rounds = 8, 3
    cov = cover_bbox(-5.0, 40.0, 3.0, 46.0, lvl)
    df = spark.createDataFrame([(1, int(c)) for c in cov],
                               "region_id long, cell long")
    got = sorted(r["cell"] for r in
                 compact_cells(df, level=lvl, rounds=rounds).collect())
    want = sorted(_py_compact(cov, lvl, rounds))
    assert got == want
    assert len(got) < len(cov)
    # no surviving complete sibling quad at any compacted level
    from collections import Counter
    for r in range(rounds):
        L = lvl - r
        sh = 59 - 2 * L
        at = [c for c in got if (c & 31) == L]
        assert not [p for p, n in Counter(
            ((c >> sh) << sh) for c in at).items() if n >= 4]
    # exact same region: every original leaf range is covered by some
    # compacted range, and the total id-span is unchanged
    def ranges(cells):
        lo, hi = cell_range(np.array(cells, dtype=np.uint64))
        return set((int(a), int(b)) for a, b in zip(lo, hi))
    orig = sorted(ranges([int(c) for c in cov]))
    comp = sorted(ranges(got))
    for a, b in orig:
        assert any(ca <= a and b <= cb for ca, cb in comp), (a, b)
    span_orig = sum(b - a + 1 for a, b in orig)
    span_comp = sum(b - a + 1 for a, b in comp)
    assert span_orig == span_comp


def test_compact_cells_oracle_parity(spark):
    import duckdb

    from spatial.cells import compact_cells, compact_cells_oracle_sql, cover_bbox

    lvl = 7
    rows = []
    for rid, box in [(1, (-5.0, 40.0, 3.0, 46.0)),
                     (2, (100.0, -10.0, 106.0, -4.0))]:
        rows += [(rid, int(c)) for c in cover_bbox(*box, lvl)]
    df = spark.createDataFrame(rows, "region_id long, cell long")
    got = sorted((r["region_id"], r["cell"]) for r in
                 compact_cells(df, level=lvl, rounds=3).collect())
    vals = ", ".join(f"({k}, {c})" for k, c in rows)
    cte = f"SELECT * FROM (VALUES {vals}) AS t(region_id, cell)"
    con = duckdb.connect()
    o = sorted(map(tuple, con.execute(
        compact_cells_oracle_sql(cte, level=lvl, rounds=3)).fetchall()))
    assert got == o
