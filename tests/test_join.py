"""Spatial join vs a pure-Python PIP oracle, broadcast AND salted paths
(salting correctness: no duplicated/lost rows -- SURVEY.md §7 hard parts)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spatial import polygon
from spatial.geometry import GEOMETRY
from spatial.join import detect_hot_cells, pick_level, prepare_regions, spatial_join
from spatial.kernels import pip_even_odd

RNG = np.random.default_rng(42)

# three overlapping-ish regions around "cities" + one with a hole
CITY_CENTERS = [(-118.24, 34.05), (2.35, 48.85), (139.69, 35.68)]


def _region_ring(cx, cy, r, n=12):
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    ring = [(float(cx + r * np.cos(a)), float(cy + r * np.sin(a))) for a in ang]
    ring.append(ring[0])
    return ring


def _make_regions():
    regs = []
    for i, (cx, cy) in enumerate(CITY_CENTERS):
        regs.append((i, polygon([_region_ring(cx, cy, 1.5)], srid=4326)))
    # region with a hole around LA
    regs.append((99, polygon([_region_ring(-118.24, 34.05, 3.0),
                              _region_ring(-118.24, 34.05, 0.5)], srid=4326)))
    return regs


def _make_points(n=4000):
    # Zipf-ish: 70% clustered on city 0 (hot), rest spread
    k = int(n * 0.7)
    cx, cy = CITY_CENTERS[0]
    hot = np.stack([RNG.normal(cx, 1.0, k), RNG.normal(cy, 1.0, k)], axis=1)
    rest = np.stack([RNG.uniform(-179, 179, n - k), RNG.uniform(-85, 85, n - k)], axis=1)
    pts = np.concatenate([hot, rest])
    return pd.DataFrame({"pid": np.arange(n), "x": pts[:, 0], "y": pts[:, 1]})


def _oracle_pairs(points_pdf, regions):
    out = set()
    for rid, g in regions:
        inside = pip_even_odd(points_pdf.x.to_numpy(), points_pdf.y.to_numpy(),
                              g.xs, g.ys, g.ring_offsets)
        for pid in points_pdf.pid.to_numpy()[inside]:
            out.add((int(pid), int(rid)))
    return out


@pytest.fixture(scope="module")
def fixtures(spark):
    regions = _make_regions()
    points_pdf = _make_points()
    regions_df = spark.createDataFrame(
        [(rid, g.as_row()) for rid, g in regions],
        schema="region_id long, geom struct<" + ",".join(
            f"{f.name}:{f.dataType.simpleString()}" for f in GEOMETRY.fields) + ">",
    )
    points_df = spark.createDataFrame(points_pdf)
    oracle = _oracle_pairs(points_pdf, regions)
    return regions_df, points_df, oracle


def test_broadcast_path_matches_oracle(spark, fixtures):
    regions_df, points_df, oracle = fixtures
    got = spatial_join(points_df, regions_df, x_col="x", y_col="y")
    pairs = {(r["pid"], r["region_id"]) for r in got.select("pid", "region_id").collect()}
    assert pairs == oracle


def test_salted_shuffle_path_matches_oracle(spark, fixtures):
    regions_df, points_df, oracle = fixtures
    got = spatial_join(points_df, regions_df, x_col="x", y_col="y",
                       broadcast_threshold=0, salt_buckets=4, salt_key="pid")
    pairs = {(r["pid"], r["region_id"]) for r in got.select("pid", "region_id").collect()}
    assert pairs == oracle  # salting must neither lose nor duplicate rows


def test_plain_shuffle_path_matches_oracle(spark, fixtures):
    regions_df, points_df, oracle = fixtures
    got = spatial_join(points_df, regions_df,
                       x_col="x", y_col="y", broadcast_threshold=0)
    pairs = {(r["pid"], r["region_id"]) for r in got.select("pid", "region_id").collect()}
    assert pairs == oracle


def test_broadcast_plan_has_no_points_shuffle(spark, fixtures):
    regions_df, points_df, _ = fixtures
    got = spatial_join(points_df, regions_df, x_col="x", y_col="y")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_hole_region_excludes_hole_points(spark, fixtures):
    regions_df, points_df, oracle = fixtures
    got = spatial_join(points_df, regions_df, x_col="x", y_col="y")
    pdf = got.where(F.col("region_id") == 99).toPandas()
    # no joined point may sit inside the hole (radius 0.5 around LA center)
    d = np.hypot(pdf.x.to_numpy() - -118.24, pdf.y.to_numpy() - 34.05)
    assert (d > 0.45).all()
    assert len(pdf) > 0


def test_pick_level_reasonable(spark, fixtures):
    regions_df, _, _ = fixtures
    lvl = pick_level(regions_df)
    assert 3 <= lvl <= 12


def test_detect_hot_cells(spark, fixtures):
    regions_df, points_df, _ = fixtures
    from spatial.cells import make_cell_of

    cell_of = make_cell_of(6)
    pwc = points_df.withColumn("cell", cell_of("x", "y"))
    hot = detect_hot_cells(pwc, threshold_ratio=0.05, sample_fraction=0.5)
    assert len(hot) >= 1  # the LA cluster must surface


def test_detect_hot_cells_is_deterministic(spark):
    """Same input, same hot set: the sample is seeded. 40 equally loaded
    cells each sit right at the 2.5% threshold, so an unseeded sample would
    flip about half of them between calls."""
    pwc = spark.range(0, 4000, 1, 4).select((F.col("id") % 40).alias("cell"))
    runs = [detect_hot_cells(pwc, threshold_ratio=0.025, sample_fraction=0.5)
            for _ in range(3)]
    assert runs[0] == runs[1] == runs[2]
    assert runs[0] == sorted(runs[0]) and 0 < len(runs[0]) < 40


def test_cluster_by_cell_ranges_disjoint(spark, fixtures):
    """Range partitioning on the cell id = spatial-prefix partitioning:
    every output partition must own a cell interval disjoint from all
    others (this is what makes files min/max-prunable on cell)."""
    from spatial.cells import make_cell_of
    from spatial.join import cluster_by_cell

    _, points_df, _ = fixtures
    cell_of = make_cell_of(8)
    pwc = points_df.withColumn("cell", cell_of("x", "y"))
    clustered = cluster_by_cell(pwc, "cell", num_partitions=4)
    ranges = (
        clustered.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.min("cell").alias("lo"), F.max("cell").alias("hi"),
             F.count("*").alias("n"))
        .collect()
    )
    assert sum(r["n"] for r in ranges) == points_df.count()  # nothing lost
    assert len(ranges) > 1  # actually split
    spans = sorted((r["lo"], r["hi"]) for r in ranges)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # disjoint, ordered intervals


def test_shuffle_refine_fallback_row_identity(spark):
    """broadcast_max_bytes=0 forces BOTH the candidate join off broadcast
    AND the geometry re-attach onto the region-id shuffle path; the result
    must be row-identical to the broadcast plan."""
    from spatial.ewkb import ewkb_decode
    from spatial.join import SpatialJoinPlan
    from spatial.pipeline import enrich_pages
    from spatial.synth import synth_pages, synth_regions

    regions = synth_regions(spark).withColumn(
        "geom", ewkb_decode("geom_hex")).select("region_id", "geom")
    pages = enrich_pages(synth_pages(spark, 3000), 12)
    base = SpatialJoinPlan(regions)
    assert base.use_broadcast and base.broadcast_geoms
    fb = SpatialJoinPlan(regions, broadcast_max_bytes=0)
    assert not fb.use_broadcast and not fb.broadcast_geoms
    want = sorted((r["url"], r["region_id"]) for r in
                  base.join(pages, x_col="lon", y_col="lat")
                  .select("url", "region_id").collect())
    got = sorted((r["url"], r["region_id"]) for r in
                 fb.join(pages, x_col="lon", y_col="lat")
                 .select("url", "region_id").collect())
    assert got == want and len(got) > 0
    base.unpersist(); fb.unpersist()


def test_left_join_with_null_columns(spark, fixtures):
    """how='left': every point comes back exactly once per matched region
    (or once with a null region_id), INCLUDING rows carrying null columns.
    Regression: the old column-list equality join silently dropped the
    match for any row with a null column (null = null is not true), so
    those rows came back region-less."""
    regions_df, points_df, oracle = fixtures
    pts = points_df.limit(500).withColumn(
        "note",
        F.when(F.col("pid") % 3 == 0, F.lit(None).cast("string"))
         .otherwise(F.concat(F.lit("n"), F.col("pid"))))
    got = spatial_join(pts, regions_df, x_col="x", y_col="y", how="left")
    rows = got.collect()
    kept_ids = {r["pid"] for r in pts.collect()}
    matched = {(r["pid"], r["region_id"]) for r in rows
               if r["region_id"] is not None}
    want = {(p, rid) for p, rid in oracle if p in kept_ids}
    assert matched == want, "left join must attach every oracle match"
    # the null-column rows must still match (the old-bug repro)
    null_note_matches = {p for p, _ in matched if p % 3 == 0}
    assert null_note_matches == {p for p, _ in want if p % 3 == 0}
    # unmatched points appear exactly once with a null region
    matched_ids = {p for p, _ in want}
    unmatched_rows = [r for r in rows if r["region_id"] is None]
    assert {r["pid"] for r in unmatched_rows} == kept_ids - matched_ids
    assert len(unmatched_rows) == len(kept_ids - matched_ids)
    # row accounting: one row per (pid, region) match + one per unmatched pid
    assert len(rows) == len(want) + len(kept_ids - matched_ids)


@pytest.mark.parametrize("kind", ["broadcast", "salted", "explicit_level"])
def test_plan_preparation_build_side(spark, fixtures, kind):
    """SpatialJoinPlan's one-decode preparation yields the auto-picked level
    and exactly the geometry-free cover-cells build side: one row per
    (region, covering cell) with the region's bbox, equal to a pure-Python
    replay of the bbox + cover_bbox_batch explode."""
    from spatial.cells import cover_bbox_batch
    from spatial.join import SpatialJoinPlan

    regions_df, _, _ = fixtures
    auto = pick_level(regions_df)
    kwargs = {"broadcast": {},
              "salted": {"broadcast_threshold": 0, "salt_buckets": 4},
              "explicit_level": {"level": auto + 1}}[kind]
    plan = SpatialJoinPlan(regions_df, **kwargs)
    try:
        assert plan.level == kwargs.get("level", auto)
        assert plan.use_broadcast == (kind != "salted")
        assert "__geom" not in plan.build.columns
        want = []
        for rid, g in _make_regions():
            bbox = tuple(float(v) for v in (min(g.xs), min(g.ys),
                                            max(g.xs), max(g.ys)))
            cover = cover_bbox_batch(*(np.asarray([v]) for v in bbox),
                                     plan.level)[0]
            want += [(rid, *bbox, int(c)) for c in cover.astype(np.int64)]
        got = [tuple(r) for r in plan.build.select(
            "region_id", "bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy",
            "cell").collect()]
        assert plan.n_build == len(want)
        assert sorted(got) == sorted(want)
    finally:
        plan.unpersist()
