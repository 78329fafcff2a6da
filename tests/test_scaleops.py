"""Round-3 scale operators: geohash vectors, Bloom-prefiltered semi-join
identity, salted-agg == plain-agg bit identity, PageRank exact mass
conservation + NumPy replay, count-min overestimate property, histogram
accounting, URL parsing, geometry editors, bbox IoU algebra."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatial.datapipe.bloomjoin import bloom_selectivity, bloom_semi_join
from spatial.datapipe.graph import pagerank, synth_edges
from spatial.datapipe.sketches import cm_estimate, cm_sketch, fixed_histogram
from spatial.datapipe.skew import salted_agg
from spatial.datapipe.urls import with_url_parts
from spatial.geohash import BASE32, with_geohash


# ---------------------------------------------------------------- geohash

# public vectors: geohash.org / Wikipedia examples
GH_VECTORS = [
    (10.40744, 57.64911, 11, "u4pruydqqvj"),   # Jutland (the spec example)
    (-5.60302, 42.60498, 5, "ezs42"),          # Niemeyer's original example
    (0.0, 0.0, 9, "s00000000"),
    (-179.9999, -89.9999, 6, "000000"),
    (179.9999, 89.9999, 6, "zzzzzz"),
]


@pytest.mark.parametrize("lon,lat,prec,want", GH_VECTORS)
def test_geohash_public_vectors(spark, lon, lat, prec, want):
    df = spark.createDataFrame([(lon, lat)], "lon double, lat double")
    got = with_geohash(df, "lon", "lat", prec).collect()[0]["geohash"]
    assert got == want


def _geohash_py(lon, lat, precision):
    """Textbook geohash: bisect the lon/lat intervals, one bit per step,
    starting with lon; 5 bits per base-32 char."""
    lo, hi = [-180.0, -90.0], [180.0, 90.0]
    bits = []
    for k in range(5 * precision):
        axis, v = (0, lon) if k % 2 == 0 else (1, lat)
        mid = (lo[axis] + hi[axis]) / 2
        if v >= mid:
            bits.append(1)
            lo[axis] = mid
        else:
            bits.append(0)
            hi[axis] = mid
    return "".join(
        BASE32[int("".join(map(str, bits[c:c + 5])), 2)]
        for c in range(0, len(bits), 5))


def test_with_geohash_matches_python_reference(spark):
    """with_geohash against the textbook bisection encoder over a few
    thousand random points, at an even (8) and an odd (9) bit count."""
    rng = np.random.default_rng(8)
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        zip(rng.uniform(-180, 180, 3000), rng.uniform(-90, 90, 3000)))]
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    for prec in (8, 9):
        got = {r["id"]: r["geohash"]
               for r in with_geohash(df, "lon", "lat", prec).collect()}
        assert got == {i: _geohash_py(x, y, prec) for i, x, y in pts}, prec


def test_geohash_prefix_hierarchy(spark):
    """First p chars of a (p+k)-char geohash = the p-char geohash (cell
    nesting -- what makes it a range-partitioning key)."""
    df = spark.range(100).select(
        ((F.col("id") * 11.0) % 360.0 - 180.0).alias("lon"),
        ((F.col("id") * 5.0) % 170.0 - 85.0).alias("lat"))
    out = with_geohash(with_geohash(df, "lon", "lat", 10, "g10"),
                       "lon", "lat", 4, "g4")
    for r in out.collect():
        assert r["g10"][:4] == r["g4"]


# ------------------------------------------------------------- bloom join

def test_bloom_semi_join_equals_plain(spark):
    probe = spark.range(5000).select(F.col("id").alias("k"),
                                     (F.col("id") * 3).alias("payload"))
    build = spark.range(100).select((F.col("id") * 13 + 7).alias("bk"))
    got = bloom_semi_join(probe, build, "k", "bk", m_bits=1 << 10, k=3)
    want = probe.join(build.select(F.col("bk").alias("k")).distinct(),
                      "k", "left_semi")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_bloom_no_false_negatives_and_selectivity(spark):
    probe = spark.range(4000).select(F.col("id").alias("k"))
    build = spark.range(50).select((F.col("id") * 77 + 3).alias("bk"))
    d = bloom_selectivity(probe, build, "k", "bk", m_bits=1 << 12, k=3)
    # every true match survives the prefilter, and the filter actually cuts
    assert d["bloom_pass"] >= d["true_matches"]
    assert d["bloom_pass"] < d["probe_rows"] // 2
    assert d["false_positives"] >= 0


# ------------------------------------------------------------- salted agg

def test_salted_agg_bit_identical_to_plain(spark):
    df = spark.range(3000).select(
        (F.col("id") % 7).alias("g"),
        F.col("id").alias("rid"),
        ((F.col("id") * 13 % 9999) / 100.0).alias("v"))
    salted = salted_agg(df, ["g"], "rid", sum_col="v", buckets=8)
    plain = df.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("total"),
        F.min(F.col("v").cast("decimal(18,2)")).cast("double").alias("v_min"),
        F.max(F.col("v").cast("decimal(18,2)")).cast("double").alias("v_max"))
    a = sorted(map(tuple, salted.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b           # bit-identical incl. the decimal-summed double


def test_salted_agg_count_only(spark):
    df = spark.range(1000).select((F.col("id") % 5).alias("g"),
                                  F.col("id").alias("rid"))
    got = {r["g"]: r["n"] for r in
           salted_agg(df, ["g"], "rid", buckets=4).collect()}
    assert got == {g: 200 for g in range(5)}


# --------------------------------------------------------------- pagerank

def test_pagerank_exact_mass_and_numpy_replay(spark):
    n = 400
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    edges = synth_edges(nodes, n_nodes=n)
    pr = pagerank(nodes, edges, iterations=3)
    rows = {r["doc_id"]: r["pagerank"] for r in pr.collect()}
    # no dangling nodes -> total mass is exactly N every iteration
    assert sum(rows.values()) == float(n)

    # NumPy replay of the same dyadic-exact iteration
    e = edges.collect()
    r = np.ones(n)
    for _ in range(3):
        s = np.zeros(n)
        for row in e:
            s[row["dst"]] += r[row["src"]] / row["outdeg"]
        r = 0.25 + 0.75 * s
    for i in range(n):
        assert rows[i] == r[i]          # bit-exact, not approx


def test_pagerank_partition_invariance(spark):
    n = 300
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    edges = synth_edges(nodes, n_nodes=n)
    a = pagerank(nodes.repartition(1), edges.repartition(1), iterations=2)
    b = pagerank(nodes.repartition(7), edges.repartition(5), iterations=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# -------------------------------------------------------------- sketches

def test_count_min_never_underestimates(spark):
    # zipf-ish: key k appears 1000 // (k+1) times
    df = spark.range(20).select(F.col("id").alias("k")).withColumn(
        "j", F.explode(F.sequence(
            F.lit(1),
            F.floor(F.lit(1000) / (F.col("k") + 1)).cast("int"))))
    sketch = cm_sketch(df, "k", d=4, w=256)
    cand = df.select("k").distinct()
    est = {r["k"]: r["est_count"]
           for r in cm_estimate(sketch, cand, "k", d=4, w=256).collect()}
    exact = {r["k"]: r["n"]
             for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    for k, n in exact.items():
        assert est[k] >= n          # CM overestimates, never under
    # sketch state is bounded
    assert sketch.count() <= 4 * 256


def test_fixed_histogram_accounts_for_every_row(spark):
    df = spark.range(1000).select(
        (((F.col("id") * 37) % 512) + 0.5).alias("v"))
    h = fixed_histogram(df, "v", lo=0.0, width=32.0, n_bins=16)
    rows = h.collect()
    assert sum(r["n"] for r in rows) == 1000
    for r in rows:
        assert 0 <= r["bin"] < 16
        assert r["bin_lo"] == r["bin"] * 32.0
        if 0 < r["bin"] < 15:       # interior bins: values inside the bin
            assert r["bin_lo"] <= r["v_min"] <= r["v_max"] < r["bin_lo"] + 32.0


def test_fixed_histogram_clamps_outliers(spark):
    df = spark.range(10).select((F.col("id") * 1000.0 - 2000.0).alias("v"))
    rows = fixed_histogram(df, "v", lo=0.0, width=32.0, n_bins=4).collect()
    bins = {r["bin"] for r in rows}
    assert bins <= {0, 1, 2, 3}
    assert sum(r["n"] for r in rows) == 10


# ------------------------------------------------------------------- urls

def test_url_parts(spark):
    df = spark.createDataFrame(
        [("https://sub.example.co/a/b/c.html",),
         ("http://example.org/",),
         ("https://one.two.three.net/x",)], ["url"])
    got = {r["url"]: (r["host"], r["tld"], r["reg_domain"], r["path_depth"])
           for r in with_url_parts(df).collect()}
    assert got["https://sub.example.co/a/b/c.html"] == \
        ("sub.example.co", "co", "example.co", 3)
    assert got["http://example.org/"] == ("example.org", "org",
                                          "example.org", 1)
    assert got["https://one.two.three.net/x"] == \
        ("one.two.three.net", "net", "three.net", 1)


# ------------------------------------------------- geometry editors / bbox

def test_geom_editors_compose(spark):
    from spatial.kernels import (st_end_point, st_num_points, st_point_n,
                                 st_reverse_line, st_scale, st_start_point,
                                 st_translate)
    ls = F.struct(
        F.lit(2).alias("gtype"), F.lit(0).alias("srid"),
        F.lit(False).alias("has_z"), F.lit(False).alias("has_m"),
        F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0)).alias("xs"),
        F.array(F.lit(10.0), F.lit(20.0), F.lit(30.0)).alias("ys"),
        F.lit(None).cast("array<double>").alias("zs"),
        F.lit(None).cast("array<double>").alias("ms"),
        F.array(F.lit(0), F.lit(3)).alias("ring_offsets"),
        F.array(F.lit(0), F.lit(1)).alias("part_offsets"))
    g = st_reverse_line(st_scale(st_translate(ls, 1.0, -2.0), 2.0, 0.5))
    sx, sy = st_start_point(g)
    mx, my = st_point_n(g, 2)
    ex, ey = st_end_point(g)
    r = spark.range(1).select(
        st_num_points(g).alias("n"), sx.alias("sx"), sy.alias("sy"),
        mx.alias("mx"), my.alias("my"), ex.alias("ex"), ey.alias("ey"),
    ).collect()[0]
    # translate: xs+1 -> [2,3,4]; scale*2 -> [4,6,8]; reverse -> [8,6,4]
    # ys-2 -> [8,18,28]; *0.5 -> [4,9,14]; reverse -> [14,9,4]
    assert (r["n"], r["sx"], r["sy"], r["mx"], r["my"], r["ex"], r["ey"]) \
        == (3, 8.0, 14.0, 6.0, 9.0, 4.0, 4.0)


def test_st_point_n_out_of_range_is_null(spark):
    from spatial.kernels import st_point_n
    ls = F.struct(
        F.lit(2).alias("gtype"), F.lit(0).alias("srid"),
        F.lit(False).alias("has_z"), F.lit(False).alias("has_m"),
        F.array(F.lit(1.0)).alias("xs"), F.array(F.lit(2.0)).alias("ys"),
        F.lit(None).cast("array<double>").alias("zs"),
        F.lit(None).cast("array<double>").alias("ms"),
        F.array(F.lit(0), F.lit(1)).alias("ring_offsets"),
        F.array(F.lit(0), F.lit(1)).alias("part_offsets"))
    x5, _ = st_point_n(ls, 5)
    assert spark.range(1).select(x5.alias("x")).collect()[0]["x"] is None


def test_bbox_iou_algebra(spark):
    from spatial.kernels import bbox_intersection_area, bbox_iou

    def run(a, b):
        cols = [F.lit(float(v)) for v in (*a, *b)]
        return spark.range(1).select(
            bbox_intersection_area(*cols).alias("i"),
            bbox_iou(*cols).alias("iou")).collect()[0]

    same = run((0, 0, 2, 2), (0, 0, 2, 2))
    assert (same["i"], same["iou"]) == (4.0, 1.0)
    disj = run((0, 0, 1, 1), (5, 5, 6, 6))
    assert (disj["i"], disj["iou"]) == (0.0, 0.0)
    half = run((0, 0, 2, 1), (1, 0, 3, 1))    # overlap 1, union 3
    assert (half["i"], half["iou"]) == (1.0, 1.0 / 3.0)
    degen = run((0, 0, 0, 0), (0, 0, 0, 0))   # zero-area boxes: 0/0 -> 0
    assert (degen["i"], degen["iou"]) == (0.0, 0.0)


# -- z-order storage layout ---------------------------------------------------

def test_zorder_key_parity_and_clamp(spark):
    """zkey bit-parity with a NumPy replay of the same formula, incl. the
    clamp edges (dateline, poles, out-of-range junk)."""
    import numpy as np
    from pyspark.sql import functions as F

    from spatial.zorder import with_zkey

    pts = [(-180.0, -90.0), (179.99, 89.99), (180.0, 90.0), (0.0, 0.0),
           (-181.0, -91.0), (200.0, 95.0), (12.34, -56.78), (-0.01, 0.01)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    level, n = 12, 1 << 12
    got = [r["zkey"]
           for r in with_zkey(df, "lon", "lat", level).collect()]

    def quant(c, lo, span):
        q = np.floor((c - lo) / span * float(n))
        return int(min(max(q, 0), n - 1))

    exp = []
    for lon, lat in pts:
        x, y = quant(lon, -180.0, 360.0), quant(lat, -90.0, 180.0)
        z = 0
        for b in range(level):
            z |= ((x >> b) & 1) << (2 * b + 1)
            z |= ((y >> b) & 1) << (2 * b)
        exp.append(z)
    assert got == exp


def test_zorder_write_clusters_disjoint_files(spark, tmp_path):
    """write_zordered produces files owning DISJOINT zkey ranges (the
    property that turns bbox predicates into file skips at scale), with
    no rows lost."""
    import glob

    from pyspark.sql import functions as F

    from spatial.zorder import write_zordered

    df = spark.range(5000).select(
        ((F.col("id") * 7919 % 36000).cast("double") / 100.0 - 180.0)
        .alias("lon"),
        ((F.col("id") * 104729 % 17000).cast("double") / 100.0 - 85.0)
        .alias("lat"))
    out = str(tmp_path / "zo")
    write_zordered(df, out, "lon", "lat", level=12, n_files=6)
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) >= 2
    ranges, total = [], 0
    for f in files:
        pdf = spark.read.parquet(f).select("zkey").toPandas()
        if len(pdf):
            ranges.append((pdf["zkey"].min(), pdf["zkey"].max()))
            total += len(pdf)
    assert total == 5000
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "file zkey ranges overlap"


# -- tile pyramid -------------------------------------------------------------

def test_tile_pyramid_hierarchical_equals_direct(spark):
    """Every pyramid level must equal direct tile assignment at that zoom
    (the power-of-two exactness argument), and each level conserves the
    total point count."""
    from pyspark.sql import functions as F

    from spatial.tiles import tile_assign, tile_pyramid

    df = spark.range(3000).select(
        ((F.col("id") * 7919 % 36000).cast("double") / 100.0 - 180.0)
        .alias("lon"),
        ((F.col("id") * 104729 % 17000).cast("double") / 100.0 - 85.0)
        .alias("lat"))
    pyr = tile_pyramid(df, "lon", "lat", base_zoom=7, min_zoom=2)
    rows = pyr.collect()
    by_level = {}
    for r in rows:
        by_level.setdefault(r["tile_z"], {})[(r["tile_x"], r["tile_y"])] = \
            r["n_points"]
    assert sorted(by_level) == [2, 3, 4, 5, 6, 7]
    for z, tiles in by_level.items():
        assert sum(tiles.values()) == 3000  # conservation
        direct = (tile_assign(df, "lon", "lat", z)
                  .groupBy("tile_x", "tile_y")
                  .agg(F.count("*").alias("n")).collect())
        assert {(r["tile_x"], r["tile_y"]): r["n"] for r in direct} == tiles


# -- URL canonicalization -----------------------------------------------------

def test_canonical_url_hand_cases(spark):
    from pyspark.sql import functions as F

    from spatial.datapipe.urls import canonical_url

    cases = [
        ("HTTPS://WWW.Example.COM:443/a/b/?z=1&utm_source=x&a=2#frag",
         "https://example.com/a/b?a=2&z=1"),
        ("http://example.com:80/", "http://example.com"),
        ("http://example.com:8080/x", "http://example.com:8080/x"),
        ("ftp://Example.com:80/x", "ftp://example.com:80/x"),
        ("https://example.com", "https://example.com"),
        ("https://example.com/?utm_campaign=only", "https://example.com"),
        ("https://example.com/a?b=2&a=1&b=1", "https://example.com/a?a=1&b=1&b=2"),
        ("https://example.com/a//", "https://example.com/a"),
    ]
    df = spark.createDataFrame(cases, "url string, want string")
    rows = df.select(canonical_url(F.col("url")).alias("got"),
                     "want", "url").collect()
    bad = [(r["url"], r["got"], r["want"]) for r in rows
           if r["got"] != r["want"]]
    assert not bad, bad


# -- histogram quantiles ------------------------------------------------------

def test_histogram_quantiles_within_bin_width(spark):
    """Each estimate must be the lower edge of the bin holding the exact
    ceil(q*N)-th order statistic -- i.e. within one bin width of the true
    quantile -- and n_le must count values <= that bin's upper edge."""
    from pyspark.sql import functions as F

    from spatial.datapipe.sketches import histogram_quantiles

    n = 4000
    df = spark.range(n).select(
        ((F.col("id") * 37 % 1000).cast("double") / 10.0).alias("v"))
    vals = sorted(r["v"] for r in df.collect())
    width = 0.25
    out = histogram_quantiles(df, "v", lo=0.0, width=width, n_bins=512,
                              qs=[0.1, 0.5, 0.9, 1.0]).collect()
    assert len(out) == 4
    import math
    for r in out:
        true_q = vals[max(1, math.ceil(r["q"] * n)) - 1]
        assert r["est"] <= true_q < r["est"] + width
        assert r["n_le"] == sum(v < r["est"] + width for v in vals)


def test_grouped_quantiles_partition_invariant(spark):
    """Grouped mergeable quantiles: identical at 2 vs 16 partitions and
    within one bin width of the exact per-group order statistic."""
    import math

    from spatial.datapipe.sketches import grouped_histogram_quantiles

    rows = [(i, f"g{i % 3}", float((i * 37) % 512)) for i in range(3000)]
    base = spark.createDataFrame(rows, "id long, g string, v double")

    def run(df):
        return {(r["g"], r["q"]): (r["n_le"], r["est"]) for r in
                grouped_histogram_quantiles(df, "v", ["g"], lo=0.0,
                                            width=32.0, n_bins=16,
                                            qs=[0.5, 0.9]).collect()}

    got2 = run(base.repartition(2))
    got16 = run(base.repartition(16))
    assert got2 == got16
    by_g = {}
    for i, g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        vals.sort()
        for q in (0.5, 0.9):
            exact = vals[max(1, math.ceil(q * len(vals))) - 1]
            est = got2[(g, q)][1]
            assert est <= exact < est + 32.0


def test_geohash_decode_bounds_roundtrip_and_parity(spark):
    """Geohash DECODE: the decoded cell bbox contains the encoded point
    (round-trip containment, incl. the public u4pruydqqvj vector), bounds
    are exact dyadic doubles (width == 360/2^b exactly), and the DuckDB
    oracle replays every output bit."""
    import duckdb

    from spatial.geohash import (geohash_decode_oracle_sql, with_geohash,
                                 with_geohash_bounds)

    pts = [(1, 10.40744, 57.64911),       # u4pruydqqvj (public vector)
           (2, -5.6, -42.6), (3, 179.99, 84.99), (4, -179.99, -84.99),
           (5, 0.0, 0.0)]
    df = spark.createDataFrame(pts, "i long, lon double, lat double")
    enc = with_geohash(df, "lon", "lat", precision=9)
    dec = with_geohash_bounds(enc, "geohash", precision=9)
    rows = {r["i"]: r for r in dec.collect()}
    assert rows[1]["geohash"] == "u4pruydqq"
    for i, lon, lat in pts:
        r = rows[i]
        assert r["lon_lo"] <= lon < r["lon_hi"], (i, r)
        assert r["lat_lo"] <= lat < r["lat_hi"], (i, r)
        assert r["lon_hi"] - r["lon_lo"] == 360.0 / (1 << 23)
        assert r["lat_hi"] - r["lat_lo"] == 180.0 / (1 << 22)
    got = sorted((r["i"], r["geohash"], r["lon_lo"], r["lat_lo"],
                  r["lon_hi"], r["lat_hi"]) for r in dec.collect())
    vals = ", ".join(f"({i}, '{rows[i]['geohash']}')" for i, *_ in pts)
    sql = geohash_decode_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) t(i, gh)", "gh", precision=9,
        extra_cols="i, gh, ")
    o = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == o


def test_session5_graph_ops_partition_invariance(spark):
    """HITS, random walks, co-citation, and assortativity are pure
    integer dataflows -- output must be identical at any partitioning
    (the pagerank discipline)."""
    from spatial.datapipe.graph import (assortativity_pieces,
                                        cocitation_pairs, hits,
                                        random_walks, synth_edges)

    n = 300
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    edges = synth_edges(nodes, n_nodes=n)
    for fn in (hits,
               random_walks,
               lambda nd, e: cocitation_pairs(e),
               lambda nd, e: assortativity_pieces(e)):
        a = fn(nodes.repartition(1), edges.repartition(1))
        b = fn(nodes.repartition(7), edges.repartition(5))
        assert sorted(map(tuple, a.collect())) == \
            sorted(map(tuple, b.collect()))
