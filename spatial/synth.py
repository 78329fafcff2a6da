"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §2-3).

Schema per BASELINE.json input_hint: pages(url string, warc_ts timestamp,
html binary, text string, lang string). Everything is a pure function of
(seed, row index): html is a templated function of the url, so
extract_text(html) is reproducible byte-for-byte; ~30% of rows embed a geo
signal, Zipf-concentrated on ~20 hot cities so hot-cell salting is actually
exercised; urls are unique.

Generation happens distributed (spark.range -> mapInPandas with NumPy
batches seeded per-row-index), so the same table can be synthesized at any
scale without a driver bottleneck -- the sandbox stand-in for the 10^12-row
Iceberg table.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .gazetteer import CITIES, local_frame, sql_double
from .geometry import linestring, multilinestring, polygon
from .ewkb import encode_hex

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, text string, "
                "lang string")

_LANGS = np.asarray(["en", "de", "fr", "es", "zh", "ja", "pt", "ru"])
_LANG_W = np.asarray([0.45, 0.10, 0.09, 0.09, 0.08, 0.07, 0.07, 0.05])
_TLDS = np.asarray([c[2] for c in CITIES] + ["com", "org", "net", "io"])
_WORDS = np.asarray(
    "the quick brown fox jumps over lazy dog data page web crawl spark "
    "engine query tile cell index join region city market news sport "
    "science travel food music art code open world river mountain".split()
)

_EPOCH_S = 1704067200  # 2024-01-01T00:00:00Z, fixed constant (no local-tz call)
_SPAN_S = 63072000     # two 365-day years of seconds

# Zipf weights over the first 20 gazetteer cities (the hot set)
_HOT_N = 20
_ZIPF_W = 1.0 / np.arange(1, _HOT_N + 1)
_ZIPF_W = _ZIPF_W / _ZIPF_W.sum()


def _batch(idx: np.ndarray, seed: int) -> pd.DataFrame:
    n = len(idx)
    # per-row deterministic streams: hash the row index
    rng = np.random.default_rng(seed)
    # draw per-row uniforms from a counter-based construction: SeedSequence
    # spawn per batch would break row-determinism across partitionings, so
    # derive everything from idx with splitmix-style mixing.
    z = (idx.astype(np.uint64) + np.uint64(seed)) * np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))

    def u(shift: int) -> np.ndarray:
        """Deterministic uniform [0,1) stream #shift per row."""
        zz = (z + np.uint64(shift)) * np.uint64(0xD1B54A32D192ED03)
        zz = (zz ^ (zz >> np.uint64(29))) * np.uint64(0xFF51AFD7ED558CCD)
        zz = zz ^ (zz >> np.uint64(32))
        return (zz >> np.uint64(11)).astype(np.float64) / float(1 << 53)

    tld = _TLDS[(u(1) * len(_TLDS)).astype(np.int64)]
    host_id = (u(2) * 1e6).astype(np.int64)
    urls = np.asarray([
        f"https://host{h}.{t}/p/{i}" for h, t, i in zip(host_id, tld, idx)
    ])
    ts = pd.to_datetime((_EPOCH_S + (u(3) * _SPAN_S)).astype(np.int64), unit="s")

    lang = _LANGS[np.searchsorted(np.cumsum(_LANG_W), u(4), side="right").clip(0, len(_LANGS) - 1)]

    # body text: 20-60 words drawn deterministically
    wn = (20 + u(5) * 40).astype(np.int64)
    sig_kind = u(6)  # <0.18 city mention, <0.30 coord pair, else none
    city_pick = np.searchsorted(np.cumsum(_ZIPF_W), u(7), side="right").clip(0, _HOT_N - 1)

    texts = []
    htmls = []
    for r in range(n):
        wsel = _WORDS[int(z[r] % np.uint64(len(_WORDS))):]
        base_words = np.resize(wsel, wn[r]).tolist()
        if sig_kind[r] < 0.18:
            city = CITIES[city_pick[r]]
            base_words.insert(min(5, len(base_words)), city[0])
        elif sig_kind[r] < 0.30:
            city = CITIES[city_pick[r]]
            jlat = city[4] + (u(8)[r] - 0.5) * 0.8
            jlon = city[3] + (u(9)[r] - 0.5) * 0.8
            base_words.insert(min(5, len(base_words)), f"{jlat:.5f}, {jlon:.5f}")
        body = " ".join(base_words)
        texts.append(body)
        htmls.append(
            (f"<html><head><title>page {idx[r]}</title>"
             f"<script>var x=1;</script><style>.a{{}}</style></head>"
             f"<body><h1>Doc &amp; {idx[r]}</h1><p>{body}</p>"
             f"<!-- comment --></body></html>").encode("utf-8")
        )
    return pd.DataFrame({
        "url": urls,
        "warc_ts": ts,
        "html": htmls,
        "text": texts,
        "lang": lang,
    })


def synth_pages(spark: SparkSession, n_rows: int, seed: int = 42,
                partitions: int | None = None) -> DataFrame:
    """Distributed deterministic pages table. Row content depends only on
    (seed, row index) -- identical at any partitioning or cluster size."""
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            yield _batch(pdf["id"].to_numpy(np.int64), seed)

    return spark.range(0, n_rows, 1, parts).mapInPandas(gen, PAGES_SCHEMA)


def region_rings(n_hot: int = _HOT_N, seed: int = 42,
                 with_holes: bool = True) -> list[tuple[int, str, list]]:
    """Pure-Python region fixture: [(region_id, city, [ring, ...])] with each
    ring a closed [(x, y), ...]. Single source of truth for synth_regions AND
    the driver-oracle SQL renderer (the oracle replays the JOIN LOGIC in SQL;
    the input fixture is necessarily shared, like reading the same parquet)."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n_hot):
        city, country, _, cx, cy = CITIES[i]
        rads = rng.uniform(0.8, 2.0)
        ang = np.linspace(0, 2 * np.pi, 14, endpoint=False)
        rr = rads * rng.uniform(0.7, 1.3, len(ang))
        ring = [(float(cx + r * np.cos(a)), float(cy + r * np.sin(a)))
                for a, r in zip(ang, rr)]
        ring.append(ring[0])
        rings = [ring]
        if with_holes and i % 10 == 3:
            hole = [(float(cx + 0.15 * np.cos(a)), float(cy + 0.15 * np.sin(a)))
                    for a in ang]
            hole.append(hole[0])
            rings.append(hole)
        out.append((i, city, rings))
    return out


def synth_regions(spark: SparkSession, n_hot: int = _HOT_N, seed: int = 42,
                  with_holes: bool = True) -> DataFrame:
    """Polygon build side (FIXTURES.md §3): convex-ish rings around the hot
    gazetteer cities, ~10% with one hole, as hex-EWKB srid=4326."""
    rows = []
    for i, city, rings in region_rings(n_hot, seed, with_holes):
        g = polygon(rings, srid=4326)
        rows.append((i, city, encode_hex(g)))
    return local_frame(spark, rows, "region_id long, name string, geom_hex string")


def route_lines(n: int = 24, seed: int = 7) -> list[tuple[int, list]]:
    """Pure-Python polyline fixture: [(route_id, [part, ...])] with each
    part an OPEN [(x, y), ...] run -- random walks around the hot gazetteer
    cities (route i starts near city i % _HOT_N), every 5th route a 2-part
    MultiLineString. Single source of truth for synth_routes AND the
    line-join oracle renderer, like region_rings for polygons. Random
    radii/steps keep every fixture pair in general position (no
    tie-break-decided pairs)."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        _city, _cc, _tld, cx, cy = CITIES[i % _HOT_N]
        parts = []
        for p in range(2 if i % 5 == 0 else 1):
            x = float(cx + rng.uniform(-2.5, 2.5))
            y = float(cy + rng.uniform(-2.5, 2.5))
            part = [(x, y)]
            for _ in range(int(rng.integers(3, 8))):
                x += float(rng.uniform(-1.4, 1.4))
                y += float(rng.uniform(-1.4, 1.4))
                part.append((x, y))
            parts.append(part)
        out.append((i, parts))
    return out


def synth_routes(spark: SparkSession, n: int = 24, seed: int = 7) -> DataFrame:
    """LineString probe side for the line x polygon join: wandering routes
    around the hot cities as hex-EWKB srid=4326 (LINESTRING, or
    MULTILINESTRING for the 2-part routes)."""
    rows = []
    for rid, parts in route_lines(n, seed):
        g = (linestring(parts[0], srid=4326) if len(parts) == 1
             else multilinestring(parts, srid=4326))
        rows.append((rid, encode_hex(g)))
    return local_frame(spark, rows, "route_id long, geom_hex string")


def cluster_points(n: int = 1200, seed: int = 13) -> list[tuple[int, float, float]]:
    """Pure-Python clustered point fixture for density clustering:
    [(point_id, x, y)] -- ~70% Gaussian blobs (sigma 0.5 deg) around 40
    gazetteer cities, ~30% uniform world noise. Single source of truth for
    synth_cluster_points AND the DBSCAN oracle's VALUES body."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        if rng.uniform() < 0.7:
            _c, _cc, _t, cx, cy = CITIES[int(rng.integers(0, 40))]
            x = float(cx + rng.normal(0.0, 0.5))
            y = float(cy + rng.normal(0.0, 0.5))
        else:
            x = float(rng.uniform(-180.0, 180.0))
            y = float(rng.uniform(-85.0, 85.0))
        out.append((i, x, y))
    return out


def synth_cluster_points(spark: SparkSession, n: int = 1200,
                         seed: int = 13) -> DataFrame:
    """DataFrame form of cluster_points: (point_id, x, y)."""
    return local_frame(spark, cluster_points(n, seed),
                       "point_id long, x double, y double")


def pages_local(n_rows: int, seed: int = 42) -> pd.DataFrame:
    """Driver-side replay of synth_pages' rows (pure function of (seed, idx),
    identical to the distributed output at any partitioning). Used to render
    the pages fixture into driver-oracle SQL."""
    return _batch(np.arange(n_rows, dtype=np.int64), seed)


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def pages_values_sql(n_rows: int, seed: int = 42) -> str:
    """(url, text) rows of the synthetic pages table as a SQL VALUES body."""
    pdf = pages_local(n_rows, seed)
    return ",\n".join(
        f"({_sql_str(u)}, {_sql_str(t)})"
        for u, t in zip(pdf["url"], pdf["text"])
    )


def regions_edges_values_sql(n_hot: int = _HOT_N, seed: int = 42,
                             with_holes: bool = True) -> str:
    """(region_id, edges) VALUES body: every ring's (incl. holes') directed
    edges as a list-of-struct literal, for the SQL even-odd ray cast."""
    rows = []
    for rid, _city, rings in region_rings(n_hot, seed, with_holes):
        edges = []
        for ring in rings:
            for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
                edges.append(
                    f"{{'x1': {sql_double(x1)}, 'y1': {sql_double(y1)}, "
                    f"'x2': {sql_double(x2)}, 'y2': {sql_double(y2)}}}")
        rows.append(f"({rid}, [{', '.join(edges)}])")
    return ",\n".join(rows)


def spatial_join_oracle_sql(n_pages: int, seed: int = 42) -> str:
    """DuckDB replay of the flagship spatial join's OUTPUT CONTRACT:
    (url, region_id) for every geocoded page whose point ray-casts inside a
    region (even-odd over all rings -- bit-identical expression order to
    kernels.pip_even_odd: straddle test then qx < (x2-x1)*(qy-y1)/(y2-y1)+x1).

    The engine reaches the same set through cover-cells candidates + bbox
    prefilter + vectorized PIP refine; cover_bbox is a guaranteed superset
    and PIP-true implies strictly-inside-bbox, so candidate pruning cannot
    change the result -- the oracle is the direct quantifier-free spec."""
    from .geocode import geocode_oracle_sql

    geo = geocode_oracle_sql(pages_values_sql(n_pages, seed))
    return f"""
WITH __regions(region_id, edges) AS (VALUES
{regions_edges_values_sql()}
), __pts AS (
  SELECT url, lon, lat FROM ({geo}) WHERE lon IS NOT NULL
)
SELECT p.url, r.region_id
FROM __pts p CROSS JOIN __regions r
WHERE len(list_filter(r.edges, e ->
        ((e.y1 > p.lat) != (e.y2 > p.lat))
        AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
      )) % 2 = 1"""
