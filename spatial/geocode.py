"""Deterministic page geocoding -- entirely JVM-side (zero Python in the path).

Signals, in strict priority order (first non-null wins, FIXTURES.md §2):

1. **explicit coordinate pair** in the text: ``lat, lon`` decimal pair
   matched by one anchored regex (regexp_extract, codegen);
2. **gazetteer city mention**: earliest occurrence in the lower-cased text
   of any gazetteer city name, matched by ONE prefix-trie-structured regex
   (see ``trie_regex``; ~3x faster than a flat alternation, which Java
   retries branch-by-branch at every position), then a broadcast equi-join
   back to the gazetteer for coordinates; the scan is skipped entirely for
   rows already decided by signal 1;
3. **ccTLD of the url host** -> country centroid (regexp_extract on the url
   + broadcast equi-join).

Every signal is a deterministic function of (text, url) and the embedded
gazetteer, so geocoding commutes with reruns/resume/parallelism -- the same
invariance class as extract_text.

Output: lon, lat (double, null if no signal), geo_source in
{'coords', 'city', 'cctld'}, geo_confidence in {1.0, 0.7, 0.3}.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gazetteer import CITIES, country_centroids_df, gazetteer_df

# "34.0522, -118.2437" style decimal pair; lat first (common convention).
# Bounded to plausible ranges at refine time.
_COORD_PAIR = r"(-?\d{1,2}\.\d{3,8}),\s*(-?\d{1,3}\.\d{3,8})"

_CCTLD_RE = r"^https?://[^/]*\.([a-z]{2})(?::\d+)?/"


def trie_regex(words: list[str]) -> str:
    """Prefix-trie-structured alternation equivalent to ``(w1|w2|...)``.

    Java's regex engine tries a flat alternation's branches one by one at
    every position; sharing prefixes in a trie cuts that to one walk. At 2M
    synthetic pages x ~120 city names this was 6.4s vs 17.4s for the flat
    form (and 19.6s for the original case-insensitive flat form) at 8 cores.
    Longest-match at a position is preserved because suffix-optional groups
    are emitted greedy."""
    import re as _re

    trie: dict = {}
    for w in words:
        node = trie
        for ch in w:
            node = node.setdefault(ch, {})
        node["$"] = {}

    def emit(node: dict) -> str:
        keys = sorted(node.keys())
        if keys == ["$"]:
            return ""
        optional = "$" in keys
        alts = [_re.escape(ch) + emit(node[ch]) for ch in keys if ch != "$"]
        body = alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"
        if optional:
            # wrap so the whole continuation is optional (greedy: longest wins)
            return "(?:" + body + ")?"
        return body

    return emit(trie)


_CITY_NAMES = sorted((c[0] for c in CITIES), key=len, reverse=True)
_CITY_RE = r"\b(" + trie_regex(_CITY_NAMES) + r")\b"


def geocode_oracle_sql(pages_values: str) -> str:
    """DuckDB replay of geocode_page for the driver oracle.

    ``pages_values`` is a SQL VALUES body of (url, text) rows (the shared
    input fixture, synth.pages_values_sql). The geocoding LOGIC -- coord-pair
    regex + bounds, city-mention scan (flat longest-first alternation: same
    leftmost-longest semantics as the engine's greedy prefix trie), ccTLD ->
    country centroid -- is replayed in SQL against the gazetteer rendered as
    a VALUES table. Float parity: coordinates come from string->double parse
    (correctly rounded, identical in JVM and DuckDB) or from gazetteer
    literals; centroids are precomputed fixture literals (gazetteer.
    country_centroids) rendered in scientific notation so DuckDB parses them
    directly as DOUBLE. Yields (url, lon, lat, geo_source)."""
    import re as _re

    from .gazetteer import country_centroids, sql_double

    gaz_rows = ",\n".join(
        f"('{c[0]}', '{c[2]}', {sql_double(c[3])}, {sql_double(c[4])})"
        for c in CITIES)
    cc_rows = ",\n".join(
        f"('{tld}', {sql_double(lon)}, {sql_double(lat)})"
        for tld, lon, lat in country_centroids())
    city_alt = "|".join(_re.escape(n) for n in _CITY_NAMES)
    coord_re = _COORD_PAIR
    return f"""
WITH __pages(url, text) AS (VALUES
{pages_values}
), __gaz(city, cc_tld, g_lon, g_lat) AS (VALUES
{gaz_rows}
), __cc(cc_tld, cc_lon, cc_lat) AS (VALUES
{cc_rows}
), __sig AS (
  SELECT url, text,
         TRY_CAST(regexp_extract(text, '{coord_re}', 1) AS DOUBLE) AS lat_raw,
         TRY_CAST(regexp_extract(text, '{coord_re}', 2) AS DOUBLE) AS lon_raw
  FROM __pages
), __coord AS (
  SELECT *,
         CASE WHEN lat_raw BETWEEN -90 AND 90
                   AND lon_raw BETWEEN -180 AND 180 THEN lat_raw END AS coord_lat
  FROM __sig
), __hits AS (
  SELECT url, text, coord_lat,
         CASE WHEN coord_lat IS NOT NULL THEN lon_raw END AS coord_lon,
         CASE WHEN coord_lat IS NULL THEN
           NULLIF(regexp_extract(lower(text), '\\b({city_alt})\\b', 1), '')
         END AS city_hit,
         regexp_extract(url, '{_CCTLD_RE}', 1) AS cctld
  FROM __coord
), __geo AS (
  SELECT h.url,
         COALESCE(h.coord_lon, g.g_lon, c.cc_lon) AS lon,
         COALESCE(h.coord_lat, g.g_lat, c.cc_lat) AS lat,
         CASE WHEN h.coord_lon IS NOT NULL THEN 'coords'
              WHEN g.g_lon IS NOT NULL THEN 'city'
              WHEN c.cc_lon IS NOT NULL THEN 'cctld' END AS geo_source
  FROM __hits h
  LEFT JOIN __gaz g ON h.city_hit = g.city
  LEFT JOIN __cc c ON h.cctld = c.cc_tld
)
SELECT url, lon, lat, geo_source FROM __geo"""


def geocode_page(df: DataFrame, text_col: str = "text",
                 url_col: str = "url") -> DataFrame:
    """Adds lon, lat, geo_source, geo_confidence columns."""
    spark = df.sparkSession
    gaz = F.broadcast(gazetteer_df(spark).withColumnRenamed("city", "__city"))
    cc = F.broadcast(country_centroids_df(spark))

    text = F.coalesce(F.col(text_col), F.lit(""))
    with_sig = (
        # one full-text scan for the coordinate pair; the per-group extracts
        # then run over the short matched substring, not the whole text
        df.withColumn("__pair", F.regexp_extract(text, _COORD_PAIR, 0))
        .withColumn(
            "__lat_raw",
            F.regexp_extract(F.col("__pair"), _COORD_PAIR, 1).try_cast("double"))
        .withColumn(
            "__lon_raw",
            F.regexp_extract(F.col("__pair"), _COORD_PAIR, 2).try_cast("double"))
        .withColumn(
            "__coord_lat",
            F.when(
                F.col("__lat_raw").between(-90, 90)
                & F.col("__lon_raw").between(-180, 180),
                F.col("__lat_raw"),
            ),
        )
        .withColumn(
            "__coord_lon",
            F.when(F.col("__coord_lat").isNotNull(), F.col("__lon_raw")),
        )
        # skip the (most expensive) city scan when an explicit coordinate
        # pair already decided the row -- when() short-circuits per row;
        # lower() once so the trie regex stays case-sensitive (fast path)
        .withColumn(
            "__city_hit",
            F.when(F.col("__coord_lat").isNull(),
                   F.nullif(F.regexp_extract(F.lower(text), _CITY_RE, 1),
                            F.lit(""))),
        )
        .withColumn("__cctld", F.regexp_extract(F.col(url_col), _CCTLD_RE, 1))
    )

    with_city = with_sig.join(
        gaz.select(F.col("__city"), F.col("lon").alias("__city_lon"),
                   F.col("lat").alias("__city_lat")),
        with_sig["__city_hit"] == F.col("__city"),
        "left",
    ).drop("__city")

    with_cc = with_city.join(
        cc.withColumnRenamed("cc_tld", "__cc"),
        with_city["__cctld"] == F.col("__cc"),
        "left",
    ).drop("__cc")

    out = (
        with_cc.withColumn(
            "lon", F.coalesce("__coord_lon", "__city_lon", "cc_lon"))
        .withColumn("lat", F.coalesce("__coord_lat", "__city_lat", "cc_lat"))
        .withColumn(
            "geo_source",
            F.when(F.col("__coord_lon").isNotNull(), F.lit("coords"))
            .when(F.col("__city_lon").isNotNull(), F.lit("city"))
            .when(F.col("cc_lon").isNotNull(), F.lit("cctld")),
        )
        .withColumn(
            "geo_confidence",
            F.when(F.col("geo_source") == "coords", F.lit(1.0))
            .when(F.col("geo_source") == "city", F.lit(0.7))
            .when(F.col("geo_source") == "cctld", F.lit(0.3)),
        )
    )
    drop = [c for c in out.columns if c.startswith("__")] + ["cc_lon", "cc_lat"]
    return out.drop(*drop)
