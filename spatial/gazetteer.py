"""Embedded deterministic gazetteer (FIXTURES.md §4).

This table DEFINES geocode_page's output, so it is a fixture, not data: the
rows are compiled into the repo and enter Spark as a JVM local relation
(``local_frame``: a SQL VALUES list, physical scan ``LocalTableScan``) that
geocode_page broadcast-joins. A ``createDataFrame(<list>)`` frame would scan
a PythonRDD instead, starting a Python worker in every task of every query
that reads it, only to unpickle ~120 rows. Coordinates are approximate city
centroids; determinism, not precision, is the contract. cc_tld maps
country-code TLDs to a country centroid for the lowest-priority geocoding
signal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (DataType, DoubleType, LongType, StringType,
                               StructType)

# (city, country, cc_tld, lon, lat)
CITIES: list[tuple[str, str, str, float, float]] = [
    ("los angeles", "united states", "us", -118.2437, 34.0522),
    ("new york", "united states", "us", -74.0060, 40.7128),
    ("chicago", "united states", "us", -87.6298, 41.8781),
    ("houston", "united states", "us", -95.3698, 29.7604),
    ("phoenix", "united states", "us", -112.0740, 33.4484),
    ("san francisco", "united states", "us", -122.4194, 37.7749),
    ("seattle", "united states", "us", -122.3321, 47.6062),
    ("miami", "united states", "us", -80.1918, 25.7617),
    ("denver", "united states", "us", -104.9903, 39.7392),
    ("boston", "united states", "us", -71.0589, 42.3601),
    ("atlanta", "united states", "us", -84.3880, 33.7490),
    ("dallas", "united states", "us", -96.7970, 32.7767),
    ("london", "united kingdom", "uk", -0.1276, 51.5072),
    ("manchester", "united kingdom", "uk", -2.2426, 53.4808),
    ("birmingham", "united kingdom", "uk", -1.8904, 52.4862),
    ("glasgow", "united kingdom", "uk", -4.2518, 55.8642),
    ("paris", "france", "fr", 2.3522, 48.8566),
    ("marseille", "france", "fr", 5.3698, 43.2965),
    ("lyon", "france", "fr", 4.8357, 45.7640),
    ("toulouse", "france", "fr", 1.4442, 43.6047),
    ("berlin", "germany", "de", 13.4050, 52.5200),
    ("munich", "germany", "de", 11.5820, 48.1351),
    ("hamburg", "germany", "de", 9.9937, 53.5511),
    ("frankfurt", "germany", "de", 8.6821, 50.1109),
    ("cologne", "germany", "de", 6.9603, 50.9375),
    ("madrid", "spain", "es", -3.7038, 40.4168),
    ("barcelona", "spain", "es", 2.1734, 41.3851),
    ("valencia", "spain", "es", -0.3763, 39.4699),
    ("seville", "spain", "es", -5.9845, 37.3891),
    ("rome", "italy", "it", 12.4964, 41.9028),
    ("milan", "italy", "it", 9.1900, 45.4642),
    ("naples", "italy", "it", 14.2681, 40.8518),
    ("turin", "italy", "it", 7.6869, 45.0703),
    ("lisbon", "portugal", "pt", -9.1393, 38.7223),
    ("porto", "portugal", "pt", -8.6291, 41.1579),
    ("amsterdam", "netherlands", "nl", 4.9041, 52.3676),
    ("rotterdam", "netherlands", "nl", 4.4777, 51.9244),
    ("brussels", "belgium", "be", 4.3517, 50.8503),
    ("vienna", "austria", "at", 16.3738, 48.2082),
    ("zurich", "switzerland", "ch", 8.5417, 47.3769),
    ("geneva", "switzerland", "ch", 6.1432, 46.2044),
    ("stockholm", "sweden", "se", 18.0686, 59.3293),
    ("gothenburg", "sweden", "se", 11.9746, 57.7089),
    ("oslo", "norway", "no", 10.7522, 59.9139),
    ("copenhagen", "denmark", "dk", 12.5683, 55.6761),
    ("helsinki", "finland", "fi", 24.9384, 60.1699),
    ("dublin", "ireland", "ie", -6.2603, 53.3498),
    ("warsaw", "poland", "pl", 21.0122, 52.2297),
    ("krakow", "poland", "pl", 19.9450, 50.0647),
    ("prague", "czechia", "cz", 14.4378, 50.0755),
    ("budapest", "hungary", "hu", 19.0402, 47.4979),
    ("bucharest", "romania", "ro", 26.1025, 44.4268),
    ("sofia", "bulgaria", "bg", 23.3219, 42.6977),
    ("athens", "greece", "gr", 23.7275, 37.9838),
    ("istanbul", "turkey", "tr", 28.9784, 41.0082),
    ("ankara", "turkey", "tr", 32.8597, 39.9334),
    ("moscow", "russia", "ru", 37.6173, 55.7558),
    ("saint petersburg", "russia", "ru", 30.3351, 59.9343),
    ("kyiv", "ukraine", "ua", 30.5234, 50.4501),
    ("tokyo", "japan", "jp", 139.6917, 35.6895),
    ("osaka", "japan", "jp", 135.5023, 34.6937),
    ("nagoya", "japan", "jp", 136.9066, 35.1815),
    ("seoul", "south korea", "kr", 126.9780, 37.5665),
    ("busan", "south korea", "kr", 129.0756, 35.1796),
    ("beijing", "china", "cn", 116.4074, 39.9042),
    ("shanghai", "china", "cn", 121.4737, 31.2304),
    ("shenzhen", "china", "cn", 114.0579, 22.5431),
    ("guangzhou", "china", "cn", 113.2644, 23.1291),
    ("hong kong", "china", "hk", 114.1694, 22.3193),
    ("taipei", "taiwan", "tw", 121.5654, 25.0330),
    ("singapore", "singapore", "sg", 103.8198, 1.3521),
    ("bangkok", "thailand", "th", 100.5018, 13.7563),
    ("jakarta", "indonesia", "id", 106.8456, -6.2088),
    ("manila", "philippines", "ph", 120.9842, 14.5995),
    ("hanoi", "vietnam", "vn", 105.8342, 21.0278),
    ("kuala lumpur", "malaysia", "my", 101.6869, 3.1390),
    ("mumbai", "india", "in", 72.8777, 19.0760),
    ("delhi", "india", "in", 77.1025, 28.7041),
    ("bangalore", "india", "in", 77.5946, 12.9716),
    ("chennai", "india", "in", 80.2707, 13.0827),
    ("kolkata", "india", "in", 88.3639, 22.5726),
    ("karachi", "pakistan", "pk", 67.0011, 24.8607),
    ("lahore", "pakistan", "pk", 74.3587, 31.5204),
    ("dhaka", "bangladesh", "bd", 90.4125, 23.8103),
    ("dubai", "united arab emirates", "ae", 55.2708, 25.2048),
    ("abu dhabi", "united arab emirates", "ae", 54.3773, 24.4539),
    ("riyadh", "saudi arabia", "sa", 46.6753, 24.7136),
    ("tel aviv", "israel", "il", 34.7818, 32.0853),
    ("cairo", "egypt", "eg", 31.2357, 30.0444),
    ("lagos", "nigeria", "ng", 3.3792, 6.5244),
    ("nairobi", "kenya", "ke", 36.8219, -1.2921),
    ("johannesburg", "south africa", "za", 28.0473, -26.2041),
    ("cape town", "south africa", "za", 18.4241, -33.9249),
    ("casablanca", "morocco", "ma", -7.5898, 33.5731),
    ("sydney", "australia", "au", 151.2093, -33.8688),
    ("melbourne", "australia", "au", 144.9631, -37.8136),
    ("brisbane", "australia", "au", 153.0251, -27.4698),
    ("perth", "australia", "au", 115.8605, -31.9505),
    ("auckland", "new zealand", "nz", 174.7633, -36.8485),
    ("wellington", "new zealand", "nz", 174.7762, -41.2865),
    ("toronto", "canada", "ca", -79.3832, 43.6532),
    ("vancouver", "canada", "ca", -123.1207, 49.2827),
    ("montreal", "canada", "ca", -73.5673, 45.5017),
    ("mexico city", "mexico", "mx", -99.1332, 19.4326),
    ("guadalajara", "mexico", "mx", -103.3496, 20.6597),
    ("sao paulo", "brazil", "br", -46.6333, -23.5505),
    ("rio de janeiro", "brazil", "br", -43.1729, -22.9068),
    ("brasilia", "brazil", "br", -47.8825, -15.7942),
    ("buenos aires", "argentina", "ar", -58.3816, -34.6037),
    ("santiago", "chile", "cl", -70.6693, -33.4489),
    ("lima", "peru", "pe", -77.0428, -12.0464),
    ("bogota", "colombia", "co", -74.0721, 4.7110),
    ("caracas", "venezuela", "ve", -66.9036, 10.4806),
    ("quito", "ecuador", "ec", -78.4678, -0.1807),
    ("reykjavik", "iceland", "is", -21.8174, 64.1466),
    ("anchorage", "united states", "us", -149.9003, 61.2181),
    ("honolulu", "united states", "us", -157.8583, 21.3069),
    ("suva", "fiji", "fj", 178.4417, -18.1416),
]

SCHEMA = "city string, country string, cc_tld string, lon double, lat double"


def sql_double(v: float) -> str:
    """Render a float as a SQL literal that DuckDB parses DIRECTLY as DOUBLE
    (correctly rounded, bit round-trip). Plain decimal literals type as
    DECIMAL and the column-unified scale can round the value; scientific
    notation forces the DOUBLE parse path (in Spark SQL as well)."""
    r = repr(float(v))
    return r if ("e" in r or "E" in r) else r + "e0"


def _spark_literal(v, t: DataType) -> str:
    if v is None:
        return "NULL"
    if isinstance(t, DoubleType):
        return sql_double(v)
    if isinstance(t, LongType):
        return f"{int(v)}L"
    if isinstance(t, StringType):
        # Spark SQL processes backslash escapes inside string literals
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"local_frame: unsupported column type {t.simpleString()}")


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Small fixed rows as a JVM LocalRelation (physical ``LocalTableScan``):
    a rendered ``VALUES`` list with every column cast to the DDL ``schema``.
    Doubles are exponent literals (bit-exact round trip), longs carry an
    ``L`` suffix. Unlike ``createDataFrame(<list>)``, whose scan is a
    PythonRDD, reading the frame starts no Python worker."""
    fields = StructType.fromDDL(schema).fields
    body = ",\n".join(
        "(" + ", ".join(_spark_literal(v, f.dataType)
                        for v, f in zip(row, fields)) + ")"
        for row in rows)
    cols = ", ".join(f"c{i}" for i in range(len(fields)))
    casts = ", ".join(f"CAST(c{i} AS {f.dataType.simpleString()}) AS `{f.name}`"
                      for i, f in enumerate(fields))
    return spark.sql(f"SELECT {casts} FROM VALUES\n{body}\nAS t({cols})")


def gazetteer_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, CITIES, SCHEMA)


def country_centroids() -> list[tuple[str, float, float]]:
    """(cc_tld, lon, lat) country centroids: mean of each TLD's cities,
    computed once in plain Python in CITIES order. Part of the fixture (like
    CITIES itself) so engine and oracle share literal values -- Spark avg()
    and DuckDB AVG() differ in the last ulp (different summation/mean
    algorithms), which broke bit-level oracle parity."""
    by_tld: dict[str, list[tuple[float, float]]] = {}
    for _city, _country, tld, lon, lat in CITIES:
        by_tld.setdefault(tld, []).append((lon, lat))
    return [
        (tld, sum(p[0] for p in pts) / len(pts), sum(p[1] for p in pts) / len(pts))
        for tld, pts in sorted(by_tld.items())
    ]


def country_centroids_df(spark: SparkSession) -> DataFrame:
    """One row per cc_tld: precomputed fixture centroids."""
    return local_frame(spark, country_centroids(),
                       "cc_tld string, cc_lon double, cc_lat double")
