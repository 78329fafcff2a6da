"""spatial -- a PySpark-native spatial-join + tiling engine.

From-scratch engine whose correctness kernel (geometry model, hex-EWKB /
GeoJSON / WKT codecs) subsumes everything computed by the reference
serialization library (ewestern/haskell-postgis, read-only at
/root/reference/), re-expressed as columnar struct-of-arrays geometry plus
vectorized Arrow kernels, and which layers on top: S2-style cell indexing,
ray-casting point-in-polygon, grid-pruned kNN, Web-Mercator tiling, a
skew-aware spatial join, a geocoding pages pipeline with checkpoint/resume,
large-scale training-data ops (dedup, similarity search, text analysis,
multimodal binary columns with real BMP/PPM decode), and the PostGIS-over-
JDBC field boundary (spatial.pg) that is the reference's raison d'etre.
"""

from . import _pyworker  # noqa: F401  (first: patches zipimport in workers)
from .geometry import (  # noqa: F401
    GEOMETRY,
    GEOMETRYCOLLECTION,
    Geom,
    POINT,
    LINESTRING,
    POLYGON,
    MULTIPOINT,
    MULTILINESTRING,
    MULTIPOLYGON,
    point,
    linestring,
    polygon,
    multipoint,
    multilinestring,
    multipolygon,
)
from .ewkb import (  # noqa: F401
    decode_collection_hex,
    decode_hex,
    decode_wkb,
    encode_collection_hex,
    encode_hex,
    encode_geom,
    ewkb_decode,
    ewkb_decode_collection,
    ewkb_encode,
    ewkb_encode_collection,
    ewkb_encode_reference_compat,
)
from .wkt import (  # noqa: F401
    decode_wkt,
    decode_wkt_collection,
    encode_wkt,
    encode_wkt_collection,
    wkt_decode,
    wkt_encode,
)
from .geojson import (  # noqa: F401
    decode_geojson,
    decode_geojson_collection,
    encode_geojson,
    encode_geojson_collection,
    from_geojson,
    to_geojson,
    to_geojson_reference_compat,
)

__version__ = "0.1.0"
