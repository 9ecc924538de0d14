"""WKB (Well-Known Binary) codec for the JDBC geometry boundary.

The reference's warehouse stores way geometries as PostGIS
``geometry(LineString)`` columns (`/root/reference/README.md:17,29`;
`update_ways_metadata.py` reads them via psycopg2). Over Spark's JDBC
reader a geometry column arrives as bytes (``ST_AsBinary`` / BLOB), so
the typed S1 parity mapping is geometry ⇄ WKB-as-binary: encode on
write, decode to the engine-native ``array<struct<lng,lat>>`` on read.

Format is the public OGC WKB spec (byte order flag + uint32 geometry
type + payload); only the LineString (type 2) shape the reference's
``ways`` table uses is implemented. The codecs are Arrow-batched
``pandas_udf``s — a boundary serialization step, not a hot analytic
path (same policy as the multimodal binary columns).
"""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf

_PT_SCHEMA = "array<struct<lng double, lat double>>"
_WKB_LINESTRING = 2


def encode_linestring(points: list[tuple[float, float]]) -> bytes:
    """(lng, lat) pairs → little-endian WKB LineString bytes."""
    out = bytearray()
    out += struct.pack("<BII", 1, _WKB_LINESTRING, len(points))
    for x, y in points:
        out += struct.pack("<dd", float(x), float(y))
    return bytes(out)


def decode_linestring(buf: bytes) -> list[tuple[float, float]]:
    """WKB LineString bytes (either byte order) → (lng, lat) pairs."""
    if buf is None or len(buf) < 9:
        raise ValueError("not a WKB LineString: too short")
    bo = "<" if buf[0] == 1 else ">"
    gtype, n = struct.unpack_from(f"{bo}II", buf, 1)
    if gtype != _WKB_LINESTRING:
        raise ValueError(f"not a WKB LineString: geometry type {gtype}")
    pts = []
    off = 9
    for _ in range(n):
        x, y = struct.unpack_from(f"{bo}dd", buf, off)
        pts.append((x, y))
        off += 16
    return pts


# pandas_udf creation needs an active SparkSession, so the UDF is
# built lazily at first use rather than at module import.
def wkb_to_geom_col(buf: Column | str) -> Column:
    """WKB binary column → array<struct<lng,lat>> column."""
    from pyspark.sql import functions as F

    @pandas_udf(_PT_SCHEMA)
    def wkb_to_geom(b: pd.Series) -> pd.Series:
        return b.map(
            lambda v: None
            if v is None
            else [{"lng": x, "lat": y} for x, y in decode_linestring(bytes(v))]
        )

    return wkb_to_geom(F.col(buf) if isinstance(buf, str) else buf)
