"""Tile / cell math as Spark column expressions (JVM-side, codegen'd).

Slippy-map tile assignment (inverse of the reference's tile→WGS84 projection,
cpp/include/mlt/projection.hpp:17-48), Bing-style quadkeys, Morton codes via
magic-number bit spreading, zigzag — all as pure `pyspark.sql.functions`
expressions so Catalyst keeps them inside WholeStageCodegen and pushes
filters on the derived columns down to the parquet scan where possible.

Numpy twins for the same math live in kernels.py (used inside pandas UDFs);
both are unit-tested against each other.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_ZOOM = 16  # numeric quadkeys below use 2 bits/level → fits easily in int64

# ---------------------------------------------------------------------------
# lon/lat → slippy tile (z, x, y)
# ---------------------------------------------------------------------------


def lon_to_tile_x(lon: Column, z: int) -> Column:
    """floor((lon+180)/360 * 2^z), clamped to [0, 2^z-1]."""
    n = F.lit(float(2**z))
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n)
    return F.greatest(F.lit(0), F.least(x, F.lit(2**z - 1))).cast("int")


def lat_to_tile_y(lat: Column, z: int) -> Column:
    """Web-Mercator row: floor((1 - asinh(tan(lat))/pi)/2 * 2^z)."""
    n = F.lit(float(2**z))
    rad = F.radians(lat)
    # asinh(tan(rad)) written with ln to stay portable to the DuckDB oracle
    merc = F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad))
    y = F.floor((F.lit(1.0) - merc / F.lit(math.pi)) / F.lit(2.0) * n)
    return F.greatest(F.lit(0), F.least(y, F.lit(2**z - 1))).cast("int")


def tile_to_lon(x: Column, z: int) -> Column:
    """West edge of tile column x (projection.hpp:17-30 inverse)."""
    return x.cast("double") / F.lit(float(2**z)) * F.lit(360.0) - F.lit(180.0)


def tile_to_lat(y: Column, z: int) -> Column:
    """North edge of tile row y."""
    n = F.lit(math.pi) - F.lit(2.0 * math.pi) * y.cast("double") / F.lit(float(2**z))
    return F.degrees(F.atan(F.lit(0.5) * (F.exp(n) - F.exp(-n))))


# SQL snippets for the DuckDB oracle — identical math, ANSI functions only.
def tile_x_sql(lon_expr: str, z: int) -> str:
    return (
        f"greatest(0, least(cast(floor(({lon_expr} + 180.0) / 360.0 * {2**z}) as bigint), {2**z - 1}))"
    )


def tile_y_sql(lat_expr: str, z: int) -> str:
    rad = f"radians({lat_expr})"
    merc = f"ln(tan({rad}) + 1.0 / cos({rad}))"
    return (
        f"greatest(0, least(cast(floor((1.0 - {merc} / pi()) / 2.0 * {2**z}) as bigint), {2**z - 1}))"
    )


# ---------------------------------------------------------------------------
# extent-grid quantization (tile-local integer coords, default extent 4096)
# ---------------------------------------------------------------------------


def quantize_to_extent(lon: Column, lat: Column, x: Column, y: Column, z: int, extent: int = 4096) -> tuple[Column, Column]:
    """Integer vertex coords in tile-extent space (specification.md:27)."""
    n = F.lit(float(2**z))
    fx = (lon + F.lit(180.0)) / F.lit(360.0) * n
    rad = F.radians(lat)
    merc = F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad))
    fy = (F.lit(1.0) - merc / F.lit(math.pi)) / F.lit(2.0) * n
    qx = F.floor((fx - x.cast("double")) * F.lit(float(extent))).cast("int")
    qy = F.floor((fy - y.cast("double")) * F.lit(float(extent))).cast("int")
    clamp = lambda c: F.greatest(F.lit(0), F.least(c, F.lit(extent - 1)))  # noqa: E731
    return clamp(qx), clamp(qy)


# ---------------------------------------------------------------------------
# Morton / quadkey as column expressions (bit-spread with magic masks)
# ---------------------------------------------------------------------------


def _spread_bits(col: Column) -> Column:
    """Interleave-ready spread of the low 32 bits to even positions (int64)."""
    v = col.cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
    for sh, mask in ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF), (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333), (1, 0x5555555555555555)):
        v = (v.bitwiseOR(F.shiftleft(v, sh))).bitwiseAND(F.lit(mask))
    return v


def morton_code(x: Column, y: Column) -> Column:
    """Z-order code, x in even bits / y in odd bits (ZOrderCurve.java:9-18)."""
    return _spread_bits(x).bitwiseOR(F.shiftleft(_spread_bits(y), 1))


def quadkey_num(x: Column, y: Column, z: int, max_zoom: int = MAX_ZOOM) -> Column:
    """Numeric quadkey: Morton code with **y in the high bit** (Bing digit
    = 2*y_bit + x_bit), left-aligned at ``max_zoom`` so that descendants of
    tile (z,x,y) occupy the contiguous range [qk, qk + 4^(max_zoom-z))."""
    base = _spread_bits(x.cast("long")).bitwiseOR(F.shiftleft(_spread_bits(y.cast("long")), 1))
    return F.shiftleft(base, 2 * (max_zoom - z))


def quadkey_range(x: Column, y: Column, z: int, max_zoom: int = MAX_ZOOM) -> tuple[Column, Column]:
    """[qk_min, qk_max) covered by tile (z,x,y) at ``max_zoom`` resolution."""
    qk = quadkey_num(x, y, z, max_zoom)
    return qk, qk + F.lit(4 ** (max_zoom - z))


def quadkey_str(x: Column, y: Column, z: int) -> Column:
    """Base-4 Bing quadkey string (prefix = ancestor)."""
    digits = []
    for level in range(z, 0, -1):
        mask = 1 << (level - 1)
        xb = F.when(x.bitwiseAND(F.lit(mask)) != 0, 1).otherwise(0)
        yb = F.when(y.bitwiseAND(F.lit(mask)) != 0, 2).otherwise(0)
        digits.append((xb + yb).cast("string"))
    return F.concat(*digits) if digits else F.lit("")


# ---------------------------------------------------------------------------
# zigzag as column expressions
# ---------------------------------------------------------------------------


def zigzag_enc(col: Column) -> Column:
    return F.shiftleft(col.cast("long"), 1).bitwiseXOR(F.shiftright(col.cast("long"), 63))


def zigzag_dec(col: Column) -> Column:
    return F.shiftrightunsigned(col.cast("long"), 1).bitwiseXOR(-col.cast("long").bitwiseAND(F.lit(1)))


# ---------------------------------------------------------------------------
# numpy twins (for use inside pandas-UDF kernels and oracles)
# ---------------------------------------------------------------------------


def np_tile_xy(lon: np.ndarray, lat: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    n = float(2**z)
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    rad = np.radians(lat)
    merc = np.log(np.tan(rad) + 1.0 / np.cos(rad))
    y = np.floor((1.0 - merc / math.pi) / 2.0 * n).astype(np.int64)
    return np.clip(x, 0, 2**z - 1), np.clip(y, 0, 2**z - 1)


def np_tile_local(
    lon: np.ndarray, lat: np.ndarray, x: np.ndarray | int, y: np.ndarray | int, z: int, extent: int = 4096
) -> tuple[np.ndarray, np.ndarray]:
    """Unclamped float tile-extent coords of tile (x, y): outside
    [0, extent) for points beyond the tile (the clipped tiler's buffer)."""
    n = float(2**z)
    fx = (lon + 180.0) / 360.0 * n
    rad = np.radians(lat)
    fy = (1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / math.pi) / 2.0 * n
    return (fx - x) * extent, (fy - y) * extent


def np_quantize_to_extent(
    lon: np.ndarray, lat: np.ndarray, x: np.ndarray, y: np.ndarray, z: int, extent: int = 4096
) -> tuple[np.ndarray, np.ndarray]:
    fx, fy = np_tile_local(lon, lat, x, y, z, extent)
    qx = np.floor(fx).astype(np.int64)
    qy = np.floor(fy).astype(np.int64)
    return np.clip(qx, 0, extent - 1), np.clip(qy, 0, extent - 1)
