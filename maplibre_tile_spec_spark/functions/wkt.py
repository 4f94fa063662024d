"""Minimal WKT codec for the geometry kinds the engine supports.

POINT / LINESTRING / POLYGON / MULTIPOINT / MULTILINESTRING / MULTIPOLYGON,
2-D, lon/lat WGS84. Shapely is not available in this environment, so this is
a small from-scratch parser/formatter used inside Arrow-batched kernels
(`mapInPandas`), operating on whole pandas Series per call.

The parsed form is a flat SoA layout mirroring the reference's geometry
streams (specification.md:389-411): interleaved coordinate buffer plus
per-part/per-ring length arrays — the same NumGeometries/NumParts/NumRings
topology the MLT GeometryEncoder produces
(java/.../converter/encodings/GeometryEncoder.java:525-817).
"""

from __future__ import annotations

import numpy as np

# geometry type codes, matching MVT/MLT convention
GT_POINT, GT_LINESTRING, GT_POLYGON, GT_MULTIPOINT, GT_MULTILINESTRING, GT_MULTIPOLYGON = range(1, 7)

_TYPE_NAMES = {
    "POINT": GT_POINT,
    "LINESTRING": GT_LINESTRING,
    "POLYGON": GT_POLYGON,
    "MULTIPOINT": GT_MULTIPOINT,
    "MULTILINESTRING": GT_MULTILINESTRING,
    "MULTIPOLYGON": GT_MULTIPOLYGON,
}
TYPE_CODES = dict(_TYPE_NAMES)
TYPE_NAMES_BY_CODE = {v: k for k, v in _TYPE_NAMES.items()}


def parse_wkt(wkt: str) -> tuple[int, np.ndarray, list[list[int]]]:
    """→ (geom_type, coords[n,2], rings) where ``rings`` is a list of parts,
    each part a list of ring vertex-counts (lines = 1 "ring" per part)."""
    s = wkt.strip()
    sp = s.index("(")
    gt = _TYPE_NAMES[s[:sp].strip().upper()]
    body = s[sp:]

    def parse_coord_seq(text: str) -> np.ndarray:
        arr = np.fromstring(text.replace(",", " "), sep=" ")  # noqa: NPY201 (fast path)
        return arr.reshape(-1, 2)

    coords_parts: list[np.ndarray] = []
    structure: list[list[int]] = []
    if gt == GT_POINT:
        c = parse_coord_seq(body.strip("() "))
        return gt, c, [[1]]
    if gt in (GT_LINESTRING, GT_MULTIPOINT):
        inner = body.strip()[1:-1].replace("(", "").replace(")", "")
        c = parse_coord_seq(inner)
        return gt, c, [[c.shape[0]]] if gt == GT_LINESTRING else [[1]] * c.shape[0]
    if gt == GT_POLYGON:
        rings = _split_level(body.strip()[1:-1])
        part = []
        for r in rings:
            c = parse_coord_seq(r.strip("() "))
            coords_parts.append(c)
            part.append(c.shape[0])
        return gt, np.vstack(coords_parts), [part]
    if gt == GT_MULTILINESTRING:
        lines = _split_level(body.strip()[1:-1])
        for ln in lines:
            c = parse_coord_seq(ln.strip("() "))
            coords_parts.append(c)
            structure.append([c.shape[0]])
        return gt, np.vstack(coords_parts), structure
    # MULTIPOLYGON
    polys = _split_level(body.strip()[1:-1])
    for poly in polys:
        part = []
        for r in _split_level(poly.strip()[1:-1]):
            c = parse_coord_seq(r.strip("() "))
            coords_parts.append(c)
            part.append(c.shape[0])
        structure.append(part)
    return gt, np.vstack(coords_parts), structure


def _split_level(text: str) -> list[str]:
    """Split a WKT body on top-level commas (between balanced parens).

    Vectorized: WKT is ASCII, so byte offsets are char offsets — one
    cumsum over paren codes finds depth-0 commas without a per-character
    Python loop (this function dominated the tile-encode kernel)."""
    try:
        arr = np.frombuffer(text.encode("ascii"), dtype=np.uint8)
    except UnicodeEncodeError:  # non-ASCII: byte offsets ≠ char offsets
        out, depth, start = [], 0, 0
        for i, ch in enumerate(text):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                out.append(text[start:i])
                start = i + 1
        out.append(text[start:])
        return out
    depth = np.cumsum((arr == 40).view(np.int8) - (arr == 41).view(np.int8))
    cuts = np.flatnonzero((arr == 44) & (depth == 0))
    if cuts.shape[0] == 0:
        return [text]
    out = []
    start = 0
    for i in cuts.tolist():
        out.append(text[start:i])
        start = i + 1
    out.append(text[start:])
    return out


def format_wkt(geom_type: int, coords: np.ndarray, structure: list[list[int]]) -> str:
    """Inverse of parse_wkt."""

    def seq(c: np.ndarray) -> str:
        return ", ".join(f"{x:.6f} {y:.6f}" for x, y in c)

    name = TYPE_NAMES_BY_CODE[geom_type]
    i = 0
    if geom_type == GT_POINT:
        return f"POINT ({seq(coords)})"
    if geom_type == GT_LINESTRING:
        return f"LINESTRING ({seq(coords)})"
    if geom_type == GT_MULTIPOINT:
        return f"MULTIPOINT ({seq(coords)})"
    if geom_type == GT_POLYGON:
        rings = []
        for n in structure[0]:
            rings.append(f"({seq(coords[i : i + n])})")
            i += n
        return f"POLYGON ({', '.join(rings)})"
    if geom_type == GT_MULTILINESTRING:
        parts = []
        for part in structure:
            n = part[0]
            parts.append(f"({seq(coords[i : i + n])})")
            i += n
        return f"MULTILINESTRING ({', '.join(parts)})"
    polys = []
    for part in structure:
        rings = []
        for n in part:
            rings.append(f"({seq(coords[i : i + n])})")
            i += n
        polys.append(f"({', '.join(rings)})")
    return f"{name} ({', '.join(polys)})"


def wkt_bbox(wkt: str) -> tuple[float, float, float, float]:
    """(min_lon, min_lat, max_lon, max_lat) without full structure parsing."""
    _, coords, _ = parse_wkt(wkt)
    return (
        float(coords[:, 0].min()),
        float(coords[:, 1].min()),
        float(coords[:, 0].max()),
        float(coords[:, 1].max()),
    )
