"""Independent expectations for the benchmark's output checks.

Everything here is plain numpy/pandas written for the benchmark: it parses
WKT with its own scanner, computes Web-Mercator tiles with its own formula
and ray-casts by brute force. None of it calls the engine,
so a check built on it does not trust the code it measures.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

# MLT geometry type codes (specification: Point=0 … MultiPolygon=5)
POINT, LINESTRING, POLYGON, MULTIPOINT, MULTILINESTRING, MULTIPOLYGON = range(6)
WKT_TYPES = {
    "POINT": POINT,
    "LINESTRING": LINESTRING,
    "POLYGON": POLYGON,
    "MULTIPOINT": MULTIPOINT,
    "MULTILINESTRING": MULTILINESTRING,
    "MULTIPOLYGON": MULTIPOLYGON,
}

_NUM = re.compile(r"-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?")
_RING = re.compile(r"\(([^()]+)\)")


def wkt_type(wkt: str) -> int:
    return WKT_TYPES[wkt[: wkt.index("(")].strip().upper()]


def wkt_coords(wkt: str) -> np.ndarray:
    """All vertices of a WKT geometry as an (n, 2) float array."""
    return np.array([float(v) for v in _NUM.findall(wkt)], dtype=np.float64).reshape(-1, 2)


def wkt_rings(wkt: str) -> list[np.ndarray]:
    """Every innermost parenthesised coordinate list (polygon rings)."""
    return [wkt_coords(r) for r in _RING.findall(wkt)]


# ---------------------------------------------------------------------------
# Web-Mercator tile math
# ---------------------------------------------------------------------------


def frac_x(lon: np.ndarray, z: int) -> np.ndarray:
    return (np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * float(2**z)


def frac_y(lat: np.ndarray, z: int) -> np.ndarray:
    rad = np.radians(np.asarray(lat, dtype=np.float64))
    return (1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / math.pi) / 2.0 * float(2**z)


def tile_x(lon: np.ndarray, z: int) -> np.ndarray:
    return np.clip(np.floor(frac_x(lon, z)), 0, 2**z - 1).astype(np.int64)


def tile_y(lat: np.ndarray, z: int) -> np.ndarray:
    return np.clip(np.floor(frac_y(lat, z)), 0, 2**z - 1).astype(np.int64)


# ---------------------------------------------------------------------------
# features of the documents table
# ---------------------------------------------------------------------------


def geom_spans(docs: pd.DataFrame) -> pd.DataFrame:
    """documents (doc_id, spans) → one row per geom span: doc_id,
    span_offset, wkt, type, n_vertices, first vertex and bbox."""
    rows = []
    for doc_id, spans in zip(docs["doc_id"], docs["spans"]):
        for s in spans:
            if s["kind"] != "geom":
                continue
            c = wkt_coords(s["text"])
            rows.append(
                (
                    doc_id,
                    int(s["offset"]),
                    s["text"],
                    wkt_type(s["text"]),
                    c.shape[0],
                    c[0, 0],
                    c[0, 1],
                    c[:, 0].min(),
                    c[:, 1].min(),
                    c[:, 0].max(),
                    c[:, 1].max(),
                )
            )
    return pd.DataFrame(
        rows,
        columns=[
            "doc_id", "span_offset", "wkt", "type", "n_vertices",
            "lon", "lat", "lon_min", "lat_min", "lon_max", "lat_max",
        ],
    )


def point_ids(feats: pd.DataFrame) -> np.ndarray:
    """The benchmark's numeric feature id: doc number × 8 + span offset."""
    num = feats["doc_id"].str.slice(4).astype(np.int64).to_numpy()
    return num * 8 + feats["span_offset"].to_numpy(dtype=np.int64)


# ---------------------------------------------------------------------------
# expected tile contents
# ---------------------------------------------------------------------------


def rep_point_membership(feats: pd.DataFrame, z: int) -> pd.DataFrame:
    """Rep-point tiler: every feature lands whole in the tile of its first
    vertex. → (x, y, type, n_vertices, count), sorted."""
    df = pd.DataFrame(
        {
            "x": tile_x(feats["lon"].to_numpy(), z),
            "y": tile_y(feats["lat"].to_numpy(), z),
            "type": feats["type"].to_numpy(dtype=np.int64),
            "n_vertices": feats["n_vertices"].to_numpy(dtype=np.int64),
        }
    )
    return membership_table(df)


def membership_table(df: pd.DataFrame) -> pd.DataFrame:
    out = df.groupby(["x", "y", "type", "n_vertices"]).size().rename("count").reset_index()
    return out.sort_values(["x", "y", "type", "n_vertices"]).reset_index(drop=True)


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------


def pip_pairs(pid: np.ndarray, lon: np.ndarray, lat: np.ndarray, polys: pd.DataFrame) -> pd.DataFrame:
    """Brute-force point-in-polygon: bbox filter, then an even-odd ray cast
    over every ring (holes included). → (pid, poly_id) sorted."""
    out_pid, out_poly = [], []
    for poly_id, wkt in zip(polys["poly_id"], polys["geom_wkt"]):
        rings = wkt_rings(wkt)
        allc = np.vstack(rings)
        m = (lon >= allc[:, 0].min()) & (lon <= allc[:, 0].max()) & (lat >= allc[:, 1].min()) & (lat <= allc[:, 1].max())
        if not m.any():
            continue
        px, py, ids = lon[m], lat[m], pid[m]
        crossings = np.zeros(px.shape[0], dtype=np.int64)
        for r in rings:
            for (x1, y1), (x2, y2) in zip(r[:-1], r[1:]):
                if y1 == y2:
                    continue
                straddle = (y1 > py) != (y2 > py)
                xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
                crossings += straddle & (px < xint)
        hit = ids[crossings % 2 == 1]
        out_pid.append(hit)
        out_poly.extend([poly_id] * hit.shape[0])
    df = pd.DataFrame(
        {"pid": np.concatenate(out_pid) if out_pid else np.array([], dtype=np.int64), "poly_id": out_poly}
    )
    return df.sort_values(["pid", "poly_id"]).reset_index(drop=True)


# ---------------------------------------------------------------------------
# near-duplicate text corpus
# ---------------------------------------------------------------------------


#: largest ordinary cluster of the near-duplicate corpus
MAX_CLUSTER = 6
#: share of a replica's words replaced by a seeded edit
EDIT_RATE = 0.04


def near_dup_corpus(seed: int, n_docs: int, skew_cluster: int) -> pd.DataFrame:
    """Seeded corpus of (doc_id long, text, planted cluster).

    One skew cluster of ``skew_cluster`` replicas, then clusters of 1 to
    ``MAX_CLUSTER`` members until ``n_docs``. Every replica is its base
    document with a per-replica seeded word substitution rate of
    ``EDIT_RATE``; doc ids are a seeded permutation so clusters are not
    contiguous."""
    rng = np.random.default_rng([seed, 0xD0C])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(rng.choice(letters, size=int(rng.integers(3, 10)))) for _ in range(3000)]
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    weights /= weights.sum()
    sizes = [skew_cluster]
    while sum(sizes) < n_docs:
        sizes.append(int(rng.integers(1, MAX_CLUSTER + 1)))
    sizes[-1] -= sum(sizes) - n_docs
    texts, cluster = [], []
    for ci, size in enumerate(sizes):
        base = rng.choice(len(vocab), size=int(rng.integers(40, 90)), p=weights)
        for _ in range(size):
            words = base.copy()
            edit = rng.random(words.shape[0]) < EDIT_RATE
            words[edit] = rng.choice(len(vocab), size=int(edit.sum()), p=weights)
            texts.append(" ".join(vocab[w] for w in words))
            cluster.append(ci)
    ids = rng.permutation(n_docs).astype(np.int64) + 1
    return pd.DataFrame({"doc_id": ids, "text": texts, "planted": cluster})
