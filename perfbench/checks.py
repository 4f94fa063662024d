"""Output checks: compare what a pass produced with the independent
expectations of ``reference``. Each returns a list of mismatch messages;
an empty list means the output is correct."""

from __future__ import annotations

import numpy as np
import pandas as pd

from maplibre_tile_spec_spark.functions import mlt_codec as C
from perfbench import reference as R

_MAX_REPORTED = 5


def _limit(msgs: list[str]) -> list[str]:
    if len(msgs) > _MAX_REPORTED:
        return msgs[:_MAX_REPORTED] + [f"... {len(msgs) - _MAX_REPORTED} more"]
    return msgs


def decode_membership(tiles) -> pd.DataFrame:
    """Decode tile bytes → membership (x, y, type, n_vertices, count).

    ``tiles`` iterates (x, y, bytes); a tile that fails to decode raises."""
    rows = []
    for x, y, blob in tiles:
        for layer in C.decode_tile(bytes(blob)):
            for gtype, parts in C.geometry_to_features(layer.geometry):
                nv = sum(r.shape[0] for p in parts for r in p)
                rows.append((int(x), int(y), int(gtype), int(nv)))
    return R.membership_table(pd.DataFrame(rows, columns=["x", "y", "type", "n_vertices"]))


def check_membership(got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Exact (x, y, type, n_vertices) multiset equality per tile."""
    key = ["x", "y", "type", "n_vertices"]
    m = got.merge(expected, on=key, how="outer", suffixes=("_got", "_exp")).fillna(0)
    bad = m[m["count_got"] != m["count_exp"]]
    msgs = [
        f"tile ({int(r.x)},{int(r.y)}) type {int(r.type)} n_vertices {int(r.n_vertices)}: "
        f"{int(r.count_got)} decoded, {int(r.count_exp)} expected"
        for r in bad.itertuples()
    ]
    return _limit(msgs)


def check_pairs(got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Exact set equality of (pid, poly_id) pairs."""
    g = set(zip(got["pid"].astype(np.int64).tolist(), got["poly_id"].tolist()))
    e = set(zip(expected["pid"].astype(np.int64).tolist(), expected["poly_id"].tolist()))
    msgs = [f"pip: missing pair {p}" for p in sorted(e - g)[:_MAX_REPORTED]]
    msgs += [f"pip: extra pair {p}" for p in sorted(g - e)[:_MAX_REPORTED]]
    if len(got) != len(g):
        msgs.append(f"pip: {len(got) - len(g)} duplicate pairs")
    return msgs


def check_assignment(incremental: pd.DataFrame, full: pd.DataFrame) -> list[str]:
    """Incremental (id, cluster_id) equals the full recompute."""
    a = dict(zip(incremental["id"].astype(np.int64).tolist(), incremental["cluster_id"].astype(np.int64).tolist()))
    b = dict(zip(full["id"].astype(np.int64).tolist(), full["cluster_id"].astype(np.int64).tolist()))
    msgs = []
    if len(a) != len(incremental):
        msgs.append(f"incremental: {len(incremental) - len(a)} duplicate ids")
    if a.keys() != b.keys():
        msgs.append(f"incremental covers {len(a)} ids, full recompute {len(b)}")
    msgs += [f"doc {i}: incremental cluster {a[i]}, full {b[i]}" for i in sorted(a.keys() & b.keys()) if a[i] != b[i]]
    return _limit(msgs)
