"""Tile-encode group kernels, run without a Spark session: the clipped
tiler's vertex cursor and the parent rollup of mixed-class children."""

import numpy as np
import pandas as pd

from maplibre_tile_spec_spark.functions import mlt_codec as C
from maplibre_tile_spec_spark.functions import tilemath as TM
from maplibre_tile_spec_spark.operators import tiler


def _shapes(tile: bytes) -> list[tuple[int, list[list[int]]]]:
    """(type, per-part ring vertex counts) of every decoded feature."""
    return [
        (t, [[r.shape[0] for r in rings] for rings in parts])
        for la in C.decode_tile(tile)
        for t, parts in C.geometry_to_features(la.geometry)
    ]


class TestClippedKernel:
    # part 1 has a hole and lies west of the meridian; part 2 straddles it
    MULTIPOLYGON = (
        "MULTIPOLYGON (((-30 10, -20 10, -20 20, -30 20, -30 10), "
        "(-28 12, -22 12, -22 18, -28 18, -28 12)), ((-5 10, 5 10, 5 20, -5 20, -5 10)))"
    )

    def _encode(self, x: int, y: int):
        pdf = pd.DataFrame({"doc_id": ["d"], "span_offset": [0], "wkt": [self.MULTIPOLYGON]})
        return tiler._encode_clipped_group(x, y, pdf, zoom=1, extent=4096, buffer=0)

    def test_part_after_clipped_away_holed_part_survives(self):
        """Part 1 clips away from z1 tile (1, 0); the vertex cursor must
        still step over its hole, so part 2 keeps its own vertices."""
        row = self._encode(1, 0)
        assert row is not None
        x, y, n_features, _n_vertices, tile = row
        assert (x, y, n_features) == (1, 0, 1)
        ((t, ring_counts),) = _shapes(tile)
        assert t == C.MLT_POLYGON and len(ring_counts) == 1 and len(ring_counts[0]) == 1
        (la,) = C.decode_tile(tile)
        v = la.geometry.vertices.reshape(-1, 2)
        # part 2's east half: lon 0..5, lat 10..20 in tile (1, 0)
        ex, ey = TM.np_tile_local(np.array([0.0, 5.0]), np.array([20.0, 10.0]), 1, 0, 1, 4096)
        assert v[:, 0].min() == 0 and v[:, 0].max() == int(np.floor(ex[1]))
        assert v[:, 1].min() == int(np.floor(ey[0])) and v[:, 1].max() == int(np.floor(ey[1]))

    def test_west_tile_keeps_both_parts_and_hole(self):
        _, _, n_features, _, tile = self._encode(0, 0)
        assert n_features == 1
        ((t, ring_counts),) = _shapes(tile)
        assert t == C.MLT_MULTIPOLYGON
        assert [len(rings) for rings in ring_counts] == [2, 1]


class TestParentMerge:
    def test_line_child_and_polygon_child_merge(self):
        """A line-only child and a polygon-only child share parent
        (1, 1, 1): the merged layer must place the line's vertex count in
        num_rings, since the merged column holds a polygon."""
        line = "LINESTRING (100 -10, 101 -11, 102 -10)"
        poly = "POLYGON ((1 -3, 3 -3, 3 -1, 1 -1, 1 -3))"
        children = []
        for wkt, lon, lat in ((line, 100.0, -10.0), (poly, 1.0, -3.0)):
            tx, ty = (int(c[0]) for c in TM.np_tile_xy(np.array([lon]), np.array([lat]), 2))
            pdf = pd.DataFrame({"doc_id": ["d"], "span_offset": [0], "wkt": [wkt], "_layer": [tiler.LAYER_NAME]})
            row = tiler._encode_rep_group(tx, ty, pdf, zoom=2, extent=4096, include_doc_refs=False)
            children.append((tx, ty, row[4]))
        assert [(x, y) for x, y, _ in children] == [(3, 2), (2, 2)]

        out = tiler._merge_children((1, 1, 1), pd.DataFrame(children, columns=["x", "y", "tile"]), 4096)
        assert out[["z", "x", "y", "n_features", "n_vertices"]].iloc[0].tolist() == [1, 1, 1, 2, 7]
        # decode closes the polygon ring: 4 stored vertices read back as 5
        assert _shapes(out["part"].iloc[0]) == [(C.MLT_LINESTRING, [[3]]), (C.MLT_POLYGON, [[5]])]
