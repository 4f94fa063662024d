"""Distributed tiler: membership round-trip + salt-invariance + span invariant."""

import hashlib
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from maplibre_tile_spec_spark.functions import mlt_codec as C
from maplibre_tile_spec_spark.operators import features as FE
from maplibre_tile_spec_spark.operators import tiler
from maplibre_tile_spec_spark.operators.invariants import assert_span_sequence_equal
from maplibre_tile_spec_spark.sources import synth


@pytest.fixture(scope="module")
def feats(spark):
    docs = synth.synthesize_documents(spark, 400, seed=42).cache()
    return docs, FE.extract_features(docs).cache()


class TestEncodeTiles:
    def test_tiles_decode_and_membership_matches(self, spark, feats):
        docs, features = feats
        zoom = 8
        tiles = tiler.encode_tiles(features, zoom=zoom).cache()
        got = tiles.select("z", "x", "y", "n_features").collect()
        assert all(r.z == zoom for r in got)
        # per-tile feature counts must equal the declarative assignment
        from maplibre_tile_spec_spark.functions import tilemath as TM

        expected = {
            (r.x, r.y): r.n
            for r in features.select(
                TM.lon_to_tile_x(F.col("rep_lon"), zoom).alias("x"),
                TM.lat_to_tile_y(F.col("rep_lat"), zoom).alias("y"),
            )
            .groupBy("x", "y")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert {(r.x, r.y): r.n_features for r in got} == expected

        # every tile byte blob decodes; feature count and vertex count agree
        membership = tiler.decode_tiles_membership(tiles)
        per_tile = membership.groupBy("x", "y").agg(F.count("*").alias("n")).collect()
        assert {(r.x, r.y): r.n for r in per_tile} == expected

        # documents untouched (tiler is read-only on its input)
        assert_span_sequence_equal(docs, docs)

    def test_salting_preserves_membership(self, spark, feats):
        _, features = feats
        zoom = 6
        plain = tiler.encode_tiles(features, zoom=zoom, n_salt=1)
        salted = tiler.encode_tiles(features, zoom=zoom, n_salt=4)
        m1 = {
            (r.x, r.y, r.geom_type, r.n_vertices)
            for r in tiler.decode_tiles_membership(plain).collect()
        }
        m2 = {
            (r.x, r.y, r.geom_type, r.n_vertices)
            for r in tiler.decode_tiles_membership(salted).collect()
        }
        assert m1 == m2
        # salted tile = concatenation of valid framed blocks → byte size equalish
        s1 = {(r.x, r.y): r.n_features for r in plain.collect()}
        s2 = {(r.x, r.y): r.n_features for r in salted.collect()}
        assert s1 == s2

    def test_doc_refs_roundtrip(self, spark, feats):
        _, features = feats
        tiles = tiler.encode_tiles(features.limit(50), zoom=4, include_doc_refs=True)
        row = tiles.first()
        layers = C.decode_tile(bytes(row.tile))
        docs_in_tile = [d for la in layers for d in la.props["doc"]]
        assert all(d.startswith("doc-") for d in docs_in_tile)
        spans_in_tile = [s for la in layers for s in la.props["span"]]
        assert all(isinstance(s, int) and s >= 0 for s in spans_in_tile)

    def test_compression_beats_plain_wkt(self, spark, feats):
        """The analog of the reference's compression claims (README.md:36-49):
        MLT tile bytes must be much smaller than the raw WKT they encode."""
        _, features = feats
        tiles = tiler.encode_tiles(features, zoom=6)
        total_tile_bytes = tiles.agg(F.sum("byte_size")).first()[0]
        total_wkt_bytes = features.agg(F.sum(F.length("wkt"))).first()[0]
        assert total_tile_bytes < total_wkt_bytes * 0.5


def _themed(features):
    """The poi/road/land split by geometry class."""
    return features.withColumn(
        "layer",
        F.when(F.col("geom_type").isin(1, 4), "poi")
        .when(F.col("geom_type").isin(2, 5), "road")
        .otherwise("land"),
    )


class TestEncodeBytesPin:
    """Regression pins, NOT reference parity (ROADMAP 4d): SHA-256 over the
    sorted (x, y, tile) rows of each case, recorded from encode_tiles
    before both tilers shared one pipeline. A mismatch means the tile bytes
    changed."""

    DIGESTS = {
        "z8": "87b6af05c3eeaa7e084f0bf9f3d57b94f18e502da780a13f57745b59852c4fe6",
        "z5_layer_col": "d8ad0a4ff0403e7fa7c912353fd31bb11e26a772ce3513a54901359f059a7bba",
        "z4_doc_refs": "483b83081e29430493d108a8d8bbd6a794eba97428e59d30e3ee1e2104f69928",
    }

    @pytest.mark.parametrize("case", sorted(DIGESTS))
    def test_encode_tiles_bytes_pinned(self, spark, feats, case):
        _, features = feats
        tiles = {
            "z8": lambda: tiler.encode_tiles(features, zoom=8),
            "z5_layer_col": lambda: tiler.encode_tiles(_themed(features), zoom=5, layer_col="layer"),
            "z4_doc_refs": lambda: tiler.encode_tiles(features, zoom=4, include_doc_refs=True),
        }[case]()
        h = hashlib.sha256()
        for x, y, tile in sorted((r.x, r.y, bytes(r.tile)) for r in tiles.select("x", "y", "tile").collect()):
            h.update(struct.pack("<iiq", x, y, len(tile)))
            h.update(tile)
        assert h.hexdigest() == self.DIGESTS[case]


class TestMultiLayer:
    def test_thematic_layers(self, spark, feats):
        _, features = feats
        tiles = tiler.encode_tiles(_themed(features), zoom=5, layer_col="layer").cache()
        row = tiles.orderBy(F.desc("n_features")).first()
        layers = C.decode_tile(bytes(row.tile))
        names = sorted({la.name for la in layers})
        assert set(names) <= {"poi", "road", "land"} and len(names) >= 2
        # per-tile feature totals preserved across the layer split
        total = sum(len(la.geometry.types) for la in layers)
        assert total == row.n_features


class TestClippedTiler:
    def test_spanning_features_appear_in_all_touched_tiles(self, spark, feats):
        _, features = feats
        zoom = 7
        tiles = tiler.encode_tiles_clipped(features, zoom=zoom, buffer=0).cache()
        rows = tiles.collect()
        assert len(rows) > 0
        # every tile decodes; every vertex within the buffered window
        for r in rows[:25]:
            for la in C.decode_tile(bytes(r.tile)):
                v = la.geometry.vertices
                assert v.min() >= -1 and v.max() <= 4096  # buffer=0 (+floor slack)
        # features spanning tile boundaries produce more assignments than reps
        n_assigned = tiles.agg(F.sum("n_features")).first()[0]
        n_features = features.count()
        assert n_assigned >= n_features * 0.9  # most survive; spanning ones duplicate

    def test_area_partition_across_tiles(self, spark):
        # polygon exactly straddling two z1 tiles (the antimeridian-free case)
        wkt = "POLYGON ((-10.0 -10.0, 10.0 -10.0, 10.0 10.0, -10.0 10.0, -10.0 -10.0))"
        df = spark.createDataFrame(
            [("d", 0, wkt, -10.0, -10.0, 10.0, 10.0, 0.0, 0.0)],
            "doc_id string, span_offset int, wkt string, lon_min double, lat_min double, "
            "lon_max double, lat_max double, rep_lon double, rep_lat double",
        )
        tiles = tiler.encode_tiles_clipped(df, zoom=1, buffer=0)
        rows = tiles.collect()
        assert len(rows) == 4  # straddles all four z1 tiles
        from maplibre_tile_spec_spark.functions import clip as CL

        areas = []
        for r in rows:
            for la in C.decode_tile(bytes(r.tile)):
                feats_ = C.geometry_to_features(la.geometry)
                for _gt, parts in feats_:
                    for rings in parts:
                        areas.append(CL.ring_area(rings[0][:-1].astype(float)))
        # mercator-projected square spans equal area in all 4 tiles up to
        # integer flooring (±1 extent unit per edge ≈ <2%); order-insensitive
        assert len(areas) == 4
        assert min(areas) > 0
        assert max(areas) / min(areas) < 1.02


class TestSkewBalance:
    def test_salting_splits_hot_tile_work(self, spark, feats):
        """A pathological hot tile (every feature in one tile at z0) must
        fan out into n_salt independently-encoded parts — the explicit skew
        treatment AQE cannot apply to a single applyInPandas group."""
        _, features = feats
        parts = tiler.encode_tiles(features, zoom=0, n_salt=8)
        row = parts.first()
        # tile is the concatenation of up to 8 framed layer blocks
        layers = C.decode_tile(bytes(row.tile))
        assert 2 <= len(layers) <= 8
        assert sum(len(la.geometry.types) for la in layers) == row.n_features


class TestPyramidRollup:
    def test_parent_tiles_preserve_features(self, spark, feats):
        _, features = feats
        children = tiler.encode_tiles(features, zoom=6).cache()
        parents = tiler.build_parent_tiles(children).cache()
        assert parents.select("z").distinct().first()[0] == 5
        n_child = children.agg(F.sum("n_features")).first()[0]
        n_parent = parents.agg(F.sum("n_features")).first()[0]
        assert n_parent == n_child
        # parent keys are child keys >> 1
        ck = {(r.x >> 1, r.y >> 1) for r in children.select("x", "y").collect()}
        pk = {(r.x, r.y) for r in parents.select("x", "y").collect()}
        assert pk == ck
        # decoded parent vertices stay within extent and tiles decode cleanly
        row = parents.orderBy(F.desc("n_features")).first()
        for la in C.decode_tile(bytes(row.tile)):
            v = la.geometry.vertices
            assert v.min() >= 0 and v.max() < 4096


class TestTranscode:
    def test_transcode_own_tiles_byte_exact(self, spark):
        """Our own tiles must survive the distributed decode→re-encode pass
        byte-exactly (the same path is byte-exact on all 134 reference
        fixture tiles)."""
        docs = synth.synthesize_documents(spark, 300, seed=42)
        feats = FE.extract_features(docs)
        tiles = tiler.encode_tiles(feats, zoom=6)
        out = tiler.transcode_tiles(tiles).collect()
        assert len(out) > 0
        assert all(r.byte_exact for r in out)
        assert all(r.bytes_out == r.bytes_in for r in out)


class TestAutoSalt:
    def test_auto_salt_splits_only_hot_tiles(self, spark, feats):
        """n_salt='auto': a pathological hot tile (everything in one z0
        tile) fans out into ceil(cnt/salt_target) capped parts, while small
        tiles keep a single byte-identical block."""
        _, features = feats
        n = features.count()
        target = max(1, n // 4)
        hot = tiler.encode_tiles(features, zoom=0, n_salt="auto", salt_target=target)
        row = hot.first()
        layers = C.decode_tile(bytes(row.tile))
        assert len(layers) >= 2, "hot tile did not fan out"
        assert sum(len(la.geometry.types) for la in layers) == row.n_features == n
        # cold case: huge target -> single block, identical to n_salt=1
        cold_auto = {
            (r.x, r.y): bytes(r.tile)
            for r in tiler.encode_tiles(features, zoom=8, n_salt="auto").collect()
        }
        cold_one = {
            (r.x, r.y): bytes(r.tile)
            for r in tiler.encode_tiles(features, zoom=8, n_salt=1).collect()
        }
        assert cold_auto == cold_one


class TestSaltCompressionBound:
    def test_hot_tile_salting_compression_bound(self, spark, feats):
        """VERDICT r3 #7: salted parts encode independent dictionaries, so a
        fanned-out hot tile may compress worse than its unsalted ideal. Pin
        the regression: on a pathological hot tile (every feature in one z0
        tile, 8-way fan-out) the salted tile must stay within 10% of the
        single-block encode; the delta is per-part stream metadata + vertex
        dictionary restarts."""
        _, features = feats
        n = features.count()
        salted = tiler.encode_tiles(
            features, zoom=0, n_salt="auto", salt_target=max(1, n // 8)
        ).first()
        unsalted = tiler.encode_tiles(features, zoom=0, n_salt=1).first()
        assert salted.n_features == unsalted.n_features == n
        ratio = salted.byte_size / unsalted.byte_size
        assert ratio <= 1.10, f"salting cost {ratio:.3f}x > 1.10x bound"
