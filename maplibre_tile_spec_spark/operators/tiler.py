"""Distributed MVT→MLT-style tiling: documents → MLT tiles.

One tile-encode pipeline (``_encode_pipeline``) with two assignment policies:
``encode_tiles`` puts each feature in the tile of its rep point,
``encode_tiles_clipped`` explodes each feature into every tile its bbox
touches and clips it there. Each policy supplies only its tile assignment
and a module-level group kernel; the pipeline owns the rest.

The reference encodes one tile per process iteration
(java/mlt-cli/.../Encode.java:538-560); here the same per-tile computation is
an Arrow-batched per-partition kernel (explicit repartition on the group
keys + ``mapInPandas`` with one in-process groupby — per-group
``applyInPandas`` dispatch cost 2× on small-tile corpora) running in
parallel across executors, with **adaptive salt fan-out for hot tiles**: each tile's salt
count derives from its own feature count (``n_salt="auto"``, the default —
a cheap pre-aggregate joined back), so dense urban tiles split into
bounded sub-groups, each encoded as an independent FeatureTable block and
merged by byte concatenation — valid because MLT tiles are defined as
concatenations of independently-decodable framed blocks
(specification.md:38,92-99). AQE only splits join/aggregate shuffles, not a
single giant applyInPandas group, so the salt is load-bearing at scale
(SURVEY.md §7.3).

Geometry topology is built only through ``mlt_codec.GeometryBuilder``,
which owns the num_parts / num_rings layout rule.

Feature ids follow the reference's sort-and-regenerate strategy
(MltConverter.java:548-611): features sorted by Hilbert index of their first
vertex, ids reassigned 0..n-1 in final order.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import replace
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from maplibre_tile_spec_spark.functions import clip as CL
from maplibre_tile_spec_spark.functions import kernels as K
from maplibre_tile_spec_spark.functions import mlt_codec as C
from maplibre_tile_spec_spark.functions import tilemath as TM
from maplibre_tile_spec_spark.functions import wkt as W

TILE_SCHEMA = "x int, y int, n_features long, n_vertices long, part binary"
LAYER_NAME = "features"  # layer of every block unless encode_tiles gets a layer_col


def _features_to_geometry_column(
    wkts: list[str], tile_x: int, tile_y: int, zoom: int, extent: int
) -> tuple[C.GeometryColumn, np.ndarray]:
    """Parse + quantize a tile group's features into the SoA topology.

    All coordinates of the group are quantized in ONE vectorized pass
    (per-feature numpy-call overhead dominated the kernel before), then
    sliced back per feature. Returns (geometry column, hilbert sort order
    applied to the input).
    """
    if all(w.startswith("POINT") for w in wkts):
        return _points_to_geometry_column(wkts, tile_x, tile_y, zoom, extent)
    parsed = [W.parse_wkt(w) for w in wkts]
    # single quantization pass over every vertex of the group
    all_coords = np.vstack([p[1] for p in parsed])
    counts = np.array([p[1].shape[0] for p in parsed], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    aqx, aqy = TM.np_quantize_to_extent(
        all_coords[:, 0],
        all_coords[:, 1],
        np.full(all_coords.shape[0], tile_x),
        np.full(all_coords.shape[0], tile_y),
        zoom,
        extent,
    )
    # sort by hilbert index of the quantized first vertex (reference sort)
    order = np.argsort(K.hilbert_encode(aqx[starts], aqy[starts], order=12), kind="stable")
    aq = np.column_stack([aqx, aqy])

    b = C.GeometryBuilder()
    for i in order:
        gt, _coords, structure = parsed[i]
        t = gt - 1  # WKT codes 1-6 → MLT ordinals 0-5
        ci = int(starts[i])
        if t in (C.MLT_POINT, C.MLT_MULTIPOINT):
            b.add(t, [[aq[ci : ci + counts[i]]]])
            continue
        polygon = t in (C.MLT_POLYGON, C.MLT_MULTIPOLYGON)
        parts = []
        for part in structure:
            rings = []
            for n in part:
                # closing vertex dropped (GeometryEncoder.java:887-890)
                rings.append(aq[ci : ci + (n - 1 if polygon and n > 1 else n)])
                ci += n
            parts.append(rings)
        b.add(t, parts)
    return b.finish(), order


def _points_to_geometry_column(
    wkts: list[str], tile_x: int, tile_y: int, zoom: int, extent: int
) -> tuple[C.GeometryColumn, np.ndarray]:
    """Fast path for all-POINT groups (the dominant class in event-derived
    feature tables): a slice+split loop replaces the per-feature WKT parser
    — same output; pandas str.extract spent ~0.8 ms of fixed regex setup
    per GROUP, which dominated at typical tile sizes (~100 features)."""
    n = len(wkts)
    lon = np.empty(n)
    lat = np.empty(n)
    for i, w in enumerate(wkts):
        toks = w[w.find("(") + 1 : w.rfind(")")].split()
        lon[i] = float(toks[0])
        lat[i] = float(toks[1])
    qx, qy = TM.np_quantize_to_extent(
        lon, lat, np.full(lon.shape[0], tile_x), np.full(lon.shape[0], tile_y), zoom, extent
    )
    order = np.argsort(K.hilbert_encode(qx, qy, order=12), kind="stable")
    verts = np.empty(lon.shape[0] * 2, dtype=np.int64)
    verts[0::2] = qx[order]
    verts[1::2] = qy[order]
    g = C.GeometryColumn(
        types=np.zeros(lon.shape[0], dtype=np.int64),  # MLT_POINT ordinal 0
        num_geometries=np.empty(0, np.int64),
        num_parts=np.empty(0, np.int64),
        num_rings=np.empty(0, np.int64),
        vertices=verts,
    )
    return g, order


# auto-salt: target features per encode group. A group at this size encodes
# in ~O(100 ms); tiles above it fan out into ceil(cnt/target) parts (capped)
DEFAULT_SALT_TARGET = 20_000
MAX_SALT = 256


def _with_salt(tiled: DataFrame, n_salt: int | str, salt_target: int) -> DataFrame:
    """Attach the hot-tile salt column.

    ``n_salt="auto"`` derives each tile's fan-out from its own feature count
    (one cheap map-side-combined pre-aggregate, joined back): salt_n =
    ceil(count / salt_target), capped at MAX_SALT. Dense urban tiles split
    into bounded groups while the long tail of small tiles keeps salt 1 and
    a byte-identical single-block tile. An integer keeps the old fixed
    fan-out; 1 disables salting."""
    if n_salt == "auto":
        counts = tiled.groupBy("x", "y").agg(F.count("*").alias("_cnt"))
        n_parts = F.greatest(
            F.lit(1), F.least(F.lit(MAX_SALT), F.ceil(F.col("_cnt") / F.lit(salt_target)))
        ).cast("int")
        return (
            tiled.join(counts, ["x", "y"])
            .withColumn(
                "salt", F.pmod(F.xxhash64("doc_id", "span_offset"), n_parts).cast("int")
            )
            .drop("_cnt")
        )
    if int(n_salt) > 1:
        return tiled.withColumn(
            "salt", F.pmod(F.xxhash64("doc_id", "span_offset"), F.lit(int(n_salt))).cast("int")
        )
    return tiled.withColumn("salt", F.lit(0))


def _iter_sorted_groups(
    batches: Iterator[pd.DataFrame], keys: tuple[str, ...] = ("x", "y", "salt")
) -> Iterator[tuple[tuple[int, ...], pd.DataFrame]]:
    """Stream (key, group) pairs from Arrow batches that arrive **sorted by
    ``keys``** (sorted within each partition upstream). A group straddling a
    batch boundary is stitched from its pending chunks; peak memory is one
    group + one Arrow batch, not the whole partition — the JVM-side sort is
    an ExternalSorter (spills), so the Python worker never has to hold a
    partition-sized frame no matter the input size (ADVICE r3)."""
    pending: list[pd.DataFrame] = []
    pend_key: tuple[int, ...] | None = None

    def flush() -> pd.DataFrame:
        if len(pending) == 1:
            return pending[0].reset_index(drop=True)
        return pd.concat(pending, ignore_index=True)

    for pdf in batches:
        if pdf.empty:
            continue
        kmat = pdf[list(keys)].to_numpy()
        change = np.flatnonzero((kmat[1:] != kmat[:-1]).any(axis=1)) + 1
        starts = np.concatenate([[0], change])
        ends = np.concatenate([change, [len(pdf)]])
        for s, e in zip(starts, ends):
            key = tuple(int(v) for v in kmat[s])
            if pend_key is not None and key != pend_key:
                yield pend_key, flush()
                pending = []
            pend_key = key
            pending.append(pdf.iloc[s:e])
    if pending:
        yield pend_key, flush()


_ENCODE_FLUSH_ROWS = 256  # bound output-side buffering in the encode kernel


def _encode_pipeline(
    tiled: DataFrame,
    zoom: int,
    n_salt: int | str,
    salt_target: int,
    group_order: tuple[str, ...],
    encode_group: Callable[[int, int, pd.DataFrame], tuple | None],
) -> DataFrame:
    """The tile-encode pipeline shared by both tilers: salt → sorted
    exchange → streamed group kernel → pinned merge.

    ``tiled`` has one row per (feature, tile) assignment, with the tile's
    ``x``, ``y`` and the ``doc_id``/``span_offset`` the salt hashes.
    ``encode_group(x, y, pdf)`` gets one (x, y, salt) group, rows sorted by
    ``group_order``, and returns a TILE_SCHEMA row, or None when no feature
    survives. Output: one row per tile, (z, x, y, n_features, n_vertices,
    byte_size, tile)."""
    tiled = _with_salt(tiled, n_salt, salt_target)
    # fine-grained explicit partitioning for the encode exchange: tile sizes
    # are Zipf-ish, so hashing groups into only `shuffle.partitions` buckets
    # leaves 2× shuffle-read skew between tasks and the slowest task sets
    # the stage wall (measured: 5.1-10.1 s task spread at 8 buckets). An
    # explicit 4×parallelism repartition on the group keys satisfies the
    # groupBy distribution (no extra exchange) and AQE leaves explicit-N
    # repartitions alone, so the skew averages out across many small tasks.
    fan = tiled.sparkSession.sparkContext.defaultParallelism * 4
    # the in-partition sort makes each (x, y, salt) group contiguous so the
    # kernel can stream one group at a time (memory = group, not partition).
    # The full in-group order is part of the SAME JVM-side spill-aware sort
    # — a per-group pandas sort_values was 2.1 s of the 5.6 s single-core
    # kernel at sf0.1 (categorical/lexsort overhead per group), vs ~free as
    # extra sort keys in the ExternalSorter
    tiled = tiled.repartition(fan, "x", "y", "salt").sortWithinPartitions(
        "x", "y", "salt", *group_order
    )

    def encode_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # whole-partition kernel, streamed group-at-a-time: Spark's
        # per-group applyInPandas pays Arrow serialization + UDF dispatch
        # per group, which dominates when tiles are small (measured 2× on a
        # 10k-tile corpus); the sorted exchange above delivers each
        # (x, y, salt) group contiguously so peak memory is one group
        cols = ["x", "y", "n_features", "n_vertices", "part"]
        rows = []
        for (x, y, _salt), grp in _iter_sorted_groups(batches):
            row = encode_group(x, y, grp)
            if row is not None:
                rows.append(row)
            if len(rows) >= _ENCODE_FLUSH_ROWS:
                yield pd.DataFrame(rows, columns=cols)
                rows = []
        if rows:
            yield pd.DataFrame(rows, columns=cols)

    parts = tiled.mapInPandas(encode_partition, schema=TILE_SCHEMA)

    # pin the merge exchange to an explicit same-key repartition: the groupBy
    # needs this exchange anyway (no extra shuffle), but without the pin AQE
    # coalesces the small post-shuffle output to ONE partition — and every
    # downstream Python kernel (transcode, membership decode) then funnels
    # the whole tile table through a single Arrow task (measured: 1 task /
    # 1024 tiles; transcode 3.6 s → 2.5 s with the pin). Parallelism-derived,
    # not a constant, so it stays scale-adaptive.
    merge_fan = tiled.sparkSession.sparkContext.defaultParallelism
    return (
        parts.repartition(merge_fan, "x", "y")
        .groupBy("x", "y")
        .agg(
            F.sum("n_features").alias("n_features"),
            F.sum("n_vertices").alias("n_vertices"),
            F.aggregate(
                F.array_sort(F.collect_list(F.col("part"))),
                F.lit(b""),
                lambda acc, p: F.concat(acc, p),
            ).alias("tile"),
        )
        .select(
            F.lit(zoom).alias("z"),
            "x",
            "y",
            "n_features",
            "n_vertices",
            F.length("tile").cast("long").alias("byte_size"),
            "tile",
        )
    )


def _encode_rep_group(
    x: int, y: int, pdf: pd.DataFrame, zoom: int, extent: int, include_doc_refs: bool
) -> tuple:
    """``encode_tiles`` group kernel: one FeatureTable block per layer."""
    # rows arrive sorted by (_layer, doc_id, span_offset) — layer blocks
    # are contiguous slices; numpy boundary detection replaces a pandas
    # groupby (factorize/categorical machinery was ~0.6 s per sf0.1
    # corpus). JVM binary UTF-8 string order == Python str order for
    # the sort keys' comparison semantics here: block order must only
    # be deterministic and consistent with the salted-part merge, which
    # uses the same upstream sort.
    lname_arr = pdf["_layer"].to_numpy()
    bounds = np.concatenate(([0], np.flatnonzero(lname_arr[1:] != lname_arr[:-1]) + 1, [len(pdf)]))
    part = b""
    n_vertices = 0
    for s, e in zip(bounds[:-1], bounds[1:]):
        grp = pdf.iloc[s:e]
        g, order = _features_to_geometry_column(grp["wkt"].tolist(), x, y, zoom, extent)
        props = []
        if include_doc_refs:
            docs = grp["doc_id"].to_numpy()[order].tolist()
            offs = [int(v) for v in grp["span_offset"].to_numpy()[order]]
            props = [
                C.PropColumn("doc", "string", docs, nullable=True),
                C.PropColumn("span", "int32", offs, nullable=False),
            ]
        layer = C.LayerData(
            name=str(lname_arr[s]),
            extent=extent,
            geometry=g,
            ids=np.arange(len(grp), dtype=np.int64),
            props=props,
        )
        part += C.encode_layer(layer)
        n_vertices += g.vertices.shape[0] // 2
    return (x, y, len(pdf), n_vertices, part)


def encode_tiles(
    features: DataFrame,
    zoom: int,
    extent: int = 4096,
    layer_col: str | None = None,
    n_salt: int | str = "auto",
    salt_target: int = DEFAULT_SALT_TARGET,
    include_doc_refs: bool = False,
) -> DataFrame:
    """features (doc_id, span_offset, wkt, rep_lon, rep_lat[, layer]) → one
    row per tile: (z, x, y, n_features, n_vertices, byte_size, tile binary).

    With ``layer_col`` the kernel encodes one FeatureTable block per
    thematic layer inside each tile (the reference's per-layer loop,
    MltConverter.java:408-509); layer blocks concatenate like salted parts.
    ``n_salt="auto"`` (default) fans hot tiles out by their own feature
    count — see ``_with_salt``.
    """
    tiled = features.select(
        "doc_id",
        "span_offset",
        "wkt",
        (F.col(layer_col) if layer_col else F.lit(LAYER_NAME)).alias("_layer"),
        TM.lon_to_tile_x(F.col("rep_lon"), zoom).alias("x"),
        TM.lat_to_tile_y(F.col("rep_lat"), zoom).alias("y"),
    )
    kernel = partial(_encode_rep_group, zoom=zoom, extent=extent, include_doc_refs=include_doc_refs)
    return _encode_pipeline(
        tiled, zoom, n_salt, salt_target, ("_layer", "doc_id", "span_offset"), kernel
    )


def _encode_clipped_group(
    x: int, y: int, pdf: pd.DataFrame, zoom: int, extent: int, buffer: int
) -> tuple | None:
    """``encode_tiles_clipped`` group kernel: clip each feature to tile
    (x, y)'s window grown by ``buffer``; None when nothing survives."""
    lo, hi = float(-buffer), float(extent + buffer)
    b = C.GeometryBuilder()

    def floor(pts: np.ndarray) -> np.ndarray:
        return np.floor(pts).astype(np.int64)

    for gt, coords, structure in (W.parse_wkt(w) for w in pdf["wkt"]):
        q = np.column_stack(TM.np_tile_local(coords[:, 0], coords[:, 1], x, y, zoom, extent))
        if gt in (W.GT_POINT, W.GT_MULTIPOINT):
            keep = q[(q[:, 0] >= lo) & (q[:, 0] <= hi) & (q[:, 1] >= lo) & (q[:, 1] <= hi)]
            if keep.shape[0]:
                b.add(C.MLT_POINT if keep.shape[0] == 1 else C.MLT_MULTIPOINT, [[floor(keep)]])
        elif gt in (W.GT_LINESTRING, W.GT_MULTILINESTRING):
            ci = 0
            lines: list[np.ndarray] = []
            for (n,) in structure:
                lines.extend(CL.clip_line(q[ci : ci + n], lo, lo, hi, hi))
                ci += n
            parts = [[floor(p)] for p in lines if p.shape[0] >= 2]
            if parts:
                b.add(C.MLT_LINESTRING if len(parts) == 1 else C.MLT_MULTILINESTRING, parts)
        else:  # polygon / multipolygon
            ci = 0
            polys: list[list[np.ndarray]] = []
            for part in structure:
                rings: list[np.ndarray] = []
                for j, n in enumerate(part):
                    ring = q[ci : ci + n - 1] if n > 1 else q[ci : ci + n]  # drop closing
                    ci += n  # advance past every ring, kept or not
                    if j and not rings:
                        continue  # outer ring gone ⇒ whole part gone
                    clipped = CL.clip_ring(ring, lo, lo, hi, hi)
                    if clipped.shape[0] >= 3:
                        rings.append(floor(clipped))
                if rings:
                    polys.append(rings)
            if polys:
                b.add(C.MLT_POLYGON if len(polys) == 1 else C.MLT_MULTIPOLYGON, polys)
    if not b.types:
        return None
    g = b.finish()
    n_feat = len(b.types)
    part = C.encode_layer(C.LayerData(LAYER_NAME, extent, g, ids=np.arange(n_feat, dtype=np.int64)))
    return (x, y, n_feat, g.vertices.shape[0] // 2, part)


def encode_tiles_clipped(
    features: DataFrame,
    zoom: int,
    extent: int = 4096,
    buffer: int = 64,
    n_salt: int | str = "auto",
    salt_target: int = DEFAULT_SALT_TARGET,
) -> DataFrame:
    """Spanning-feature tiler: every feature lands in every tile its bbox
    touches (declarative sequence-explode — no Python) and is geometrically
    clipped to that tile's buffered window inside the encode kernel
    (Sutherland–Hodgman / Liang–Barsky, functions/clip.py). The MVT-style
    ``buffer`` (extent units) lets renderers stitch seams."""
    x_lo = TM.lon_to_tile_x(F.col("lon_min"), zoom)
    x_hi = TM.lon_to_tile_x(F.col("lon_max"), zoom)
    y_lo = TM.lat_to_tile_y(F.col("lat_max"), zoom)  # y grows southward
    y_hi = TM.lat_to_tile_y(F.col("lat_min"), zoom)
    tiled = (
        features.select(
            "doc_id",
            "span_offset",
            "wkt",
            F.explode(F.sequence(x_lo, x_hi)).alias("x"),
            y_lo.alias("_y0"),
            y_hi.alias("_y1"),
        )
        .select(
            "doc_id",
            "span_offset",
            "wkt",
            "x",
            F.explode(F.sequence(F.col("_y0"), F.col("_y1"))).alias("y"),
        )
    )
    kernel = partial(_encode_clipped_group, zoom=zoom, extent=extent, buffer=buffer)
    return _encode_pipeline(tiled, zoom, n_salt, salt_target, ("doc_id", "span_offset"), kernel)


def _merge_children(parent: tuple, pdf: pd.DataFrame, extent: int) -> pd.DataFrame:
    """``build_parent_tiles`` group kernel: child tiles (x, y, tile) of
    parent (z, x, y) → one parent TILE_SCHEMA row with its z."""
    pz, px, py = (int(k) for k in parent)
    per_layer: dict[str, C.GeometryBuilder] = {}
    for cx, cy, blob in zip(pdf["x"], pdf["y"], pdf["tile"]):
        ox = (int(cx) & 1) * extent // 2
        oy = (int(cy) & 1) * extent // 2
        for la in C.decode_tile(bytes(blob)):
            v = la.geometry.vertices.copy()
            v[0::2] = v[0::2] // 2 + ox
            v[1::2] = v[1::2] // 2 + oy
            per_layer.setdefault(la.name, C.GeometryBuilder()).extend(replace(la.geometry, vertices=v))
    parts = b""
    n_feat = 0
    n_vert = 0
    for lname in sorted(per_layer):
        merged = per_layer[lname].finish()
        n = merged.types.shape[0]
        parts += C.encode_layer(C.LayerData(lname, extent, merged, ids=np.arange(n, dtype=np.int64)))
        n_feat += n
        n_vert += merged.vertices.shape[0] // 2
    return pd.DataFrame(
        {"z": [pz], "x": [px], "y": [py], "n_features": [n_feat], "n_vertices": [n_vert], "part": [parts]}
    )


def build_parent_tiles(tiles: DataFrame, extent: int = 4096) -> DataFrame:
    """One pyramid level up: merge each 2×2 block of child tiles into a
    parent tile — decode children, halve + offset coordinates into the
    parent's extent space, re-encode per layer. The tiling analog of a
    hypertable rollup: a single shuffle on the parent key, Arrow kernels do
    the geometry work. Apply iteratively for a full overview pyramid."""
    parent = tiles.select(
        (F.col("z") - 1).cast("int").alias("pz"),
        F.shiftrightunsigned(F.col("x"), 1).cast("int").alias("px"),
        F.shiftrightunsigned(F.col("y"), 1).cast("int").alias("py"),
        "x",
        "y",
        "tile",
    )
    # the parent zoom comes from the group key — no driver-side action
    out = parent.groupBy("pz", "px", "py").applyInPandas(
        lambda key, pdf: _merge_children(key, pdf, extent), schema="z int, " + TILE_SCHEMA
    )
    return out.select(
        "z",
        "x",
        "y",
        "n_features",
        "n_vertices",
        F.length("part").cast("long").alias("byte_size"),
        F.col("part").alias("tile"),
    )


def transcode_tiles(tiles: DataFrame, use_fsst: bool = True, fixture_rules: bool = False) -> DataFrame:
    """Distributed MLT→MLT transcode: decode each tile to values and
    re-encode (mlt_codec.reencode_tile) inside Arrow batches — the scale
    form of the whole-tile parity path (byte-exact on all 134 reference
    fixtures). Returns per-tile in/out sizes and an exactness flag, useful
    as a re-compression/validation pass over an existing tile table."""

    def tr(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for z, x, y, blob in zip(pdf["z"], pdf["x"], pdf["y"], pdf["tile"]):
                raw = bytes(blob)
                out = C.reencode_tile(raw, use_fsst=use_fsst, fixture_rules=fixture_rules)
                rows.append((int(z), int(x), int(y), len(raw), len(out), out == raw, out))
            yield pd.DataFrame(
                rows,
                columns=["z", "x", "y", "bytes_in", "bytes_out", "byte_exact", "tile"],
            )

    return tiles.mapInPandas(
        tr,
        schema="z int, x int, y int, bytes_in long, bytes_out long, byte_exact boolean, tile binary",
    )


def write_tiles(tiles: DataFrame, path: str, partition_by_zoom: bool = True) -> None:
    """Tile sink: parquet of (z,x,y,tile) — the distributed analog of the
    reference's MLT file sink (Encode.java:394-418)."""
    w = tiles.write.mode("overwrite")
    if partition_by_zoom:
        w = w.partitionBy("z")
    w.parquet(path)


def decode_tiles_membership(tiles: DataFrame) -> DataFrame:
    """Inverse operator for verification: decode every tile back to
    (z, x, y, feature_id, geom_type, n_vertices) rows via Arrow batches."""

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for z, x, y, blob in zip(pdf["z"], pdf["x"], pdf["y"], pdf["tile"]):
                for la in C.decode_tile(bytes(blob)):
                    feats = C.geometry_to_features(la.geometry)
                    for fid, (gt, parts) in zip(la.ids.tolist(), feats):
                        nv = sum(r.shape[0] for p in parts for r in p)
                        rows.append((int(z), int(x), int(y), int(fid), int(gt), int(nv)))
            yield pd.DataFrame(
                rows, columns=["z", "x", "y", "feature_id", "geom_type", "n_vertices"]
            )

    return tiles.mapInPandas(dec, schema="z int, x int, y int, feature_id long, geom_type int, n_vertices long")


def transcode_mvt_tiles(
    tiles: DataFrame, use_fastpfor: bool = False, use_fsst: bool = False
) -> DataFrame:
    """Distributed MVT→MLT transcode under the reference CLI's default
    config (functions/mlt_cli.py — byte-exact vs the compiled reference
    converter, FIXTURES.md §8). Input: (z, x, y, tile) with MVT bytes, e.g.
    from sources.mbtiles.read_mbtiles; output adds before/after sizes so a
    compression report is one aggregate away. Embarrassingly parallel — one
    Arrow batch of tiles per task, no shuffle."""
    from maplibre_tile_spec_spark.functions import mlt_cli as CLI

    def tc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for z, x, y, blob in zip(pdf["z"], pdf["x"], pdf["y"], pdf["tile"]):
                mvt = bytes(blob)
                # per-tile error row instead of killing the job: the
                # reference converter itself rejects some real tiles
                # (mixed-type properties without --coerce), and at corpus
                # scale one such tile must not abort the whole transcode
                try:
                    mlt = CLI.convert_mvt(mvt, use_fastpfor=use_fastpfor, use_fsst=use_fsst)
                    rows.append((int(z), int(x), int(y), len(mvt), len(mlt), mlt, None))
                except (ValueError, NotImplementedError) as e:
                    rows.append((int(z), int(x), int(y), len(mvt), None, None, str(e)))
            yield pd.DataFrame(
                rows, columns=["z", "x", "y", "mvt_bytes", "mlt_bytes", "tile", "error"]
            )

    return tiles.mapInPandas(
        tc,
        schema=(
            "z int, x int, y int, mvt_bytes long, mlt_bytes long, "
            "tile binary, error string"
        ),
    )
