"""documents → feature extraction (the engine's scan-side operator).

Explodes ``geom`` spans out of the interleaved documents table with pure
Catalyst expressions (so span-kind filtering and column pruning push down),
then parses WKT inside one Arrow-batched ``mapInPandas`` — the only Python
step, and it is per-batch, not per-row. Mirrors the reference's
MVT-decode → Feature step (java/.../converter/mvt/MvtUtils.java:19-83) but
distributed: the unit of parallelism is an Arrow batch, not a tile.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from maplibre_tile_spec_spark.functions import wkt as W

FEATURES_SCHEMA = (
    "doc_id string, span_offset int, wkt string, geom_type int, "
    "rep_lon double, rep_lat double, "
    "lon_min double, lat_min double, lon_max double, lat_max double"
)


def extract_geom_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, span_offset, wkt) — declarative explode+filter, no Python."""
    s = F.explode("spans").alias("s")
    return (
        docs.select("doc_id", s)
        .filter(F.col("s.kind") == "geom")
        .select("doc_id", F.col("s.offset").alias("span_offset"), F.col("s.text").alias("wkt"))
    )


#: numeric WKT token, or the row terminator ``_ROW_END`` that
#: ``_parse_batch`` appends to every row (``float`` maps it to NaN)
_TOKEN_RE = re.compile(r"-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?|nan")
_ROW_END = "\nnan\n"

#: first "lon lat" pair after the opening paren — the representative point
#: (identical to ``_parse_batch``'s rep, which is the first vertex for every
#: geometry class)
_FIRST_PAIR_RE = r"\(\s*(-?[0-9.eE+-]+)\s+(-?[0-9.eE+-]+)"


def extract_rep_points(docs: DataFrame) -> DataFrame:
    """(doc_id, span_offset, wkt, rep_lon, rep_lat) with the representative
    point extracted by a JVM ``regexp_extract`` instead of the Arrow parse
    kernel — zero Python in the plan.

    The tile-encode path only consumes the rep point (tile assignment); the
    structural parse happens inside the encode kernel anyway, so routing
    the scan through :func:`extract_features` paid the JVM→Python→JVM
    round-trip of a full parse just to carry two doubles. ``regexp_extract``
    + ``cast('double')`` returns the exact same IEEE value as the Python
    parser (both are correctly-rounded decimal→binary conversions of the
    same token), verified value-for-value against ``extract_features`` at
    bench scale. Use :func:`extract_features` when bbox or geometry type is
    needed (e.g. the clipped tiler).

    A row with no coordinate pair (``POINT EMPTY``) does not become a NULL
    rep point: ``regexp_extract`` gives ``''`` and Spark 4's ANSI cast fails
    the query with ``CAST_INVALID_INPUT``."""
    spans = extract_geom_spans(docs)
    return spans.select(
        "doc_id",
        "span_offset",
        "wkt",
        F.regexp_extract("wkt", _FIRST_PAIR_RE, 1).cast("double").alias("rep_lon"),
        F.regexp_extract("wkt", _FIRST_PAIR_RE, 2).cast("double").alias("rep_lat"),
    )


def _parse_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized WKT summary (type, first vertex, bbox) for a whole Arrow
    batch, one path for every geometry class.

    Every valid 2D WKT has exactly 2·(commas+1) numeric tokens: each comma
    separates two vertices, including ring/part separators (a ring boundary
    "),(" contributes one comma and joins two vertex runs). So per-row
    comma counts come from ``str.count``, and the tokens from ONE
    regex pass over the batch with each row terminated by ``_ROW_END``,
    which the same regex matches and ``float`` maps to NaN: the NaN
    positions give each row's token count. A row whose count breaks the
    identity (3D coords, EMPTY, stray token) or that holds the terminator
    itself raises ``ValueError`` naming it, instead of shifting the
    coordinates of the rows after it. The x/y values are then the even/odd
    positions and the per-row rep point and bbox come from ``reduceat``."""
    wkts = pdf["wkt"]
    n = len(pdf)
    prefix = wkts.str.extract(r"^\s*([A-Za-z]+)", expand=False).str.upper()
    gts = prefix.map(W.TYPE_CODES)
    if gts.isna().any():
        i = int(np.flatnonzero(gts.isna().to_numpy())[0])
        raise ValueError(f"WKT row {i}: unknown geometry type: {wkts.iloc[i]!r:.120}")

    commas = np.fromiter((w.count(",") for w in wkts), dtype=np.int64, count=n)
    toks = _TOKEN_RE.findall(_ROW_END.join([*wkts, ""]))
    vals = np.fromiter(map(float, toks), dtype=np.float64, count=len(toks))
    ends = np.flatnonzero(np.isnan(vals))
    if ends.shape[0] != n:
        i = next(i for i, w in enumerate(wkts) if "nan" in _TOKEN_RE.findall(w))
        raise ValueError(f"WKT row {i}: unexpected token 'nan': {wkts.iloc[i]!r:.120}")
    counts = np.diff(ends, prepend=-1) - 1
    expect = 2 * (commas + 1)
    bad = np.flatnonzero(counts != expect)
    if bad.shape[0]:
        i = int(bad[0])
        raise ValueError(
            f"WKT row {i}: {counts[i]} numeric tokens, a 2D geometry with "
            f"{commas[i]} commas has {expect[i]}: {wkts.iloc[i]!r:.120}"
        )

    xy = np.delete(vals, ends)
    xs = xy[0::2]
    ys = xy[1::2]
    nv = counts // 2
    voffs = np.cumsum(nv) - nv
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "span_offset": pdf["span_offset"].astype("int32"),
            "wkt": wkts,
            "geom_type": gts.astype("int32"),
            "rep_lon": xs[voffs],
            "rep_lat": ys[voffs],
            "lon_min": np.minimum.reduceat(xs, voffs),
            "lat_min": np.minimum.reduceat(ys, voffs),
            "lon_max": np.maximum.reduceat(xs, voffs),
            "lat_max": np.maximum.reduceat(ys, voffs),
        }
    )


def extract_features(docs: DataFrame) -> DataFrame:
    """Parse WKT → typed features with representative point + bbox."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _parse_batch(pdf)

    return extract_geom_spans(docs).mapInPandas(parse, schema=FEATURES_SCHEMA)
