"""The workloads. Each generates its input from the seed, derives the
expected output with ``reference``, and runs one pass of the engine's
public functions per call to ``run_pass``, wrapped in layer spans.

A pass always forces each layer's output at the layer boundary (persist and
count, a collect, or a write), traced or not, so tracing adds only the spans
and job groups.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from maplibre_tile_spec_spark.operators import dedup as D
from maplibre_tile_spec_spark.operators import dedup_incremental as DI
from maplibre_tile_spec_spark.operators import features as FE
from maplibre_tile_spec_spark.operators import spatial as SP
from maplibre_tile_spec_spark.operators import tiler
from maplibre_tile_spec_spark.sources import iceberg, synth
from perfbench import checks as K
from perfbench import reference as R

#: input sizes per workload; perfbench/README.md gives the measured share of a
#: pass that grows with the input at these sizes
SIZES = {
    "geo_ingest": {"docs": 50_000, "polygons": 200, "zoom": 7},
    "doc_dedup": {"docs": 800, "skew_cluster": 60},
}

#: tiles kept from the warm-up pass for the in-process codec timing
CODEC_SAMPLE = 64


@dataclass
class PassOutcome:
    docs: int
    errors: list[str]
    #: benchmark-side counts of this pass (features, tiles, pairs …)
    counts: dict[str, float] = field(default_factory=dict)


def _pid(feats):
    """Numeric feature id matching ``reference.point_ids``."""
    return (F.substring("doc_id", 5, 32).cast("long") * 8 + F.col("span_offset")).alias("pid")


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's marker files."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def _read_parquet(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


class Workload:
    """Set-up is split in three: ``generate`` writes the seeded input (timed
    several times), ``standing`` builds what the engine keeps between
    passes (timed once), ``reference`` derives the expected outputs (not
    timed; it is the checker's cost, not the system's)."""

    name = ""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.size = SIZES[self.name]
        self.input_dir = ""

    def generate(self, path: str) -> None:
        raise NotImplementedError

    def standing(self, path: str) -> None:
        self.input_dir = path

    def reference(self) -> None:
        raise NotImplementedError

    def run_pass(self, pass_id: int) -> PassOutcome:
        raise NotImplementedError

    def span(self, name: str):
        return self.tracer.span(name)

    def _load(self, name: str):
        with self.span("sources.scan"):
            df, _ = iceberg.load_documents(self.spark, os.path.join(self.input_dir, name))
        return df


class GeoIngest(Workload):
    """The BASELINE pipeline with its sinks: read → extract_features
    (persisted once) → two concurrent legs, rep-point encode_tiles into
    write_tiles and pip_join into parquet."""

    name = "geo_ingest"

    def generate(self, path):
        synth.synthesize_documents(
            self.spark, self.size["docs"], seed=self.seed, partitions=self.spark.sparkContext.defaultParallelism
        ).write.mode("overwrite").parquet(os.path.join(path, "docs"))

    def standing(self, path):
        super().standing(path)
        # the polygon dimension table is cached before any pass
        polys = os.path.join(path, "polygons")
        synth.synthesize_polygons(self.spark, self.size["polygons"], seed=self.seed).write.mode("overwrite").parquet(
            polys
        )
        self.polys = self.spark.read.parquet(polys).cache()
        self.polys.count()

    def reference(self):
        feats = R.geom_spans(_read_parquet(os.path.join(self.input_dir, "docs")))
        self.expected_tiles = R.rep_point_membership(feats, self.size["zoom"])
        self.expected_pip = R.pip_pairs(
            R.point_ids(feats),
            feats["lon"].to_numpy(),
            feats["lat"].to_numpy(),
            _read_parquet(os.path.join(self.input_dir, "polygons")),
        )
        self.codec_sample: list[bytes] = []

    def run_pass(self, pass_id):
        out = os.path.join(self.work, "out", f"pass-{pass_id}")
        docs = self._load("docs")
        with self.span("features.parse"):
            feats = FE.extract_features(docs).persist()
            n_feats = feats.count()
        pts = feats.select(_pid(feats), F.col("rep_lon").alias("lon"), F.col("rep_lat").alias("lat"))

        def tiles_leg():
            with self.span("tiler.encode"):
                tiles = tiler.encode_tiles(feats, zoom=self.size["zoom"], n_salt="auto").persist()
                n = tiles.count()
            with self.span("sink.write"):
                tiler.write_tiles(tiles, os.path.join(out, "tiles"))
            tiles.unpersist()
            return n

        def pip_leg():
            with self.span("spatial.pip"):
                pairs = SP.pip_join(pts, self.polys, id_type="long").persist()
                n = pairs.count()
            with self.span("sink.write"):
                pairs.write.mode("overwrite").parquet(os.path.join(out, "pip"))
            pairs.unpersist()
            return n

        # the legs are independent jobs over the cached features, submitted
        # concurrently as the BASELINE pipeline does
        with ThreadPoolExecutor(2) as ex:
            f_tiles, f_pip = ex.submit(tiles_leg), ex.submit(pip_leg)
            n_tiles, n_pip = f_tiles.result(), f_pip.result()
        feats.unpersist()
        with self.span("check"):
            t = pq.read_table(os.path.join(out, "tiles"), columns=["x", "y", "tile"]).to_pydict()
            got = K.decode_membership(zip(t["x"], t["y"], t["tile"]))
            errors = K.check_membership(got, self.expected_tiles)
            errors += K.check_pairs(_read_parquet(os.path.join(out, "pip")), self.expected_pip)
        if not self.codec_sample:
            # the largest tiles: a fixed choice for a given seed
            self.codec_sample = sorted(t["tile"], key=len, reverse=True)[:CODEC_SAMPLE]
        files, size = _dir_stats(out)
        shutil.rmtree(out, ignore_errors=True)
        return PassOutcome(
            self.size["docs"],
            errors,
            {
                "features": n_feats,
                "tiles": n_tiles,
                "tile_bytes": sum(len(b) for b in t["tile"]),
                "tile_features": int(got["count"].sum()),
                "pip_hits": n_pip,
                "sink_files": files,
                "sink_bytes": size,
            },
        )


class DocDedup(Workload):
    """Incremental near-duplicate dedup: a band store and cluster map over
    80% of the corpus stand between batches (set-up: minhash_band_table →
    write_band_store, pairs_from_bands → cluster_assign); each pass
    deduplicates the 20% delta against them (lsh_dedup_incremental →
    updated_assignment). The check is the full recompute over the whole
    corpus (lsh_candidate_pairs → cluster_assign)."""

    name = "doc_dedup"

    def generate(self, path):
        corpus = R.near_dup_corpus(self.seed, self.size["docs"], self.size["skew_cluster"])
        os.makedirs(os.path.join(path, "corpus"), exist_ok=True)
        pq.write_table(
            pa.Table.from_pandas(corpus[["doc_id", "text"]], preserve_index=False),
            os.path.join(path, "corpus", "part-0.parquet"),
        )

    def standing(self, path):
        super().standing(path)
        old = self._load("corpus").filter(F.col("doc_id") % 5 != 0)
        with self.span("dedup.bootstrap"):
            self.table = DI.ensure_store_table(self.spark, "perfbench", location=os.path.join(self.work, "stores"))
            bands = DI.minhash_band_table(old).persist()
            DI.write_band_store(bands, self.table)
            pairs = D.pairs_from_bands(bands).persist()
            pairs.count()
            bands.unpersist()
            self.cluster_map = (
                D.cluster_assign(old.select("doc_id"), pairs)
                .select(F.col("doc_id").alias("id"), "cluster_id")
                .persist()
            )
            self.cluster_map.count()
            pairs.unpersist()
        self.store_files, _ = _dir_stats(os.path.join(self.work, "stores", self.table.split(".", 1)[1]))

    def reference(self):
        docs = self._load("corpus")
        with self.span("dedup.lsh"):
            pairs = D.lsh_candidate_pairs(docs)
            self.candidate_pairs = pairs.count()
        with self.span("dedup.cc"):
            self.full = (
                D.cluster_assign(docs.select("doc_id"), pairs)
                .select(F.col("doc_id").alias("id"), "cluster_id")
                .toPandas()
            )
        pairs.unpersist()

    def run_pass(self, pass_id):
        new = self._load("corpus").filter(F.col("doc_id") % 5 == 0)
        with self.span("dedup.incremental"):
            res = DI.lsh_dedup_incremental(new, self.spark.table(self.table), self.cluster_map)
            merged = DI.updated_assignment(self.cluster_map, res).toPandas()
        for df in (res.new_assign, res.remap, res.new_bands):
            df.unpersist()
        with self.span("check"):
            errors = K.check_assignment(merged, self.full)
            if self.candidate_pairs == 0:
                errors.append("the corpus has no near-duplicate pairs")
        return PassOutcome(
            int((self.full["id"] % 5 == 0).sum()),
            errors,
            {"candidate_pairs": self.candidate_pairs, "store_files": self.store_files},
        )


WORKLOADS = {w.name: w for w in (GeoIngest, DocDedup)}
