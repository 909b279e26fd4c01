"""The three workloads, built only from public package functions.

A workload has a ``setup`` (table registration and the statistics the
engine derives from the tables) and a fixed cycle of operations.  An
operation builds its DataFrame through the layer's public function, under
a span named for that layer.  Its timed sink is Spark's ``noop`` writer on
the full output.  The check is a separate, untimed action: an
order-independent checksum of the output columns the oracle predicts,
compared with the checksum of the oracle's expected rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from . import oracles as O
from .inputs import CACHE, Inputs, raster_pixels

GEO = "http://www.opengis.net/ont/geosparql#asWKT"
G2 = "http://www.opengis.net/ont/geosparqlplus#"
SPARQL_WITHIN = (
    "SELECT ?img ?zone WHERE { ?img a geo2:Image . ?zone a geo2:Zone . "
    "?img geo:sfWithin ?zone }"
)
RESIZE_MAX_SIDE = 8
PHASH_MAX_HAMMING = 6
RASTER_MULT = 3.0


@dataclass
class Op:
    name: str
    layer: str  # layer the operation's span is named for
    build: Callable  # (tracer) -> DataFrame; wraps each layer call in a span
    rows: int  # input rows the operation consumes
    expected: Callable[[], pd.DataFrame]  # oracle: every expected output row
    project: Callable = lambda df: df  # the output columns the oracle predicts (check only)
    key: str = ""  # oracle cache key (default: name)
    stats: dict = field(default_factory=dict)  # filled by operators that report stats
    pre: Callable | None = None  # (tracer) -> None, run untimed before each build

    def __post_init__(self):
        self.key = self.key or self.name


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def checksum(df) -> tuple[int, int, int]:
    """(rows, sum of high hash bits, xor of hashes) over all rows: equal
    for equal row multisets, in any order and partitioning."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns])
    r = df.agg(
        F.count(F.lit(1)), F.sum(F.shiftrightunsigned(h, 33)), F.bit_xor(h)
    ).collect()[0]
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def _read_pd(path: str, cols: list[str]) -> pd.DataFrame:
    return pq.read_table(path, columns=cols).to_pandas()


def event_points(fixtures: str) -> pd.DataFrame:
    """Event points from the documented integer hash of event_id."""
    eid = pq.read_table(f"{fixtures}/events.parquet", columns=["event_id"]).column(0).to_numpy()
    lon = ((eid * 2654435761) % 360000000).astype(np.float64) / 1000000.0 - 180.0
    lat = ((eid * 2246822519) % 180000000).astype(np.float64) / 1000000.0 - 90.0
    return pd.DataFrame({"event_id": eid, "lon": lon, "lat": lat})


class Workload:
    name = ""

    def __init__(self, inp: Inputs, cpus: int):
        self.inp = inp
        self.cpus = cpus
        self._checksums: dict[str, tuple] = {}

    def expected_checksum(self, spark, op: Op, schema) -> tuple:
        """Checksum of the oracle's rows, computed once per run.  The rows
        are loaded into Spark with the output's schema so both sides hash
        the same types."""
        if op.key not in self._checksums:
            want = op.expected()[schema.fieldNames()]
            self._checksums[op.key] = checksum(spark.createDataFrame(want, schema))
        return self._checksums[op.key]

    def setup(self, spark, tr) -> None:  # pragma: no cover - abstract
        raise NotImplementedError

    def ops(self, spark) -> list[Op]:  # pragma: no cover - abstract
        raise NotImplementedError

    def extra_ops(self, spark) -> list[Op]:
        """Untimed operations checked once after the timed loop."""
        return []

    def probes(self, spark) -> dict[str, Callable]:
        """Traced-run only: named cumulative plan prefixes whose walls
        split one plan's execution time between its layers."""
        return {}

    def ddb(self, name: str) -> Callable[[], pd.DataFrame]:
        return lambda: O.duckdb_oracle(name, self.inp.fixtures, CACHE)


# ---------------------------------------------------------------- tile_ingest --


class TileIngest(Workload):
    """Batch pass: verify -> candidates -> tiles -> tile shuffle -> refine."""

    name = "tile_ingest"
    STAGES = ("image.verify", "spatial_join.candidates", "tiling.assign",
              "tiling.repartition", "spatial_join.refine")

    def setup(self, spark, tr):
        from jena_geo_spark.operators.spatial_join import build_zone_covers, spatial_join_candidates
        from jena_geo_spark.operators.tiling import assign_tiles, detect_hot_tiles

        d = self.inp.ingest_dir
        with tr.span("tables.register"):
            self.imgs = spark.read.parquet(f"{d}/images.parquet").select(
                "image_id", "caption", "lon", "lat", "cell_fine", "bytes", "w", "h", "fmt", "phash"
            )
            zones = [(r.zone_id, r.geom_wkt) for r in spark.read.parquet(f"{d}/zones.parquet").collect()]
        with tr.span("spatial_join.covers"):
            self.covers = build_zone_covers(zones)
        with tr.span("tiling.hot_tiles"):
            self.hot = detect_hot_tiles(
                assign_tiles(spatial_join_candidates(spark, self.imgs, self.covers), tile_res=6),
                hot_share=0.5 / self.cpus,
            )

    def _stages(self, spark, tr, strategy="broadcast"):
        """Yield the pipeline's cumulative plans, one per layer call."""
        from pyspark.sql import functions as F

        from jena_geo_spark.image.spark import with_phash_verified
        from jena_geo_spark.operators.spatial_join import refine_candidates, spatial_join_candidates
        from jena_geo_spark.operators.tiling import assign_tiles, repartition_by_tile

        with tr.span("image.verify"):
            df = with_phash_verified(self.imgs).filter(F.col("phash_ok")).drop(
                "bytes", "w", "h", "fmt", "phash_ok"
            )
        yield df
        with tr.span("spatial_join.candidates"):
            df = spatial_join_candidates(spark, df, self.covers, strategy=strategy)
        yield df
        with tr.span("tiling.assign"):
            df = assign_tiles(df, tile_res=6)
        yield df
        with tr.span("tiling.repartition"):
            df = repartition_by_tile(df, hot_tiles=self.hot, salt_buckets=2 * self.cpus)
        yield df
        with tr.span("spatial_join.refine"):
            df = refine_candidates(spark, df, self.covers)
        yield df

    def _op(self, spark, name, strategy):
        d = self.inp.ingest_dir
        return Op(
            name, "flagship", lambda tr: list(self._stages(spark, tr, strategy))[-1],
            self.inp.scale.ingest_images,
            lambda: O.tile_rows(_read_pd(f"{d}/images.parquet", ["image_id", "lon", "lat"]),
                                _read_pd(f"{d}/zones.parquet", ["zone_id", "geom_wkt"])),
            lambda df: df.select("image_id", "zone_id", "tile_id"),
            key="flagship",
        )

    def ops(self, spark):
        return [self._op(spark, "flagship", "broadcast")]

    def extra_ops(self, spark):
        """The salted join route must return exactly the broadcast rows."""
        return [self._op(spark, "flagship_salted", "salted")]

    def probes(self, spark):
        return {
            name: (lambda tr, i=i: list(self._stages(spark, tr))[i])
            for i, name in enumerate(self.STAGES)
        }


# -------------------------------------------------------------- geosparql_mix --


class GeosparqlMix(Workload):
    """Closed loop, one client, cycling eight interactive queries."""

    name = "geosparql_mix"

    def setup(self, spark, tr):
        from pyspark.sql import functions as F

        from jena_geo_spark import sparql as S
        from jena_geo_spark.contract import points_from_events

        d = self.inp.mix_dir
        with tr.span("tables.register"):
            self.imgs = spark.read.parquet(f"{d}/images.parquet").select(
                "image_id", "geom_wkt", "lon", "lat", "cell_fine"
            )
            zones = spark.read.parquet(f"{d}/zones.parquet")
            self.model = S.UnionModel([
                S.PropertyTable(
                    self.imgs, id_col="image_id", subject_prefix="i:", type_iri=G2 + "Image",
                    props={GEO: S.PropSpec("geom_wkt", kind="wkt_point", lon="lon", lat="lat")},
                ),
                S.PropertyTable(
                    zones, id_col="zone_id", subject_prefix="z:", type_iri=G2 + "Zone",
                    props={GEO: S.PropSpec("geom_wkt", kind="wkt_polygon")},
                ),
            ])
            self.pts = self.imgs.select(F.col("image_id").alias("id"), "lon", "lat")
            self.left = spark.read.parquet(f"{d}/knn_left.parquet")
            self.tri = spark.read.parquet(f"{d}/tri.parquet")
            self.ev_pts = points_from_events(spark, self.inp.fixtures).select("event_id", "lon", "lat")

    def ops(self, spark):
        from jena_geo_spark import contract as C
        from jena_geo_spark import sparql as S
        from jena_geo_spark.operators.knn import knn_join, knn_join_frames
        from jena_geo_spark.operators.spatial_join import (
            dwithin_join_points_points,
            pip_join_points_polygons_frames,
            polygon_join_frames,
        )

        d, fx, p = self.inp.mix_dir, self.inp.fixtures, self.inp.params()
        n = self.inp.scale.mix_images
        n_left = pq.read_metadata(f"{d}/knn_left.parquet").num_rows
        n_tri = self.inp.scale.n_tri
        n_ev = pq.read_metadata(f"{fx}/events.parquet").num_rows
        q = p["knn_queries"]

        def imgs():
            return _read_pd(f"{d}/images.parquet", ["image_id", "lon", "lat"])

        def left():
            return _read_pd(f"{d}/knn_left.parquet", ["id", "lon", "lat"])

        def tri():
            return _read_pd(f"{d}/tri.parquet", ["id", "wkt"])

        def parse(tr):
            with tr.span("sparql.parse"):
                S.parse_query(SPARQL_WITHIN)

        def sparql_within(tr):
            with tr.span("sparql.build"):
                return S.execute_query(spark, SPARQL_WITHIN, self.model)

        def want_within():
            z, im = _read_pd(f"{d}/zones.parquet", ["zone_id", "geom_wkt"]), imgs()
            pairs = O.points_in_rings(im["image_id"], im["lon"], im["lat"],
                                      {zid: O.ring_of(w) for zid, w in zip(z["zone_id"], z["geom_wkt"])},
                                      ("img", "zone"))
            return pd.DataFrame({"img": "i:" + pairs["img"], "zone": "z:" + pairs["zone"]})

        def nearby(tr):
            with tr.span("sparql.build"):
                return C.q_sparql_nearby_poly(spark, fx)

        def knn_points(tr):
            with tr.span("knn.build"):
                return knn_join(spark, self.imgs.select("image_id", "lon", "lat", "cell_fine"),
                                [tuple(x) for x in q], k=p["knn_k"], id_col="image_id", n_hint=n)

        def want_knn():
            im = imgs()
            return O.knn_brute([x[0] for x in q], [x[1] for x in q], [x[2] for x in q],
                               im["image_id"], im["lon"], im["lat"], p["knn_k"],
                               ["query_id", "image_id", "dist", "rank"])

        frames_stats: dict = {}

        def knn_frames(tr):
            frames_stats.clear()
            with tr.span("knn.build"):
                return knn_join_frames(spark, self.left, self.pts, k=p["knn_frames_k"],
                                       n_hint=n, stats=frames_stats)

        def want_frames():
            lf, im = left(), imgs()
            return O.knn_brute(lf["id"], lf["lon"], lf["lat"], im["image_id"], im["lon"], im["lat"],
                               p["knn_frames_k"], ["id", "id_right", "dist", "rank"])

        def dwithin(tr):
            with tr.span("spatial_join.build"):
                return dwithin_join_points_points(spark, self.left, self.pts, p["dwithin_radius"])

        def want_dwithin():
            lf, im = left(), imgs()
            return O.dwithin_brute(lf["id"], lf["lon"], lf["lat"], im["image_id"], im["lon"],
                                   im["lat"], p["dwithin_radius"], ["id", "id_right", "dist"])

        def poly_join(tr):
            with tr.span("spatial_join.build"):
                return polygon_join_frames(spark, self.tri, id_col="id", wkt_col="wkt")

        def pip_frames(tr):
            with tr.span("spatial_join.build"):
                return pip_join_points_polygons_frames(spark, self.ev_pts, self.tri,
                                                       poly_id="id", wkt_col="wkt")

        def want_pip():
            ev, t = event_points(fx), tri()
            return O.points_in_rings(ev["event_id"], ev["lon"], ev["lat"],
                                     {i: O.ring_of(w) for i, w in zip(t["id"], t["wkt"])},
                                     ("event_id", "id"))

        def tile_hist(tr):
            with tr.span("contract.build"):
                return C.q_geo_tile_hist(spark, fx)

        def cols(*names):
            return lambda df: df.select(*names)

        return [
            Op("sparql_within", "sparql", sparql_within, n + 12, want_within, cols("img", "zone"),
               pre=parse),
            Op("sparql_nearby_poly", "sparql", nearby, n_ev, self.ddb("sparql_nearby_poly")),
            Op("knn_points", "knn", knn_points, n, want_knn,
               cols("query_id", "image_id", "dist", "rank")),
            Op("knn_frames", "knn", knn_frames, n + n_left, want_frames,
               cols("id", "id_right", "dist", "rank"), stats=frames_stats),
            Op("dwithin_frames", "spatial_join", dwithin, n + n_left, want_dwithin,
               cols("id", "id_right", "dist")),
            Op("polygon_join_frames", "spatial_join", poly_join, n_tri,
               lambda: O.polygon_pairs(tri()), cols("id_a", "id_b")),
            Op("pip_join_frames", "spatial_join", pip_frames, n_ev + n_tri, want_pip,
               cols("event_id", "id")),
            Op("tile_hist", "contract", tile_hist, n_ev, self.ddb("geo_tile_hist")),
        ]


# --------------------------------------------------------------- curate_batch --


class CurateBatch(Workload):
    """Batch pass over documents, images and raster tile pairs."""

    name = "curate_batch"

    def setup(self, spark, tr):
        d, fx = self.inp.mix_dir, self.inp.fixtures
        with tr.span("tables.register"):
            self.docs = spark.read.parquet(f"{fx}/documents.parquet")
            self.imgs = spark.read.parquet(f"{d}/images.parquet").select(
                "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
            )
            self.tiles = spark.read.parquet(f"{d}/rasters.parquet")

    def ops(self, spark):
        from pyspark.sql import functions as F

        from jena_geo_spark import contract as C
        from jena_geo_spark.functions import registry_support as RS
        from jena_geo_spark.image.resize import resize_images
        from jena_geo_spark.image.spark import phash_dedup_groups
        from jena_geo_spark.pipelines import dedup
        from jena_geo_spark.pipelines.curate import curate_documents
        from jena_geo_spark.raster import transform as RT

        d, fx = self.inp.mix_dir, self.inp.fixtures
        n_docs = pq.read_metadata(f"{fx}/documents.parquet").num_rows
        n_img = self.inp.scale.mix_images
        n_rast = pq.read_metadata(f"{d}/rasters.parquet").num_rows

        def minhash(tr):
            with tr.span("dedup.build"):
                return dedup.minhash_lsh_pairs(self.docs, threshold=0.2, hash_fn="arith")

        def jaccard(tr):
            with tr.span("dedup.build"):
                return C.q_doc_jaccard_pairs(spark, fx)

        def curate(tr):
            # the contract's q_doc_curate thresholds, so its oracle applies
            with tr.span("curate.build"):
                return curate_documents(self.docs, min_quality=0.65, max_top_bigram=0.2,
                                        max_dup_trigram=0.2)

        def groups(tr):
            with tr.span("image.build"):
                return phash_dedup_groups(self.imgs.select("image_id", "phash"),
                                          max_hamming=PHASH_MAX_HAMMING)

        def want_groups():
            im = _read_pd(f"{d}/images.parquet", ["image_id", "phash"])
            return O.phash_groups(im["image_id"], im["phash"], PHASH_MAX_HAMMING)

        def raster(tr):
            with tr.span("raster.build"):
                add, mulc = RS.rast2_udf("add"), RS.rastconst_udf("multiply")
                c = mulc(add(F.col("ra"), F.col("rb")), F.lit(-1), F.lit(RASTER_MULT))
                return self.tiles.select("event_id", RT.st_summarystats(c).alias("s")).select(
                    "event_id", F.col("s.sum").alias("px_sum"))

        def want_raster():
            eids = pq.read_table(f"{d}/rasters.parquet", columns=["event_id"]).column(0).to_numpy()
            a, b = raster_pixels(self.inp.seed, eids)
            return O.raster_sums(eids, a, b, RASTER_MULT)

        def resize(tr):
            with tr.span("image.build"):
                return resize_images(self.imgs, max_side=RESIZE_MAX_SIDE, out_fmt="raw")

        return [
            Op("minhash_lsh_pairs", "dedup", minhash, n_docs, self.ddb("doc_minhash_pairs")),
            Op("jaccard_pairs", "dedup", jaccard, n_docs, self.ddb("doc_jaccard_pairs")),
            Op("curate_documents", "curate", curate, n_docs, self.ddb("doc_curate")),
            Op("phash_groups", "image", groups, n_img, want_groups),
            Op("raster_chain", "raster", raster, n_rast, want_raster),
            Op("resize_images", "image", resize, n_img,
               lambda: O.resized(_read_pd(f"{d}/images.parquet", ["image_id", "w", "h", "caption"]),
                                 RESIZE_MAX_SIDE),
               lambda df: df.select("image_id", "w", "h", "fmt", "caption",
                                    F.length("bytes").alias("nbytes"))),
        ]

    def probes(self, spark):
        from jena_geo_spark.pipelines import dedup

        return {"dedup.signatures": lambda tr: dedup.minhash_signatures(self.docs, hash_fn="arith")}


WORKLOADS = {w.name: w for w in (TileIngest, GeosparqlMix, CurateBatch)}
