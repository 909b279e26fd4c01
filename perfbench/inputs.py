"""Seeded benchmark inputs, generated once per (scale, seed) and cached.

Everything the engine receives is built here, from the seed alone:

* ``images`` / ``zones`` — ``jena_geo_spark.datagen.build_images`` and
  ``build_zones``, unchanged apart from the seed (no engine-derived column
  is added; ``cell_fine`` is what datagen itself writes);
* ``knn_left`` — a seeded 1 % sample of the image points;
* ``tri`` — seeded local triangles for the polygon joins;
* ``rasters`` — seeded 8x8 int32 raster tile pairs keyed by event id;
* ``params.json`` — the seeded kNN query points and the fixed query
  constants (k, radius).

The documents and events tables are fixed copies of the sf0.1 (and, for the
self-test, sf0.001) test data, vendored under ``fixtures/``.

The cache lives under ``perfbench/.cache`` inside the checkout; nothing is
written anywhere else.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")

RAST_W = RAST_H = 8
RAST_PIXTYPE = 7  # 32BSI


@dataclass(frozen=True)
class Scale:
    fixtures: str  # sub-directory of fixtures/ holding documents + events
    ingest_images: int  # tile_ingest table
    mix_images: int  # geosparql_mix + curate_batch image table
    n_tri: int  # polygons for the frame polygon joins
    n_raster: int  # raster tile pairs (first n event ids)


SCALES = {
    "full": Scale("sf0.1", 500_000, 200_000, 1000, 50_000),
    # self-test scale: sf0.001 fixtures, seconds per run
    "tiny": Scale("sf0.001", 2_000, 2_000, 40, 1_000),
}


def fixtures_dir(scale: Scale) -> str:
    return os.path.join(HERE, "fixtures", scale.fixtures)


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    # small row groups keep one file splittable across all cores, as the
    # engine's own datagen writes it
    pq.write_table(table, tmp, row_group_size=16384)
    os.replace(tmp, path)


def raster_pixels(seed: int, event_ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(n, H, W) int32 pixel stacks for the A and B tiles of each event."""
    rng = np.random.default_rng([seed, 3])
    shape = (len(event_ids), RAST_H, RAST_W)
    a = rng.integers(0, 251, size=shape, dtype=np.int32)
    b = rng.integers(0, 241, size=shape, dtype=np.int32)
    return a, b


def _rasters(seed: int, scale: Scale) -> pa.Table:
    from jena_geo_spark.raster import wkb_raster as WR

    ev = pq.read_table(os.path.join(fixtures_dir(scale), "events.parquet"), columns=["event_id"])
    eids = np.sort(ev.column("event_id").to_numpy())[: scale.n_raster]
    a, b = raster_pixels(seed, eids)

    def enc(px):
        return WR.encode(WR.Raster(
            0, 1.0, -1.0, 0.0, 0.0, 0.0, 0.0, 4326, RAST_W, RAST_H,
            [WR.Band(RAST_PIXTYPE, None, px, 0)],
        ))

    return pa.table({
        "event_id": pa.array(eids, pa.int64()),
        "ra": pa.array([enc(p) for p in a], pa.binary()),
        "rb": pa.array([enc(p) for p in b], pa.binary()),
    })


def _triangles(seed: int, n: int) -> pa.Table:
    """Local triangles (1-4 degrees across) around seeded anchors: most
    near the image clusters, the rest uniform, so the joins find work."""
    from jena_geo_spark import datagen

    rng = np.random.default_rng([seed, 2])
    n_near = n // 2
    which = rng.integers(0, len(datagen.CLUSTERS), n_near)
    cx = np.array([c[0] for c in datagen.CLUSTERS])[which] + rng.normal(0, 3.0, n_near)
    cy = np.array([c[1] for c in datagen.CLUSTERS])[which] + rng.normal(0, 3.0, n_near)
    ax = np.clip(np.concatenate([cx, rng.uniform(-175, 170, n - n_near)]), -175, 170)
    ay = np.clip(np.concatenate([cy, rng.uniform(-80, 75, n - n_near)]), -80, 75)
    size = rng.uniform(1.0, 4.0, n)
    ang = rng.uniform(0, 2 * np.pi, n)
    xs = np.stack([ax, ax + size * np.cos(ang), ax + 0.4 * size * np.cos(ang + 1.3)], 1)
    ys = np.stack([ay, ay + size * np.sin(ang), ay + 0.8 * size * np.sin(ang + 1.3)], 1)
    wkt = [
        "POLYGON(("
        + ", ".join(f"{x!r} {y!r}" for x, y in zip(list(xs[i]) + [xs[i, 0]], list(ys[i]) + [ys[i, 0]]))
        + "))"
        for i in range(n)
    ]
    return pa.table({
        "id": pa.array([f"t{seed % 1000:03d}_{i:06d}" for i in range(n)], pa.string()),
        "wkt": pa.array(wkt, pa.string()),
    })


def _params(seed: int) -> dict:
    """kNN query points: half around the image clusters, half uniform.
    Sixteen of them keep the ring-expansion work (set by the sparsest
    query) about the same from seed to seed."""
    from jena_geo_spark import datagen

    rng = np.random.default_rng([seed, 1])
    queries = []
    for i in range(16):
        if i % 2 == 0:
            cx, cy, cs = datagen.CLUSTERS[int(rng.integers(0, len(datagen.CLUSTERS)))]
            qx, qy = cx + rng.normal(0, cs), cy + rng.normal(0, cs)
        else:
            qx, qy = rng.uniform(-170, 170), rng.uniform(-80, 80)
        queries.append([f"q{i:02d}", float(qx), float(qy)])
    return {"knn_queries": queries, "knn_k": 10, "knn_frames_k": 5, "dwithin_radius": 0.002}


def _images_and_zones(seed: int, n: int, d: str) -> None:
    from jena_geo_spark import datagen

    if not os.path.exists(os.path.join(d, "images.parquet")):
        _write(datagen.build_images(n, seed=seed), os.path.join(d, "images.parquet"))
    if not os.path.exists(os.path.join(d, "zones.parquet")):
        _write(datagen.build_zones(seed=seed), os.path.join(d, "zones.parquet"))


@dataclass(frozen=True)
class Inputs:
    seed: int
    scale: Scale
    ingest_dir: str  # images/zones for tile_ingest
    mix_dir: str  # images/zones, knn_left, tri, rasters, params.json
    fixtures: str  # documents + events

    def params(self) -> dict:
        with open(os.path.join(self.mix_dir, "params.json")) as f:
            return json.load(f)


def ensure(seed: int, scale_name: str, workload: str) -> Inputs:
    """Generate (once) and return the inputs a workload needs."""
    root = _root(seed, scale_name)
    scale = SCALES[scale_name]
    ingest_dir = os.path.join(root, "ingest")
    mix_dir = os.path.join(root, "mix")
    inp = Inputs(seed, scale, ingest_dir, mix_dir, fixtures_dir(scale))
    os.makedirs(ingest_dir, exist_ok=True)
    os.makedirs(mix_dir, exist_ok=True)
    if workload == "tile_ingest":
        _images_and_zones(seed, scale.ingest_images, ingest_dir)
        return inp
    _images_and_zones(seed, scale.mix_images, mix_dir)
    p = os.path.join(mix_dir, "params.json")
    if not os.path.exists(p):
        with open(p + ".tmp", "w") as f:
            json.dump(_params(seed), f)
        os.replace(p + ".tmp", p)
    p = os.path.join(mix_dir, "knn_left.parquet")
    if not os.path.exists(p):
        img = pq.read_table(os.path.join(mix_dir, "images.parquet"), columns=["image_id", "lon", "lat"])
        rng = np.random.default_rng([seed, 4])
        keep = np.sort(rng.choice(img.num_rows, max(1, img.num_rows // 100), replace=False))
        _write(img.take(pa.array(keep)).rename_columns(["id", "lon", "lat"]), p)
    p = os.path.join(mix_dir, "tri.parquet")
    if not os.path.exists(p):
        _write(_triangles(seed, scale.n_tri), p)
    p = os.path.join(mix_dir, "rasters.parquet")
    if workload == "curate_batch" and not os.path.exists(p):
        _write(_rasters(seed, scale), p)
    return inp


def fingerprint(inp: Inputs) -> dict[str, str]:
    """sha256 of every cached input file (used by the self-test to show
    that one seed reproduces byte-identical inputs)."""
    import hashlib

    out = {}
    for d in (inp.ingest_dir, inp.mix_dir):
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as f:
                out[f"{os.path.basename(d)}/{name}"] = hashlib.sha256(f.read()).hexdigest()
    return out


def _root(seed: int, scale_name: str) -> str:
    s = SCALES[scale_name]
    sizes = f"{s.fixtures}-{s.ingest_images}-{s.mix_images}-{s.n_tri}-{s.n_raster}"
    return os.path.join(CACHE, "inputs", f"{sizes}-seed{seed}")


def clear(seed: int, scale_name: str) -> None:
    shutil.rmtree(_root(seed, scale_name), ignore_errors=True)

