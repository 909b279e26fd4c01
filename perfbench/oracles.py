"""Independent output oracles.

None of these call the engine's operators: geometry is ray-cast and
distances are brute-forced in numpy from the raw inputs, raster sums are
recomputed from the seeded pixel arrays, and the contract queries replay
their DuckDB SQL (``jena_geo_spark.contract.ORACLES``) over the same
fixture files.  Each oracle returns the complete expected output as a
pandas DataFrame.
"""

from __future__ import annotations

import math
import os
import re

import numpy as np
import pandas as pd

_NUM = re.compile(r"-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?")


def ring_of(wkt: str) -> np.ndarray:
    """Exterior ring of a single-ring POLYGON WKT, closure dropped."""
    xy = np.array([float(v) for v in _NUM.findall(wkt)], dtype=np.float64).reshape(-1, 2)
    if len(xy) > 1 and (xy[0] == xy[-1]).all():
        xy = xy[:-1]
    return xy


def raycast(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd crossing rule: crossing iff (y1>py) != (y2>py) and
    px < (x2-x1)*(py-y1)/(y2-y1)+x1."""
    inside = np.zeros(px.shape, dtype=bool)
    m = len(ring)
    with np.errstate(divide="ignore", invalid="ignore"):
        for i in range(m):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % m]
            inside ^= ((y1 > py) != (y2 > py)) & (px < (x2 - x1) * (py - y1) / (y2 - y1) + x1)
    return inside


def points_in_rings(ids, lon, lat, rings: dict, cols: tuple[str, str]) -> pd.DataFrame:
    """(point id, ring id) for every point inside every ring."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ids = np.asarray(ids)
    order = np.argsort(lon, kind="stable")
    slon = lon[order]
    hits, owners = [], []
    for rid, ring in rings.items():
        lo = np.searchsorted(slon, ring[:, 0].min(), side="left")
        hi = np.searchsorted(slon, ring[:, 0].max(), side="right")
        sel = order[lo:hi]
        sel = sel[(lat[sel] >= ring[:, 1].min()) & (lat[sel] <= ring[:, 1].max())]
        hit = sel[raycast(lon[sel], lat[sel], ring)]
        hits.append(hit)
        owners += [rid] * len(hit)
    idx = np.concatenate(hits) if hits else np.empty(0, np.int64)
    return pd.DataFrame({cols[0]: ids[idx], cols[1]: owners})


def tile_ids(lon: np.ndarray, lat: np.ndarray, res: int = 6) -> np.ndarray:
    """Quadtree tile id at ``res``: (res << 56) | interleave(ix, iy)."""
    n = 1 << res
    ix = np.clip(np.floor((np.asarray(lon) + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((np.asarray(lat) + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    m = np.zeros(len(ix), dtype=np.int64)
    for b in range(res):
        m |= ((ix >> b) & 1) << (2 * b)
        m |= ((iy >> b) & 1) << (2 * b + 1)
    return m | np.int64(res << 56)


def rows_equal(got: pd.DataFrame, want: pd.DataFrame, what: str) -> list[str]:
    """Order-insensitive exact equality of two frames (floats compared
    bit-exactly, NaN equal to NaN).  Used to explain a checksum mismatch."""
    if list(got.columns) != list(want.columns):
        return [f"{what}: columns {list(got.columns)} != {list(want.columns)}"]

    def norm(df):
        return sorted(
            tuple("nan" if isinstance(v, float) and math.isnan(v) else v for v in r)
            for r in df.itertuples(index=False, name=None)
        )

    g, w = norm(got), norm(want)
    if len(g) != len(w):
        return [f"{what}: {len(g)} rows vs {len(w)} expected"]
    bad = [(a, b) for a, b in zip(g, w) if a != b]
    return [f"{what}: {len(bad)} rows differ, first {bad[:2]}"] if bad else []


# ---------------------------------------------------------------- geometry --


def tile_rows(images: pd.DataFrame, zones: pd.DataFrame) -> pd.DataFrame:
    """Expected (image_id, zone_id, tile_id) rows of the flagship pass.
    Every generated image carries a correct phash, so verification keeps
    all of them."""
    rings = {z: ring_of(w) for z, w in zip(zones["zone_id"], zones["geom_wkt"])}
    hit = points_in_rings(np.arange(len(images)), images["lon"], images["lat"], rings,
                          ("row", "zone_id"))
    row = hit["row"].to_numpy(dtype=np.int64)
    return pd.DataFrame({
        "image_id": images["image_id"].to_numpy()[row],
        "zone_id": hit["zone_id"].to_numpy(),
        "tile_id": tile_ids(images["lon"].to_numpy()[row], images["lat"].to_numpy()[row]),
    })


def knn_brute(qid, qx, qy, rid, rx, ry, k: int, cols: list[str]) -> pd.DataFrame:
    """Exact k nearest right rows of each query by (dist², id), with
    columns ``cols`` = (query id, right id, dist, rank)."""
    rid = np.asarray(rid)
    rx = np.asarray(rx, dtype=np.float64)
    ry = np.asarray(ry, dtype=np.float64)
    order = np.argsort(rx, kind="stable")
    sx, sy, sid = rx[order], ry[order], rid[order]
    out = []
    for q, x, y in zip(qid, qx, qy):
        r = 0.01
        while True:
            lo = np.searchsorted(sx, x - r, side="left")
            hi = np.searchsorted(sx, x + r, side="right")
            cx, cy = sx[lo:hi], sy[lo:hi]
            m = np.abs(cy - y) <= r
            cx, cy, cid = cx[m], cy[m], sid[lo:hi][m]
            d2 = (cx - x) * (cx - x) + (cy - y) * (cy - y)
            # the window holds every point within r, so the top k are
            # exact once the k-th lies within r (or the window is the world)
            if (len(d2) >= k and np.sort(d2)[k - 1] <= r * r) or r > 720:
                top = sorted(zip(d2.tolist(), cid.tolist()))[:k]
                out += [(q, i, math.sqrt(d), n + 1) for n, (d, i) in enumerate(top)]
                break
            r *= 4
    return pd.DataFrame(out, columns=cols)


def dwithin_brute(lid, lx, ly, rid, rx, ry, radius: float, cols: list[str]) -> pd.DataFrame:
    """Every (left id, right id, dist) pair with dist <= radius."""
    rx = np.asarray(rx, dtype=np.float64)
    ry = np.asarray(ry, dtype=np.float64)
    rid = np.asarray(rid)
    order = np.argsort(rx, kind="stable")
    sx, sy, sid = rx[order], ry[order], rid[order]
    out = []
    for i, x, y in zip(lid, lx, ly):
        lo = np.searchsorted(sx, x - radius, side="left")
        hi = np.searchsorted(sx, x + radius, side="right")
        dx, dy = sx[lo:hi] - x, sy[lo:hi] - y
        d = np.sqrt(dx * dx + dy * dy)
        m = d <= radius
        out += [(i, j, v) for j, v in zip(sid[lo:hi][m].tolist(), d[m].tolist())]
    return pd.DataFrame(out, columns=cols)


def _seg_cross(p1, p2, q1, q2) -> bool:
    def orient(a, b, c):
        return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])

    def on(a, b, c):
        return min(a[0], b[0]) <= c[0] <= max(a[0], b[0]) and min(a[1], b[1]) <= c[1] <= max(a[1], b[1])

    d1, d2 = orient(q1, q2, p1), orient(q1, q2, p2)
    d3, d4 = orient(p1, p2, q1), orient(p1, p2, q2)
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)) and d1 and d2 and d3 and d4:
        return True
    return ((d1 == 0 and on(q1, q2, p1)) or (d2 == 0 and on(q1, q2, p2))
            or (d3 == 0 and on(p1, p2, q1)) or (d4 == 0 and on(p1, p2, q2)))


def rings_intersect(a: np.ndarray, b: np.ndarray) -> bool:
    n, m = len(a), len(b)
    for i in range(n):
        for j in range(m):
            if _seg_cross(a[i], a[(i + 1) % n], b[j], b[(j + 1) % m]):
                return True
    return bool(raycast(a[:1, 0], a[:1, 1], b)[0] or raycast(b[:1, 0], b[:1, 1], a)[0])


def polygon_pairs(tri: pd.DataFrame) -> pd.DataFrame:
    """(id_a, id_b), id_a < id_b, for every intersecting polygon pair."""
    ids = tri["id"].tolist()
    rings = [ring_of(w) for w in tri["wkt"]]
    box = np.array([[r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()] for r in rings])
    out = []
    for i in range(len(ids)):
        j = np.nonzero((box[i + 1:, 0] <= box[i, 2]) & (box[i + 1:, 2] >= box[i, 0])
                       & (box[i + 1:, 1] <= box[i, 3]) & (box[i + 1:, 3] >= box[i, 1]))[0] + i + 1
        out += [tuple(sorted((ids[i], ids[jj]))) for jj in j.tolist()
                if rings_intersect(rings[i], rings[jj])]
    return pd.DataFrame(out, columns=["id_a", "id_b"])


# ------------------------------------------------------------------ images --


def phash_groups(image_id, phash, max_hamming: int) -> pd.DataFrame:
    """(image_id, group_id): components of the hamming <= max_hamming
    relation over distinct hashes; group id = the component's min hash."""
    uniq = sorted({int(h) for h in phash})
    arr = np.array(uniq, dtype=np.int64).view(np.uint64)
    parent = list(range(len(uniq)))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(len(uniq)):
        x = arr[i] ^ arr[i + 1:]
        dist = np.array([bin(int(v)).count("1") for v in x.tolist()], dtype=np.int64)
        for j in (np.nonzero(dist <= max_hamming)[0] + i + 1).tolist():
            a, b = find(i), find(j)
            if a != b:
                parent[max(a, b)] = min(a, b)
    label = {h: uniq[find(i)] for i, h in enumerate(uniq)}
    return pd.DataFrame({"image_id": list(image_id), "group_id": [label[int(h)] for h in phash]})


def resized(src: pd.DataFrame, max_side: int) -> pd.DataFrame:
    """Aspect-fit (w, h) never upscaled, raw RGB payload length, id and
    caption passed through."""
    def fit(a: int, longest: int) -> int:
        return a if longest <= max_side else max(1, round(a * max_side / longest))

    w, h = src["w"].tolist(), src["h"].tolist()
    nw = np.array([fit(a, max(a, b)) for a, b in zip(w, h)], dtype=np.int64)
    nh = np.array([fit(b, max(a, b)) for a, b in zip(w, h)], dtype=np.int64)
    return pd.DataFrame({
        "image_id": src["image_id"], "w": nw, "h": nh, "fmt": "raw",
        "caption": src["caption"], "nbytes": nw * nh * 3,
    })


# ------------------------------------------------------------------ raster --


def raster_sums(event_ids, a: np.ndarray, b: np.ndarray, mult: float) -> pd.DataFrame:
    """event id -> sum over pixels of (a + b) * mult."""
    s = ((a.astype(np.float64) + b.astype(np.float64)) * mult).reshape(len(a), -1).sum(axis=1)
    return pd.DataFrame({"event_id": np.asarray(event_ids), "px_sum": s})


# ------------------------------------------------------------------ DuckDB --


def duckdb_oracle(name: str, fixtures: str, cache_dir: str) -> pd.DataFrame:
    """Result of ``contract.ORACLES[name]`` over the fixture tables, cached
    per fixture directory (the fixtures never change)."""
    import duckdb

    from jena_geo_spark.contract import ORACLES

    path = os.path.join(cache_dir, "oracle", os.path.basename(fixtures), name + ".parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    # one thread: the oracle adds no threads to the run (and runs once
    # per checkout, so its speed does not matter)
    con = duckdb.connect(config={"threads": 1})
    con.execute("SET enable_progress_bar = false")
    for t in ("events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixtures}/{t}.parquet')")
    df = con.execute(ORACLES[name]).df()
    con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df
