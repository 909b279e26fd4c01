"""Distributed spatial join: cell-cover equi-join + exact refine.

The reference executes spatial joins as nested-loop SPARQL FILTER evaluation,
one binding pair at a time (ARQ; see SURVEY §2.5 — no join operator of its
own).  That is O(N·M) and single-threaded.  This operator re-architects it
for Spark at 10^12-row scale:

1.  polygons → resolution-adaptive **compact covers** (mixed-res quadtree
    cells, ``grid.cover_polygon``); each cover cell carries a ``full`` flag
    (cell entirely inside the polygon ⇒ refine skippable);
2.  points → ONE fine-res cell id (single vectorised pandas UDF), then
    per-cover-level ancestor cells derived with pure-Catalyst bit arithmetic
    (shift/mask on the packed int64 — no second UDF, no shuffle);
3.  equi-join on cell id — ``broadcast()`` when the polygon cover is small
    (the common case: dimension-table-sized zone sets), else a shuffle hash
    join with optional explicit **salting** of hot cells + AQE skew-join as
    backstop;
4.  exact refine: vectorised ray-casting point-in-polygon only for
    candidates from partial cells — zone rings ride an ``sc.broadcast``
    dict, the Arrow exchange carries just (lon, lat, zone_id), and the
    refine can be DEFERRED past the tile shuffle (``refine_candidates``)
    so each stage runs a single Python exchange;
5.  semantics: ``within``/``intersects`` for point-vs-polygon are identical;
    ``dwithin`` covers the buffered polygon and refines on true distance.

Cover cells at different resolutions are disjoint by construction (quadtree
BFS), and a point maps to exactly one ancestor per level ⇒ a (point, zone)
pair can match at most once ⇒ **no dedup shuffle needed** (the generic
compact-cover multi-match hazard in SURVEY §7.3 is designed out).

Scale notes:
* the point side is never shuffled on the broadcast path — the only wide
  exchange in the whole plan is the final ``repartitionByRange(tile_id)``
  the caller may add for tile assignment;
* column pruning: only (id, lon, lat[, payload cols the caller selects])
  flow through the join — never image ``bytes``;
* the per-level ancestor derivation keeps candidate generation inside
  whole-stage codegen;
* frame-scale variants with nothing driver-side: ``polygon_join_frames``
  (covers in mapInPandas + ancestor-emission equi-join),
  ``dwithin_join_points_points`` (grid-bucket 3×3 join, zero Python),
  and ``operators.knn.knn_join_frames``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import grid
from ..functions.vector import gc_cell
from ..geom import wkt as W
from ..partitioning import widen_if_narrow

FINE_RES = 24  # ~2.6 m cells at the equator; finer than any realistic cover


@dataclass
class ZoneCover:
    zone_id: str
    wkb: bytes
    cells: np.ndarray  # int64 cell ids (mixed res)
    full: np.ndarray  # bool per cell


def snap_cover_levels(
    cells: np.ndarray, ring: np.ndarray, level_stride: int, max_res: int = FINE_RES
) -> np.ndarray:
    """Snap cover cells onto every-``level_stride``-th resolution: cells at
    disallowed levels descend to the next allowed finer level, children
    disjoint from ``ring`` dropped (the union stays a superset of the
    polygon).  Bounds the number of DISTINCT cover levels, which bounds
    the probe-side ancestor fan-out of cover equi-joins."""
    cres = grid.cell_res(cells)
    snapped = (cres + level_stride - 1) // level_stride * level_stride
    snapped = np.minimum(snapped, max_res)
    parts_out = [cells[cres == snapped]]
    for r2 in sorted(set(snapped[cres != snapped].tolist())):
        src = cells[(cres != snapped) & (snapped == r2)]
        if len(src) == 0:
            continue
        desc, _ = grid.descendants_at(src, int(r2))
        parts_out.append(desc[grid.rect_cells_relation(desc, ring) != 0])
    return np.concatenate(parts_out) if parts_out else cells


def build_zone_covers(
    zones: list[tuple[str, str]],
    cells_target: int = 1024,
    max_cells: int = 4096,
    level_stride: int = 2,
) -> list[ZoneCover]:
    """Driver-side cover construction for a zone list [(zone_id, wkt)].

    Resolution is chosen per polygon from its bbox (adaptive), capped at
    FINE_RES so point ancestors exist for every cover level.

    Sizing for the join, not for memory: finer covers (defaults raised 64→
    1024 target in r2.1) shrink the refine workload ~4× (more ``full``
    cells ⇒ candidates skip the exact PIP entirely) while a 12-zone cover
    is still ≪1 MB broadcast.  ``level_stride`` snaps cover cells onto
    every-other resolution (cells at odd levels descend one level, children
    outside the polygon dropped): the point side explodes one ancestor row
    per DISTINCT cover level, so halving the level count halves the probe
    fan-out — cover cell count grows ≤4× per snapped level, probe rows
    shrink linearly."""
    # r6: relations AND cover BFS evaluated batch-at-a-time ACROSS zones
    # (grid.cover_polygons_batched / rects_vs_rings_batched) — the r2-r5
    # shape classified each member's frontier in its own numpy calls,
    # whose fixed per-call overhead (~3.3 ms/polygon over ~9 BFS levels)
    # dominated frame-scale cover construction (measured 26-42× faster
    # batched, outputs bit-equal).
    geoms = [W.from_wkt(wkt_str) for _, wkt_str in zones]
    members: list[tuple[int, list]] = []  # (zone_idx, rings)
    for zi, g in enumerate(geoms):
        for rings in g.polygons() or [[g.exterior()]]:
            members.append((zi, rings))
    ext_rings = [rings[0] for _, rings in members]
    res_arr = np.array(
        [min(grid.pick_cover_res(r, cells_target), FINE_RES) for r in ext_rings],
        dtype=np.int64,
    )
    covers = grid.cover_polygons_batched(ext_rings, res_arr, max_cells=max_cells)
    if level_stride > 1:
        covers = [
            snap_cover_levels(c, r, level_stride)
            for c, r in zip(covers, ext_rings)
        ]
    rel_ext = grid.rects_vs_rings_batched(ext_rings, covers)
    fulls = [rel == 2 for rel in rel_ext]
    hole_items = [
        (mi, hole)
        for mi, (_, rings) in enumerate(members)
        for hole in rings[1:]
    ]
    if hole_items:
        rel_holes = grid.rects_vs_rings_batched(
            [h for _, h in hole_items], [covers[mi] for mi, _ in hole_items]
        )
        for (mi, _), rel in zip(hole_items, rel_holes):
            fulls[mi] &= rel == 0

    out = []
    mptr = 0
    for zi, (zone_id, _) in enumerate(zones):
        member_cells: list[np.ndarray] = []
        member_full: list[np.ndarray] = []
        while mptr < len(members) and members[mptr][0] == zi:
            member_cells.append(covers[mptr])
            member_full.append(fulls[mptr])
            mptr += 1
        if len(member_cells) == 1:
            # single-member fast path: a BFS cover is an antichain by
            # construction (and snap keeps that), so the cross-member
            # merge/antichain pass is the identity — just sort
            cells = member_cells[0]
            order = np.argsort(cells, kind="stable")
            out.append(
                ZoneCover(zone_id, W.to_wkb(geoms[zi]), cells[order], member_full[0][order])
            )
            continue
        all_cells = np.concatenate(member_cells)
        all_full = np.concatenate(member_full)
        # merge duplicate cells across members: full if full in ANY member
        order = np.argsort(all_cells, kind="stable")
        all_cells, all_full = all_cells[order], all_full[order]
        uniq, start = np.unique(all_cells, return_index=True)
        full = np.logical_or.reduceat(all_full, start)
        # antichain-ify: member covers are each disjoint, but cells from
        # DIFFERENT members may nest — keep the coarser cell so a point can
        # match a (zone, cell) pair at most once (no dedup shuffle needed)
        res_u = grid.cell_res(uniq)
        keep_mask = np.ones(len(uniq), dtype=bool)
        for r2 in sorted(set(res_u.tolist())):
            finer = res_u > r2
            if not finer.any():
                continue
            anc = grid.ancestor_at(uniq[finer], int(r2))
            covered = np.isin(anc, uniq[res_u == r2])
            idx = np.nonzero(finer)[0][covered]
            keep_mask[idx] = False
        kept = uniq[keep_mask]
        out.append(ZoneCover(zone_id, W.to_wkb(geoms[zi]), kept, full[keep_mask]))
    return out


def _ring_pip_expr(ring: np.ndarray, lon: Column, lat: Column) -> Column:
    """Pure-Catalyst even-odd ray-cast for ONE ring: term-for-term the same
    IEEE double arithmetic as ``kernel.points_in_polygon`` (crossing iff
    (y1>lat)!=(y2>lat) and lon < (x2-x1)*(lat-y1)/(y2-y1)+x1), so results
    are bit-identical to the pandas-UDF refine and the DuckDB oracle.
    Parity accumulates through a chain of ``!=`` (boolean XOR)."""
    ring = np.asarray(ring, dtype=np.float64)[:, :2]
    if len(ring) >= 2 and (ring[0] == ring[-1]).all():
        ring = ring[:-1]
    acc = F.lit(False)
    m = len(ring)
    for i in range(m):
        x1, y1 = float(ring[i][0]), float(ring[i][1])
        x2, y2 = float(ring[(i + 1) % m][0]), float(ring[(i + 1) % m][1])
        if y1 == y2:
            # horizontal edge: (y1>lat) != (y2>lat) is identically false, so
            # the term can never flip parity — skipping it both prunes the
            # expression and removes a 0-divisor literal that only worked
            # because CASE/AND short-circuits (ADVICE r2 #2)
            continue
        cond = (F.lit(y1) > lat) != (F.lit(y2) > lat)
        xs = F.lit(x2 - x1) * (lat - F.lit(y1)) / F.lit(y2 - y1) + F.lit(x1)
        acc = acc != (cond & (lon < xs))
    return acc


def zone_pip_expr(
    zone_covers: list[ZoneCover], lon: Column, lat: Column, zone_id: Column
) -> Column:
    """Exact PIP refine as ONE whole-stage-codegen Catalyst expression:
    CASE over zone_id, each branch the even-odd ray-cast against that
    zone's rings (members OR-ed, holes subtracted).  This removes BOTH the
    Python worker round-trip AND the per-candidate-row zone_wkb Arrow
    transfer from the join's hot path — the refine compiles into the same
    generated stage as the cell equi-join.  Zones are driver-side dimension
    data (the reference's workloads), so unrolling them into the plan is
    free; frame-sized polygon sides keep the pandas-UDF refine."""
    expr = None
    for zc in zone_covers:
        g = W.from_wkb(zc.wkb)
        ins_any = F.lit(False)
        for rings in g.polygons():
            ins = _ring_pip_expr(rings[0], lon, lat)
            for hole in rings[1:]:
                ins = ins & ~_ring_pip_expr(hole, lon, lat)
            ins_any = ins_any | ins
        expr = (
            F.when(zone_id == zc.zone_id, ins_any)
            if expr is None
            else expr.when(zone_id == zc.zone_id, ins_any)
        )
    return expr.otherwise(F.lit(False)) if expr is not None else F.lit(False)


def _zone_pip_udf(spark, zone_covers: list[ZoneCover]):
    """Refine UDF: exact even-odd ray-cast against broadcast zone rings.

    Zone geometry is shipped ONCE per executor via ``sc.broadcast`` (rings
    as numpy arrays keyed by zone_id); the Arrow exchange carries only the
    (lon, lat, zone_id) of partial-cell candidates.  Per batch, rows
    factorize by zone_id and each distinct zone ray-casts as one
    vectorised numpy sweep — identical term-for-term arithmetic to
    ``kernel.points_in_polygon`` (and the DuckDB oracle expression), so
    results are bit-exact across refine impls."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BooleanType

    from ..geom import kernel as K

    rings_by_zone = {
        zc.zone_id: W.from_wkb(zc.wkb).polygons() for zc in zone_covers
    }
    bz = spark.sparkContext.broadcast(rings_by_zone)

    @pandas_udf(BooleanType())
    def pip(lon_s: pd.Series, lat_s: pd.Series, zid_s: pd.Series) -> pd.Series:
        gm = bz.value
        px = lon_s.to_numpy(dtype=np.float64)
        py = lat_s.to_numpy(dtype=np.float64)
        out = np.zeros(len(px), dtype=bool)
        codes, uniq = pd.factorize(zid_s)
        for u, zid in enumerate(uniq):
            m = codes == u
            ins_any = np.zeros(int(m.sum()), dtype=bool)
            for rings in gm[zid]:
                ins = K.points_in_polygon(px[m], py[m], rings[0])
                for hole in rings[1:]:
                    ins &= ~K.points_in_polygon(px[m], py[m], hole)
                ins_any |= ins
            out[m] = ins_any
        return pd.Series(out)

    return pip


def ancestor_col(fine_cell: Column, fine_res: int, target_res: int) -> Column:
    """Pure-Catalyst ancestor cell id (no UDF): shift the morton bits and
    re-pack the resolution header."""
    morton = fine_cell.bitwiseAND(F.lit(0x00FFFFFFFFFFFFFF))
    anc = F.shiftrightunsigned(morton, 2 * (fine_res - target_res))
    return anc.bitwiseOR(F.lit(target_res << 56))


def with_point_cells(
    df: DataFrame, lon: str = "lon", lat: str = "lat", fine_res: int = FINE_RES,
    out_col: str = "cell_fine",
) -> DataFrame:
    """Attach the fine-res cell id.  No-op when the column already exists —
    the ingest path materialises it once in the stored table (Iceberg
    column in production; parquet here), so joins/kNN/tiling are pure
    Catalyst with no UDF at all."""
    if out_col in df.columns:
        return df
    return df.withColumn(out_col, gc_cell(F.col(lon), F.col(lat), F.lit(fine_res)))


def spatial_join_points_zones(
    spark,
    points: DataFrame,
    zone_covers: list[ZoneCover],
    lon: str = "lon",
    lat: str = "lat",
    how: str = "inner",
    strategy: str = "broadcast",
    salt_buckets: int = 8,
    fine_res: int = FINE_RES,
    refine: str = "udf",
) -> DataFrame:
    """Join points to zones by spatial containment.

    Returns ``points.columns + [zone_id]`` (inner), or the point rows that
    match ≥1 zone (``semi``) / no zone (``anti``).

    strategy:
      * ``broadcast`` — zone cover exploded to (cell, zone_id, full) and
        broadcast; the point side is NOT shuffled.
      * ``salted`` — for large/hot covers: zone cover rows are replicated
        ``salt_buckets`` ways, points get a deterministic salt; the join key
        becomes (cell, salt) which splits hot cells across reducers.

    refine:
      * ``udf`` (default) — vectorized pandas-UDF ray-cast; zone geometry
        rides an ``sc.broadcast`` dict keyed by zone_id, so the Arrow
        exchange carries ONLY (lon, lat, zone_id) for the partial-cell
        candidates (never per-row wkb), and each distinct zone in a batch
        ray-casts once over all its rows as one numpy sweep.
      * ``catalyst`` — exact ray-cast unrolled into a CASE expression over
        zone_id (``zone_pip_expr``): zero Python.  Measured slower than the
        factorized numpy sweep on wide zones (the deep scalar expression
        tree evaluates per row; numpy amortizes per batch) — kept for
        plans that must be UDF-free end-to-end.
    """
    cand = spatial_join_candidates(
        spark,
        points,
        zone_covers,
        lon=lon,
        lat=lat,
        strategy=strategy,
        salt_buckets=salt_buckets,
        fine_res=fine_res,
    )
    refined = refine_candidates(
        spark, cand, zone_covers, lon=lon, lat=lat, refine=refine, pin=False
    )
    out_cols = [c for c in points.columns] + ["zone_id"]
    matched = refined.select(*out_cols)

    if how == "inner":
        return matched
    if how == "semi":
        return points.join(
            matched.select(points.columns[0]).distinct(), on=points.columns[0], how="left_semi"
        )
    if how == "anti":
        return points.join(
            matched.select(points.columns[0]).distinct(), on=points.columns[0], how="left_anti"
        )
    raise ValueError(how)


def spatial_join_candidates(
    spark,
    points: DataFrame,
    zone_covers: list[ZoneCover],
    lon: str = "lon",
    lat: str = "lat",
    strategy: str = "broadcast",
    salt_buckets: int = 8,
    fine_res: int = FINE_RES,
) -> DataFrame:
    """Phase 1 of the spatial join, pure JVM: cell-cover equi-join emitting
    candidate rows ``points.columns + [zone_id, full]``.  Rows with
    ``full=true`` are definite matches (cover cell entirely inside the
    zone); ``full=false`` rows need the exact PIP refine.

    Split out so callers can DEFER the refine past a shuffle boundary
    (``refine_candidates`` after tile repartition): the map stage then
    carries only the upstream pandas/Arrow stage (e.g. phash verify) and
    the reduce stage only the refine — one Python worker set per stage
    instead of two chained exchanges per task, which measurably collapses
    at high core counts.  Extra shuffle volume is only the false-candidate
    margin (boundary-cell rows, ~10% at default cover sizing)."""
    # r6: cell_res dropped from the join-side rows (never read after the
    # join), and the cover rows ship to the JVM as ONE Arrow batch from a
    # pandas frame — the py4j row-by-row upload of ~10k tuples was a
    # visible slice of per-query SPARQL compile time
    import pandas as _pd

    zid_parts, cell_parts, full_parts, levels = [], [], [], set()
    for zc in zone_covers:
        levels.update(grid.cell_res(zc.cells).tolist())
        zid_parts += [zc.zone_id] * len(zc.cells)
        cell_parts.append(zc.cells.astype(np.int64))
        full_parts.append(zc.full.astype(bool))
    zone_cells = spark.createDataFrame(
        _pd.DataFrame(
            {
                "zone_id": _pd.Series(zid_parts, dtype=object),
                "cell": np.concatenate(cell_parts) if cell_parts else np.empty(0, np.int64),
                "full": np.concatenate(full_parts) if full_parts else np.empty(0, bool),
            }
        ),
        "zone_id string, cell long, full boolean",
    )
    levels = sorted(int(r) for r in levels)

    # NOTE (r6): widening an under-split point scan here was tried and
    # REVERTED — the broadcast-probe stage is cheap enough that the added
    # round-robin Exchange + extra stage cost more than the 1→N-core gain
    # (interleaved A/B at sf0.1: pip_join 0.74 s unwidened vs 1.22 s
    # widened; flagship 1.15 vs 1.35).  The doc pipelines keep the widen
    # (their per-row work is 5-10× heavier, see partitioning.py).
    pts = with_point_cells(points, lon, lat, fine_res)
    # one candidate row per cover level: point's ancestor cell at that level
    anc = F.array(*[ancestor_col(F.col("cell_fine"), fine_res, r) for r in levels])
    pts = pts.withColumn("cell", F.explode(anc))

    if strategy == "salted":
        # r6: (cell, salt) packed into ONE long key — cover cells keep
        # bits 48..55 free (morton payload ≤ 2·24 bits, res header at 56),
        # so ≤ 256 salt buckets splice in without aliasing; one 8-byte key
        # halves the hashed width of the 64×-replicated build side
        if salt_buckets > 256:
            raise ValueError("salted strategy supports at most 256 buckets")
        salt = F.pmod(F.xxhash64(F.col(lon), F.col(lat)), F.lit(salt_buckets))
        pts = pts.withColumn(
            "cell", F.col("cell").bitwiseOR(F.shiftleft(salt, 48))
        )
        zone_cells = (
            zone_cells.withColumn(
                "_salt",
                F.explode(F.array(*[F.lit(i << 48) for i in range(salt_buckets)])),
            )
            .withColumn("cell", F.col("cell").bitwiseOR(F.col("_salt")))
            .drop("_salt")
        )
        join_keys = ["cell"]
        zside = zone_cells
    else:
        join_keys = ["cell"]
        zside = F.broadcast(zone_cells)

    cand = pts.join(zside, on=join_keys, how="inner")
    return cand.select(*[F.col(c) for c in points.columns], "zone_id", "full")


def refine_candidates(
    spark,
    cand: DataFrame,
    zone_covers: list[ZoneCover],
    lon: str = "lon",
    lat: str = "lat",
    refine: str = "udf",
    drop_full: bool = True,
    pin: bool = True,
) -> DataFrame:
    """Phase 2: exact PIP refine of candidate rows (see
    ``spatial_join_candidates``).  Keeps full-cell rows untouched and
    ray-casts the rest; output drops the ``full`` flag.

    ``pin=True`` (default for deferred use) marks the refine UDF
    non-deterministic — NOT because it is (it's a pure function), but as
    the optimizer barrier that stops Catalyst pushing the filter back
    down through the tile-shuffle Exchange, which would silently fuse the
    refine into the same stage as the upstream verify UDF and recreate
    the two-Python-exchanges-per-task shape the deferral exists to avoid.
    ``spatial_join_points_zones`` passes ``pin=False`` (inline refine —
    free placement is fine within one stage)."""
    if refine == "catalyst":
        pip = zone_pip_expr(zone_covers, F.col(lon), F.col(lat), F.col("zone_id"))
    else:
        udf = _zone_pip_udf(spark, zone_covers)
        if pin:
            udf = udf.asNondeterministic()
        pip = udf(F.col(lon), F.col(lat), F.col("zone_id"))
    out = cand.filter(F.when(F.col("full"), F.lit(True)).otherwise(pip))
    return out.drop("full") if drop_full else out


def polygon_join(
    spark,
    left: list[tuple[str, str]],
    right: list[tuple[str, str]] | None = None,
    predicate: str = "intersects",
    join_res_cells: int = 64,
) -> "DataFrame":
    """Polygon×polygon spatial join (intersects / bbox-overlaps) via
    cover∩cover equi-join at a common resolution.

    Both sides are (id, wkt) lists whose covers are built driver-side and
    joined distributed: compact covers are expanded to the coarser of the
    two sides' max levels (ancestor alignment), equi-joined on cell, then
    refined exactly (edge intersection / containment).  ``right=None`` ⇒
    self-join (id_a < id_b).

    For frame-sized polygon tables this generalises by building covers in a
    pandas UDF instead of the driver loop — the join/refine plan is the
    same; driver-side construction keeps round 1 simple for dim-table-sized
    inputs (the reference's workloads).
    """
    self_join = right is None
    rows = []
    sides = [("a", left), ("b", left if self_join else right)]
    geoms: dict[tuple[str, str], list] = {}
    # common alignment resolution: the min of per-polygon cover max levels
    covers: dict[str, list] = {"a": [], "b": []}
    for side, items in sides:
        for pid, wkt_str in items:
            polys = _parse_polys(wkt_str)
            geoms[(side, pid)] = polys
            # union cover over every member's exterior (holes stay out of
            # the cover — a superset is fine, the refine decides exactly)
            seen: set[int] = set()
            for rings in polys:
                ring = rings[0]
                res = min(grid.pick_cover_res(ring, 32), FINE_RES)
                cov = grid.cover_polygon(ring, max_res=res, max_cells=join_res_cells)
                seen.update(int(c) for c in cov.tolist())
            covers[side].append((pid, np.array(sorted(seen), dtype=np.int64)))
    # alignment resolution: coarsest max-cover-level across every polygon —
    # every cover can be mapped onto it (ancestors up, descendants down)
    align = min(
        int(grid.cell_res(c).max()) if len(c) else 0
        for side in covers.values()
        for _, c in side
    )
    for side, items in covers.items():
        for pid, cells in items:
            res = grid.cell_res(cells)
            lv_cells: set[int] = set()
            for c, r in zip(cells.tolist(), res.tolist()):
                if r >= align:
                    lv_cells.add(int(grid.ancestor_at(np.array([c]), align)[0]))
                else:
                    d, _ = grid.descendants_at(np.array([c]), align)
                    lv_cells.update(int(x) for x in d)
            rows.extend((side, pid, c) for c in lv_cells)
    cell_df = spark.createDataFrame(rows, "side string, pid string, cell long")
    a = cell_df.filter(F.col("side") == "a").select(F.col("pid").alias("id_a"), "cell")
    b = cell_df.filter(F.col("side") == "b").select(F.col("pid").alias("id_b"), "cell")
    pairs = a.join(F.broadcast(b), "cell").select("id_a", "id_b").distinct()
    if self_join:
        pairs = pairs.filter(F.col("id_a") < F.col("id_b"))

    # distributed exact refine: geometries broadcast, pandas UDF per batch
    bgeoms = spark.sparkContext.broadcast(
        {side + ":" + pid: polys for (side, pid), polys in geoms.items()}
    )
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BooleanType

    @pandas_udf(BooleanType())
    def refine(id_a: pd.Series, id_b: pd.Series) -> pd.Series:
        gm = bgeoms.value
        ca, ua = pd.factorize(id_a, sort=False)
        cb, ub = pd.factorize(id_b, sort=False)
        polys_a = [gm["a:" + x] for x in ua]
        polys_b = [gm["b:" + y] for y in ub]
        return pd.Series(_refine_intersect_pairs(polys_a, ca, polys_b, cb))

    if predicate == "bbox":
        return pairs
    return pairs.filter(refine(F.col("id_a"), F.col("id_b")))


def _parse_polys(wkt_str: str) -> list:
    """WKT → member-ring structure: list of member polygons, each a list of
    rings (exterior first, holes after).  Non-areal WKT degrades to a
    single one-ring member over its exterior hull ring."""
    g = W.from_wkt(wkt_str)
    return g.polygons() or [[g.exterior()]]


def _poly_vertices(polys: list) -> np.ndarray:
    """Stacked (n,2) vertices over every ring of every member — hole
    vertices included (they lie on the geometry's boundary, so one of them
    strictly inside the partner proves intersection)."""
    pts = [np.asarray(r, dtype=np.float64)[:, :2] for rings in polys for r in rings]
    return np.vstack(pts) if pts else np.zeros((0, 2))


def _points_in_polys(px: np.ndarray, py: np.ndarray, polys: list) -> np.ndarray:
    """Even-odd PIP against a full areal geometry: inside some member's
    exterior AND outside every hole of that member (members OR-ed)."""
    from ..geom.kernel import points_in_polygon

    inside = np.zeros(np.shape(px), dtype=bool)
    for rings in polys:
        m = points_in_polygon(px, py, rings[0])
        for hole in rings[1:]:
            m &= ~points_in_polygon(px, py, hole)
        inside |= m
    return inside


_NAN_ROW = np.full((1, 2), np.nan)


def _edge_chain(polys: list) -> np.ndarray:
    """NaN-separated concatenation of the closed rings of every member —
    ONE chain ``kernel.edges_intersect_any`` sweeps in a single vectorised
    call: a NaN endpoint fails every bbox comparison, so the phantom
    segments joining consecutive rings are never candidate edges."""
    parts: list[np.ndarray] = []
    for rings in polys:
        for r in rings:
            r = np.asarray(r, dtype=np.float64)[:, :2]
            if not (r[0] != r[-1]).any():
                r = r[:-1]
            parts.append(np.vstack([r, r[:1]]))
            parts.append(_NAN_ROW)
    return np.vstack(parts[:-1]) if parts else np.zeros((0, 2))


def _refine_intersect_pairs(
    polys_a: list, ca: np.ndarray, polys_b: list, cb: np.ndarray
) -> np.ndarray:
    """Vectorised polygon-intersects refine over a batch of candidate pairs.

    ``polys_a/polys_b`` are the DISTINCT geometries in the batch in
    member-ring structure (see ``_parse_polys``) — holes and multipolygon
    members participate exactly: a polygon wholly inside another's hole
    does NOT intersect, and any member-or-hole boundary crossing does.
    ``ca/cb`` are per-pair indices into them (factorized — each WKT parsed
    once per batch, not once per pair).  Three passes, each narrowing the
    undecided set:

    1. any B-vertex (over every ring of every member) inside A — even-odd
       with holes, grouped by distinct A: one ray-cast per A ring over the
       concatenated partner vertices, per-pair ``any`` via reduceat;
    2. the mirror (any A-vertex inside B), grouped by distinct B;
    3. edge-crossing sweep only for the still-undecided tail over the two
       NaN-separated ring chains (polygons that intersect without vertex
       containment are the rare boundary-cross case; the common cases
       never reach the per-pair kernel).

    Replaces the r2 per-pair Python dispatch (VERDICT "Next round" #4);
    single-ring inputs take exactly the r3 single-ring code path.
    """
    from ..geom.kernel import edges_intersect_any

    n = len(ca)
    res = np.zeros(n, dtype=bool)
    if n == 0:
        return res

    verts_a = [_poly_vertices(p) for p in polys_a]
    verts_b = [_poly_vertices(p) for p in polys_b]

    def vertex_pass(codes: np.ndarray, polys_out: list, pcodes: np.ndarray, verts_in: list):
        pend = np.nonzero(~res)[0]
        if len(pend) == 0:
            return
        order = pend[np.argsort(codes[pend], kind="stable")]
        oc = codes[order]
        bounds = np.nonzero(np.r_[True, oc[1:] != oc[:-1]])[0]
        ends = np.r_[bounds[1:], len(order)]
        for s, e in zip(bounds, ends):
            polys = polys_out[oc[s]]
            idxs = order[s:e]
            pts = [verts_in[pcodes[i]] for i in idxs]
            lens = np.array([len(p) for p in pts])
            # drop zero-vertex partners (empty geometries): a 0-length
            # segment would make reduceat return the NEXT pair's verdict
            # (or raise at the end) — they contribute no vertex hits
            nz = lens > 0
            if not nz.any():
                continue
            idxs, lens = idxs[nz], lens[nz]
            pts = [p for p, keep in zip(pts, nz) if keep]
            allp = np.vstack(pts)
            inside = _points_in_polys(allp[:, 0], allp[:, 1], polys)
            seg = np.r_[0, np.cumsum(lens)[:-1]]
            hit = np.logical_or.reduceat(inside, seg)
            res[idxs[hit]] = True

    vertex_pass(ca, polys_a, cb, verts_b)
    vertex_pass(cb, polys_b, ca, verts_a)
    chains_a: dict[int, np.ndarray] = {}
    chains_b: dict[int, np.ndarray] = {}
    for i in np.nonzero(~res)[0]:
        a = chains_a.get(ca[i])
        if a is None:
            a = chains_a[ca[i]] = _edge_chain(polys_a[ca[i]])
        b = chains_b.get(cb[i])
        if b is None:
            b = chains_b[cb[i]] = _edge_chain(polys_b[cb[i]])
        res[i] = edges_intersect_any(a, b)
    return res


def _rings_intersect(ra: np.ndarray, rb: np.ndarray) -> bool:
    """Exact polygon-intersects: vertex containment either way or any edge
    pair crossing — vectorised numpy orientation tests behind a bbox
    prefilter (``kernel.edges_intersect_any``), frame-scale-safe shape."""
    from ..geom.kernel import edges_intersect_any, points_in_polygon

    if (
        points_in_polygon(ra[:, 0], ra[:, 1], rb).any()
        or points_in_polygon(rb[:, 0], rb[:, 1], ra).any()
    ):
        return True
    a = ra if (ra[0] != ra[-1]).any() else ra[:-1]
    b = rb if (rb[0] != rb[-1]).any() else rb[:-1]
    return edges_intersect_any(
        np.vstack([a, a[:1]]), np.vstack([b, b[:1]])
    )


def polygon_join_frames(
    spark,
    a_df: DataFrame,
    b_df: DataFrame | None = None,
    id_col: str = "id",
    wkt_col: str = "wkt",
    predicate: str = "intersects",
    max_cells: int = 64,
    level_stride: int = 2,
) -> DataFrame:
    """Frame-scale polygon×polygon spatial join — the distributed
    generalisation of ``polygon_join`` (whose covers are built on the
    driver for dim-table-sized zone lists).

    Nothing touches the driver: per-polygon compact covers are built
    inside a ``mapInPandas`` over the polygon frames (cells snapped onto
    every-``level_stride``-th resolution), and mixed-resolution covers
    join through pure-Catalyst **ancestor emission**: side A's cover
    cells join side B's cells' ancestors at every allowed level (catching
    a ⊇ b), unioned with the mirrored direction (a ⊂ b), then
    ``distinct``.  Quadtree cells at one level are disjoint, so a
    candidate pair appears once per (cell, level) hit and the distinct is
    a pair-key dedup, not a correctness crutch.  Exact refine
    (vertex-containment + edge-crossing sweep, same kernel as
    ``polygon_join``) runs distributed on the candidate pairs with the
    two WKT columns joined back in.

    Returns (id_a, id_b) pairs; ``b_df=None`` ⇒ self-join with
    ``id_a < id_b``.  ``predicate='bbox'`` skips the exact refine.
    Scale shape: shuffle volume is O(cover cells × |levels|); hot cells
    (e.g. a continent-sized polygon over a dense tile) are AQE skew-join
    territory, and ``max_cells`` bounds per-polygon fan-out by
    construction."""
    self_join = b_df is None
    allowed = [r for r in range(0, FINE_RES + 1) if r % level_stride == 0]

    def cover_gen(batches):
        # r6: cover BFS batched across the whole Arrow batch
        # (grid.cover_polygons_batched — bit-equal covers, ~26-42× less
        # per-polygon numpy-call overhead); per-member snap stays scalar
        # (µs each)
        for pdf in batches:
            rows: list[tuple[int, list]] = []  # (row_idx, member rings)
            for ri, wkt_str in enumerate(pdf[wkt_col]):
                g = W.from_wkt(wkt_str)
                for rings in g.polygons() or [[g.exterior()]]:
                    rows.append((ri, rings))
            ext = [rings[0] for _, rings in rows]
            res_arr = np.empty(len(rows), dtype=np.int64)
            for j, ring in enumerate(ext):
                res = min(grid.pick_cover_res(ring, 32), FINE_RES)
                res_arr[j] = min([r for r in allowed if r >= res] or [allowed[-1]])
            covers = grid.cover_polygons_batched(ext, res_arr, max_cells=max_cells)
            per_row: list[set[int]] = [set() for _ in range(len(pdf))]
            for (ri, _), ring, cells in zip(rows, ext, covers):
                cells = snap_cover_levels(cells, ring, level_stride)
                per_row[ri].update(int(c) for c in cells.tolist())
            ids_out: list[str] = []
            cells_out: list[int] = []
            for ri, pid in enumerate(pdf[id_col]):
                seen = per_row[ri]
                ids_out += [pid] * len(seen)
                cells_out += sorted(seen)
            yield pd.DataFrame({"pid": ids_out, "cell": np.array(cells_out, dtype=np.int64)})

    def covers_of(df: DataFrame, out_id: str) -> DataFrame:
        # cover construction is the CPU-heavy Python stage; a narrow source
        # (e.g. one small parquet file) would serialize it on one core
        src = widen_if_narrow(df.select(F.col(id_col), F.col(wkt_col)))
        c = src.mapInPandas(cover_gen, "pid string, cell long")
        return c.select(F.col("pid").alias(out_id), "cell")

    def with_ancestors(cov: DataFrame, out_id: str, levels: list[int]) -> DataFrame:
        """One row per (cell, level ∈ ``levels`` with level ≤ res): the
        cell's ancestor at that level — pure Catalyst (morton shift on the
        packed int64).  ``levels`` is pruned to the resolutions actually
        present on the OTHER side's raw covers, so the explode factor is
        the number of levels the join can match at, not |allowed|."""
        mask = 0x00FFFFFFFFFFFFFF
        ancs = [
            F.expr(
                f"CASE WHEN shiftrightunsigned(cell, 56) >= {l} THEN "
                f"shiftrightunsigned(cell & {mask}L, "
                f"cast(2 * (shiftrightunsigned(cell, 56) - {l}) as int)) "
                f"| {l << 56}L END"
            )
            for l in levels
        ]
        return (
            cov.withColumn("anc", F.explode(F.array(*ancs)))
            .filter(F.col("anc").isNotNull())
            .select(F.col(out_id), F.col("anc").alias("cell"))
        )

    # Materialize each side's covers ONCE (localCheckpoint): both join
    # directions below reuse the same blocks instead of re-running the
    # cover mapInPandas per subtree (the r2 plan evaluated it 4× per join —
    # r3 profile: 4 × |polys| × ~6 ms dominated the candidate stage).
    cov_a = covers_of(a_df, "id_a").localCheckpoint(eager=True)
    cov_b = (
        cov_a.withColumnRenamed("id_a", "id_b")
        if self_join
        else covers_of(b_df, "id_b").localCheckpoint(eager=True)
    )
    lv = F.shiftrightunsigned("cell", 56).alias("l")

    def levels_of(cov: DataFrame) -> list[int]:
        return sorted(r.l for r in cov.select(lv).distinct().collect())

    levels_a, levels_b = levels_of(cov_a), (
        levels_of(cov_b) if not self_join else None
    )
    if self_join:
        levels_b = levels_a
    # a-cell covers b-cell (a coarser-or-equal) ∪ the mirrored direction.
    # Matching levels: B's ancestors only at levels where A has raw cells.
    pairs = (
        cov_a.join(with_ancestors(cov_b, "id_b", levels_a), "cell")
        .select("id_a", "id_b")
        .unionAll(
            with_ancestors(cov_a, "id_a", levels_b)
            .join(cov_b, "cell")
            .select("id_a", "id_b")
        )
        .distinct()
    )
    if self_join:
        pairs = pairs.filter(F.col("id_a") < F.col("id_b"))
    if predicate == "bbox":
        return pairs

    ga = a_df.select(F.col(id_col).alias("id_a"), F.col(wkt_col).alias("_wkt_a"))
    gb = (a_df if self_join else b_df).select(
        F.col(id_col).alias("id_b"), F.col(wkt_col).alias("_wkt_b")
    )
    withg = pairs.join(ga, "id_a").join(gb, "id_b")

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BooleanType

    @pandas_udf(BooleanType())
    def refine(wa: pd.Series, wb: pd.Series) -> pd.Series:
        # factorize: parse each distinct WKT once per Arrow batch, then the
        # vectorised three-pass refine (no per-pair Python dispatch)
        ca, ua = pd.factorize(wa, sort=False)
        cb, ub = pd.factorize(wb, sort=False)
        polys_a = [_parse_polys(x) for x in ua]
        polys_b = [_parse_polys(y) for y in ub]
        return pd.Series(_refine_intersect_pairs(polys_a, ca, polys_b, cb))

    return withg.filter(refine(F.col("_wkt_a"), F.col("_wkt_b"))).select(
        "id_a", "id_b"
    )


def pip_join_points_polygons_frames(
    spark,
    points: DataFrame,
    polys: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    poly_id: str = "id",
    wkt_col: str = "wkt",
    cells_target: int = 64,
    max_cells: int = 512,
    level_stride: int = 2,
    fine_res: int = FINE_RES,
) -> DataFrame:
    """Frame-scale point-in-polygon join — the distributed generalisation
    of ``spatial_join_points_zones`` for polygon sides too large to
    collect/broadcast (the reference's nested-loop FILTER path has no such
    distinction; SURVEY §2.5).

    Nothing touches the driver except the (≤ fine_res/stride + 1)-element
    distinct-level list.  Per-polygon covers (cells + ``full`` flags, holes
    subtracted — the same ``build_zone_covers`` construction as the
    broadcast path, so results are bit-exact across routes) are built
    inside a ``mapInPandas`` over the polygon frame; points explode one
    pure-Catalyst ancestor per distinct cover level and equi-join on cell.
    Covers are per-zone antichains, so a (point, polygon) pair matches at
    most once — no dedup shuffle.  ``full``-cell candidates skip the exact
    refine; partial candidates join the polygon WKT back in and ray-cast
    in a factorized pandas UDF (one parse + one numpy sweep per distinct
    polygon per Arrow batch, ``kernel.points_in_polygon`` — term-for-term
    the broadcast refine and the DuckDB oracle).

    Returns ``points.columns + [poly_id]``.  Scale shape: shuffle volume is
    O(cover cells) + O(points × |levels|); hot cells (dense point regions)
    are split by AQE skew-join; per-polygon fan-out is bounded by
    ``max_cells`` by construction."""
    cell_c, full_c, fine_c = "__pjf_cell", "__pjf_full", "__pjf_fine"
    id_type = dict(polys.dtypes)[poly_id]
    cover_schema = f"`{poly_id}` {id_type}, `{cell_c}` long, `{full_c}` boolean"

    def cover_gen(batches):
        for pdf in batches:
            covs = build_zone_covers(
                list(zip(pdf[poly_id], pdf[wkt_col])),
                cells_target=cells_target,
                max_cells=max_cells,
                level_stride=level_stride,
            )
            ids: list = []
            cells: list[np.ndarray] = []
            fulls: list[np.ndarray] = []
            for zc in covs:
                ids += [zc.zone_id] * len(zc.cells)
                cells.append(zc.cells)
                fulls.append(zc.full)
            yield pd.DataFrame(
                {
                    poly_id: pd.Series(ids, dtype=pdf[poly_id].dtype),
                    cell_c: np.concatenate(cells) if cells else np.empty(0, np.int64),
                    full_c: np.concatenate(fulls) if fulls else np.empty(0, bool),
                }
            )

    # widen a narrow source so the CPU-heavy cover stage parallelises
    src = widen_if_narrow(polys.select(poly_id, wkt_col))
    cov = src.mapInPandas(cover_gen, cover_schema).localCheckpoint(eager=True)
    levels = sorted(
        r.l
        for r in cov.select(F.shiftrightunsigned(cell_c, 56).alias("l"))
        .distinct()
        .collect()
    )
    if not levels:
        return points.limit(0).withColumn(
            poly_id, F.lit(None).cast(id_type)
        ).select(*points.columns, poly_id)

    pts = with_point_cells(points, lon=lon, lat=lat, fine_res=fine_res, out_col=fine_c)
    ancs = F.array(*[ancestor_col(F.col(fine_c), fine_res, l) for l in levels])
    cand = pts.withColumn(cell_c, F.explode(ancs)).join(cov, cell_c)

    out_cols = [*points.columns, poly_id]
    full_hits = cand.filter(F.col(full_c)).select(*out_cols)
    partial = (
        cand.filter(~F.col(full_c))
        .select(*out_cols)
        .join(polys.select(poly_id, wkt_col), poly_id)
    )

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BooleanType

    from ..geom import kernel as K

    @pandas_udf(BooleanType())
    def pip(lon_s: pd.Series, lat_s: pd.Series, wkt_s: pd.Series) -> pd.Series:
        px = lon_s.to_numpy(dtype=np.float64)
        py = lat_s.to_numpy(dtype=np.float64)
        out = np.zeros(len(px), dtype=bool)
        codes, uniq = pd.factorize(wkt_s)
        for u, wkt_str in enumerate(uniq):
            m = codes == u
            g = W.from_wkt(wkt_str)
            ins_any = np.zeros(int(m.sum()), dtype=bool)
            for rings in g.polygons() or [[g.exterior()]]:
                ins = K.points_in_polygon(px[m], py[m], rings[0])
                for hole in rings[1:]:
                    ins &= ~K.points_in_polygon(px[m], py[m], hole)
                ins_any |= ins
            out[m] = ins_any
        return pd.Series(out)

    refined = partial.filter(pip(F.col(lon), F.col(lat), F.col(wkt_col))).select(
        *out_cols
    )
    return full_hits.unionByName(refined)


def dwithin_join_points_points(
    spark,
    left: DataFrame,
    right: DataFrame,
    radius: float,
    left_id: str = "id",
    right_id: str = "id",
    lon: str = "lon",
    lat: str = "lat",
    max_res: int = FINE_RES,
    right_keep: list[str] | None = None,
) -> DataFrame:
    """Frame-scale ST_DWithin join: every (left, right) pair with planar
    distance ≤ ``radius`` (coordinate units) — the table×table
    generalisation of ``dwithin_join_points_centers`` (reference
    ``geof:nearby`` / ``spatial:withinCircle``, jena-geo's nearby filter
    family).

    Plan (zero Python, one equi-join, both sides fully distributed):
    pick the coarsest grid resolution whose cell height ≥ radius, key the
    RIGHT side by its (ix, iy) grid cell — plain floor arithmetic in
    whole-stage codegen — and explode the LEFT side to its 3×3 cell
    neighborhood (9 rows).  Any pair within ``radius`` shares a key in
    exactly one of the 9 offsets (cell ≥ radius ⇒ neighbors can't be
    further than one cell away), and the 9 neighbor keys of a left row
    are distinct ⇒ each qualifying pair matches exactly once — no dedup
    shuffle.  Exact refine: ``sqrt(dx²+dy²) ≤ radius`` in codegen.
    Equi-join on int64 keys ⇒ broadcastable when one side is small, AQE
    skew-split otherwise.

    r6: the EXPLODED side switched right → left.  The planner builds its
    hash relation (broadcast or per-partition) from the side it thinks
    smaller; exploding the build side multiplied that relation 9× (at
    sf0.1 the broadcast build held 1.8 M exploded rows where 200 k
    un-exploded ones suffice).  Exploding the probe side instead keeps
    whichever side gets built 9× leaner and shuffles the same bytes
    (the knn_join_frames rounds already use this orientation).

    Returns left columns + right id + ``dist``; with ``right_keep``,
    carries those right columns through instead of the aliased id (the
    SPARQL distance-filter rewrite needs every right-side binding).

    Grid-edge note: out-of-range neighbor keys (ix±1 beyond the grid) can
    collide with valid keys via the ``ix*n+iy`` packing when the grid is
    narrower than 3 cells; such spurious candidates are eliminated by the
    exact distance refine for any n ≥ 4, so the resolution floor is 2
    (radius > 45° degenerates to a near-all-pairs problem and the cell
    pruning would be moot anyway)."""
    dx_ = F.col(lon) - F.col("_rlon")
    dy_ = F.col(lat) - F.col("_rlat")
    if radius >= _LAT_SPAN_DEG / 4:
        # radius ≥ 45°: cell pruning is moot (most pairs qualify) and the
        # 3×3 guarantee needs cell ≥ radius, which a ≥4-wide grid can't
        # give — honest cross join + exact filter
        r_all = right.select(
            F.col(right_id).alias("_rid"),
            F.col(lon).alias("_rlon"),
            F.col(lat).alias("_rlat"),
            *(right_keep or []),
        )
        dist_ = F.sqrt(dx_ * dx_ + dy_ * dy_)
        out_tail = (
            list(right_keep) if right_keep is not None
            else [F.col("_rid").alias(right_id + "_right")]
        )
        return (
            left.crossJoin(r_all)
            .withColumn("dist", dist_)
            .filter(F.col("dist") <= F.lit(radius))
            .select(*left.columns, *out_tail, "dist")
        )
    res = int(np.clip(np.floor(np.log2(_LAT_SPAN_DEG / max(radius, 1e-12))), 2, max_res))
    n = 1 << res
    cw = 360.0 / n
    ch = 180.0 / n

    def ix_iy(df):
        ix = F.floor((F.col(lon) + F.lit(180.0)) / F.lit(cw)).cast("long")
        iy = F.floor((F.col(lat) + F.lit(90.0)) / F.lit(ch)).cast("long")
        return (
            F.least(F.greatest(ix, F.lit(0)), F.lit(n - 1)),
            F.least(F.greatest(iy, F.lit(0)), F.lit(n - 1)),
        )

    lx, ly = ix_iy(left)
    offsets = F.array(
        *[
            (lx + F.lit(di)) * F.lit(n) + (ly + F.lit(dj))
            for di in (-1, 0, 1)
            for dj in (-1, 0, 1)
        ]
    )
    l = left.withColumn("_k", F.explode(offsets))
    rx, ry = ix_iy(right)
    r = (
        right.select(
            F.col(right_id).alias("_rid"),
            F.col(lon).alias("_rlon"),
            F.col(lat).alias("_rlat"),
            *(right_keep or []),
            (rx * F.lit(n) + ry).alias("_k"),
        )
    )
    cand = l.join(r, "_k")
    dx = F.col(lon) - F.col("_rlon")
    dy = F.col(lat) - F.col("_rlat")
    dist = F.sqrt(dx * dx + dy * dy)
    out_cols = [c for c in left.columns]
    out_tail = (
        list(right_keep) if right_keep is not None
        else [F.col("_rid").alias(right_id + "_right")]
    )
    return (
        cand.withColumn("dist", dist)
        .filter(F.col("dist") <= F.lit(radius))
        .select(*out_cols, *out_tail, "dist")
    )


_LAT_SPAN_DEG = 180.0


def dwithin_join_points_centers(
    spark,
    points: DataFrame,
    centers: list[tuple[str, float, float]],
    radius: float,
    lon: str = "lon",
    lat: str = "lat",
    fine_res: int = FINE_RES,
) -> DataFrame:
    """ST_DWithin join of points against a small set of (id, lon, lat)
    centers: disc cover → equi-join → exact planar distance refine.
    Output: point columns + center_id + dist (planar, coordinate units)."""
    rows, levels = [], set()
    for cid, cx, cy in centers:
        res = min(grid.pick_cover_res(
            np.array([[cx - radius, cy - radius], [cx + radius, cy + radius]]),
        ), fine_res)
        cells = grid.cover_point_radius(cx, cy, radius, max_res=res)
        for c, r in zip(cells.tolist(), grid.cell_res(cells).tolist()):
            rows.append((cid, int(c), float(cx), float(cy)))
            levels.add(int(r))
    cover_df = spark.createDataFrame(rows, "center_id string, cell long, cx double, cy double")
    levels = sorted(levels)

    pts = with_point_cells(points, lon, lat, fine_res)
    anc = F.array(*[ancestor_col(F.col("cell_fine"), fine_res, r) for r in levels])
    pts = pts.withColumn("cell", F.explode(anc))
    cand = pts.join(F.broadcast(cover_df), on="cell", how="inner")
    dx = F.col(lon) - F.col("cx")
    dy = F.col(lat) - F.col("cy")
    dist = F.sqrt(dx * dx + dy * dy)
    out_cols = [c for c in points.columns] + ["center_id"]
    return (
        cand.withColumn("dist", dist)
        .filter(F.col("dist") <= F.lit(radius))
        .select(*out_cols, "dist")
    )
