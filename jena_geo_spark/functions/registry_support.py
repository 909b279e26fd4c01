"""Small Column-level shims needed only for 1:1 registry parity — typed
parsers, SRID metadata as Column functions, geohash box constructor,
encoded-polyline line parser, XYM point maker, sphere distance on geometry
arguments, and the raster map-algebra UDF wrappers.

Reference classes cited next to each shim; everything substantial lives in
the dedicated modules — these only adapt signatures."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
)

from ..geom import kernel as K
from ..geom import wkt as W
from ..geom.wkt import Geom
from ..raster import algebra as RA
from ..raster import wkb_raster as WR
from . import codecs as C
from . import srid as SR

# ------------------------------------------------------------ typed parsers --


def _from_text_typed(kinds: tuple):
    def fn(s: pd.Series) -> pd.Series:
        out = []
        for x in s:
            if x is None:
                out.append(None)
                continue
            g = W.from_wkt(x)
            out.append(W.to_wkb(g) if g.kind in kinds else None)
        return pd.Series(out, dtype=object)

    fn.__name__ = f"from_text_{kinds[0]}"
    return pandas_udf(fn, BinaryType())


st_pointfromtext = _from_text_typed(("point",))
st_linefromtext = _from_text_typed(("linestring",))
st_polygonfromtext = _from_text_typed(("polygon",))
st_mpointfromtext = _from_text_typed(("multipoint",))
st_mlinefromtext = _from_text_typed(("multilinestring",))
st_mpolyfromtext = _from_text_typed(("multipolygon",))


def _from_wkb_typed(kinds: tuple):
    def fn(s: pd.Series) -> pd.Series:
        out = []
        for x in s:
            if x is None:
                out.append(None)
                continue
            g = W.from_wkb(x)
            out.append(bytes(x) if g.kind in kinds else None)
        return pd.Series(out, dtype=object)

    fn.__name__ = f"from_wkb_{kinds[0]}"
    return pandas_udf(fn, BinaryType())


st_pointfromwkb = _from_wkb_typed(("point",))
st_linefromwkb = _from_wkb_typed(("linestring",))
st_polygonfromwkb = _from_wkb_typed(("polygon",))


def st_geomfromwkb(col) -> Column:
    """WKB is the native geometry format — Catalyst identity
    (GeomFromWKB.java re-parses; parsing already happened at ingest)."""
    return F.col(col) if isinstance(col, str) else col


@pandas_udf(BinaryType())
def st_makepointm(x: pd.Series, y: pd.Series, m: pd.Series) -> pd.Series:
    out = []
    for xi, yi, mi in zip(x, y, m):
        out.append(
            W.to_wkb(Geom("point", [np.array([[float(xi), float(yi), float(mi)]])], "XYM"))
        )
    return pd.Series(out, dtype=object)


@pandas_udf(BinaryType())
def st_makepoint(x: pd.Series, y: pd.Series) -> pd.Series:
    out = []
    for xi, yi in zip(x, y):
        out.append(W.to_wkb(Geom("point", [np.array([[float(xi), float(yi)]])])))
    return pd.Series(out, dtype=object)


def _geohash_bounds(gh: str):
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    even = True
    for c in gh:
        v = C._B32_IDX[c]
        for shift in range(4, -1, -1):
            bit = (v >> shift) & 1
            if even:
                mid = (lon_lo + lon_hi) / 2
                if bit:
                    lon_lo = mid
                else:
                    lon_hi = mid
            else:
                mid = (lat_lo + lat_hi) / 2
                if bit:
                    lat_lo = mid
                else:
                    lat_hi = mid
            even = not even
    return lon_lo, lat_lo, lon_hi, lat_hi


@pandas_udf(BinaryType())
def st_geomfromgeohash(gh: pd.Series) -> pd.Series:
    """Geohash cell → its bounding-box polygon (GeomFromGeoHash.java)."""
    out = []
    for s in gh:
        if s is None:
            out.append(None)
            continue
        x0, y0, x1, y1 = _geohash_bounds(s)
        ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
        out.append(W.to_wkb(Geom("polygon", [ring])))
    return pd.Series(out, dtype=object)


@pandas_udf(BinaryType())
def st_pointfromgeohash_geom(gh: pd.Series) -> pd.Series:
    out = []
    for s in gh:
        if s is None:
            out.append(None)
            continue
        lon, lat = C.geohash_decode(s)
        out.append(W.to_wkb(Geom("point", [np.array([[lon, lat]])])))
    return pd.Series(out, dtype=object)


@pandas_udf(BinaryType())
def st_linefromencodedpolyline(s: pd.Series, precision: pd.Series) -> pd.Series:
    """LineFromEncodedPolyline.java — FunctionBase2 (polyline, precision);
    precision is the 10^k divisor (5 = Google, 6 = OSRM)."""
    out = []
    for x, p in zip(s, precision):
        if x is None:
            out.append(None)
            continue
        pts = C.polyline_decode(x, 5 if p is None else int(p))
        # decode already yields stream-order (x, y) pairs — the same raw
        # order the reference's exporter writes (codecs.polyline_encode)
        out.append(W.to_wkb(Geom("linestring", [np.array(pts, dtype=np.float64)])))
    return pd.Series(out, dtype=object)


# ------------------------------------------------------------ SRID metadata --


def _srid_meta_udf(picker, ret=StringType()):
    def fn(srid: pd.Series) -> pd.Series:
        out = []
        for s in srid:
            try:
                out.append(picker(int(s)))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype=object)

    return pandas_udf(fn, ret)


st_sridgetaxis1name = _srid_meta_udf(lambda s: SR.axis_info(s, 1)[0])
st_sridgetaxis1orientation = _srid_meta_udf(lambda s: SR.axis_info(s, 1)[1])
st_sridgetaxis2name = _srid_meta_udf(lambda s: SR.axis_info(s, 2)[0])
st_sridgetaxis2orientation = _srid_meta_udf(lambda s: SR.axis_info(s, 2)[1])
st_sridhasflippedaxis = _srid_meta_udf(SR.has_flipped_axis, BooleanType())
st_sridtoepsg = _srid_meta_udf(SR.srid_to_epsg)
def _epsg_udf():
    def fn(epsg: pd.Series) -> pd.Series:
        out = []
        for s in epsg:
            try:
                out.append(SR.epsg_to_srid(s))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype=object)

    return pandas_udf(fn, IntegerType())


st_epsgtosrid = _epsg_udf()


# --------------------------------------------------------- sphere distance --


@pandas_udf(DoubleType())
def st_distancesphere_geom(a: pd.Series, b: pd.Series) -> pd.Series:
    """Great-circle distance between the NEAREST planar points of the two
    geometries (DistanceSphere.java → GeometryWrapper.distanceGreatCircle;
    golden 7269372.186370237 m in DistanceSphereTest.java, matched to
    last-ULP with the mean-Earth radius 6371008.7714)."""
    from ..geom import distances as D

    out = []
    for x, y in zip(a, b):
        if x is None or y is None:
            out.append(None)
            continue
        ga, gb = W.from_wkb(x), W.from_wkb(y)
        pa, pb = D.nearest_points(ga, gb)[:2]
        out.append(float(K.haversine_m(pa[0], pa[1], pb[0], pb[1])))
    return pd.Series(out, dtype=object)


# --------------------------------------------------------- raster algebra --


def _splice_encoded_rows(out_px, raw_in, template: bytes) -> np.ndarray:
    """Batch-encode float64 outputs as an (n, len) byte matrix: every
    output tile shares the template's layout (same w/h/pixtype-11 band)
    but keeps its OWN geotransform+srid bytes (cols 5..57) from the input
    row.  Bit-exact with per-tile ``WR.encode(map_algebra*(...))`` by
    construction — the template IS row 0's per-tile encoding."""
    t = np.frombuffer(template, np.uint8)
    n, n_px = out_px.shape
    res = np.tile(t, (n, 1))
    res[:, 5:57] = raw_in[:, 5:57]
    res[:, -n_px * 8:] = (
        out_px.astype("<f8").view(np.uint8).reshape(n, n_px * 8)
    )
    return res


def _arrow_decode(arr):
    """Arrow-side homogeneous-batch decode: (px, raw, first, little) or
    None — zero per-row Python on the hit path (guide §4.2: a binary
    Arrow column is one buffer + offsets, equal-length rows reshape as a
    matrix view; r6 — the pandas path allocated a ``bytes`` object per
    row just to re-concatenate them)."""
    raw = WR.arrow_binary_matrix(arr)
    if raw is None:
        return None
    return WR.batch_decode_matrix_raw(raw)


def _arrow_fallback_series(arr) -> pd.Series:
    return pd.Series(arr.to_pylist(), dtype=object)


def _binary_out(rows: np.ndarray):
    return WR.encode_binary_rows(rows)


def rast2_udf(op: str):
    from pyspark.sql.functions import arrow_udf

    def fn(a, b):
        import pyarrow as pa

        if len(a):
            ma = _arrow_decode(a)
            mb = _arrow_decode(b) if ma is not None else None
            if (
                ma is not None
                and mb is not None
                and ma[0].shape == mb[0].shape
                and ma[3]
                and mb[3]  # splice requires little-endian (see decoder doc)
            ):
                # vectorized: ONE numpy op over the whole Arrow batch; the
                # encode splices payloads under row-0's template header and
                # returns one Arrow buffer (no per-row tobytes loop — r6)
                out = RA.LOCAL2[op](ma[0], mb[0])
                template = WR.encode(RA.map_algebra2(ma[2], mb[2], op))
                return _binary_out(_splice_encoded_rows(out, ma[1], template))
        out = []
        for x, y in zip(_arrow_fallback_series(a), _arrow_fallback_series(b)):
            if x is None or y is None:
                out.append(None)
                continue
            out.append(
                WR.encode(RA.map_algebra2(WR.decode(bytes(x)), WR.decode(bytes(y)), op))
            )
        return pa.array(out, type=pa.binary())

    fn.__name__ = f"rast_{op}"
    return arrow_udf(fn, BinaryType())


def rast1_udf(op: str):
    from pyspark.sql.functions import arrow_udf

    def fn(a):
        import pyarrow as pa

        if len(a):
            ma = _arrow_decode(a)
            if ma is not None and ma[3]:  # splice requires little-endian
                out = RA.LOCAL1[op](ma[0])
                template = WR.encode(RA.map_algebra1(ma[2], op))
                return _binary_out(_splice_encoded_rows(out, ma[1], template))
        out = []
        for x in _arrow_fallback_series(a):
            if x is None:
                out.append(None)
                continue
            out.append(WR.encode(RA.map_algebra1(WR.decode(bytes(x)), op)))
        return pa.array(out, type=pa.binary())

    fn.__name__ = f"rast_{op}"
    return arrow_udf(fn, BinaryType())


def rastconst_udf(op: str):
    from pyspark.sql.functions import arrow_udf

    # reference arity: exec(coverage, bandnum, const) — raster/algebra/
    # MultConst.java:27-46 (bandnum < 0 → every band)
    def fn(a, band, k):
        import pyarrow as pa

        bv = band.to_numpy(zero_copy_only=False)
        if len(a) and band.null_count == 0 and (bv < 0).all():
            ma = _arrow_decode(a)
            if ma is not None and ma[3]:  # splice requires little-endian
                kv = k.to_numpy(zero_copy_only=False).astype(np.float64)[:, None]
                out = RA.LOCAL2[op](ma[0], kv)
                template = WR.encode(
                    RA.map_algebra_const(ma[2], op, float(kv[0, 0]), -1)
                )
                return _binary_out(_splice_encoded_rows(out, ma[1], template))
        out = []
        ks = _arrow_fallback_series(k)
        bs = _arrow_fallback_series(band)
        for i, x in enumerate(_arrow_fallback_series(a)):
            if x is None:
                out.append(None)
                continue
            out.append(
                WR.encode(
                    RA.map_algebra_const(
                        WR.decode(bytes(x)), op, float(ks.iloc[i]), int(bs.iloc[i])
                    )
                )
            )
        return pa.array(out, type=pa.binary())

    fn.__name__ = f"rast_{op}_const"
    return arrow_udf(fn, BinaryType())


def rastfn_udf(kernel, n_scalars: int, name: str):
    """Wrap an (Raster, *floats) -> Raster kernel as a pandas UDF."""

    def fn(a: pd.Series, *scalars) -> pd.Series:
        out = []
        for i, x in enumerate(a):
            if x is None:
                out.append(None)
                continue
            args = [float(s.iloc[i]) for s in scalars]
            out.append(WR.encode(kernel(WR.decode(bytes(x)), *args)))
        return pd.Series(out, dtype=object)

    # pandas_udf needs explicit non-variadic hints
    if n_scalars == 1:

        def fn1(a: pd.Series, k1: pd.Series) -> pd.Series:
            return fn(a, k1)

        fn1.__name__ = name
        return pandas_udf(fn1, BinaryType())
    if n_scalars == 2:

        def fn2(a: pd.Series, k1: pd.Series, k2: pd.Series) -> pd.Series:
            return fn(a, k1, k2)

        fn2.__name__ = name
        return pandas_udf(fn2, BinaryType())
    if n_scalars == 3:

        def fn3(a: pd.Series, k1: pd.Series, k2: pd.Series, k3: pd.Series) -> pd.Series:
            return fn(a, k1, k2, k3)

        fn3.__name__ = name
        return pandas_udf(fn3, BinaryType())

    def fn4(a: pd.Series, k1: pd.Series, k2: pd.Series, k3: pd.Series, k4: pd.Series) -> pd.Series:
        return fn(a, k1, k2, k3, k4)

    fn4.__name__ = name
    return pandas_udf(fn4, BinaryType())


def rast0_udf(kernel, name: str):
    def fn(a: pd.Series) -> pd.Series:
        out = []
        for x in a:
            if x is None:
                out.append(None)
                continue
            out.append(WR.encode(kernel(WR.decode(bytes(x)))))
        return pd.Series(out, dtype=object)

    fn.__name__ = name
    return pandas_udf(fn, BinaryType())


rt_binarize = rastfn_udf(RA.binarize, 1, "rt_binarize")
rt_clamp = rastfn_udf(RA.clamp, 2, "rt_clamp")
rt_threshold = rastfn_udf(RA.threshold, 3, "rt_threshold")
rt_constant = rastfn_udf(RA.constant, 1, "rt_constant")
rt_crop = rastfn_udf(RA.crop_pixels, 4, "rt_crop")
rt_dct = rast0_udf(RA.dct2, "rt_dct")
rt_idct = rast0_udf(RA.idct2, "rt_idct")
rt_minfilter = rast0_udf(lambda r: RA.focal(r, "min"), "rt_minfilter")
rt_maxfilter = rast0_udf(lambda r: RA.focal(r, "max"), "rt_maxfilter")
rt_medianfilter = rast0_udf(lambda r: RA.focal(r, "median"), "rt_medianfilter")
rt_not = rast1_udf("not")


# --------------------------------------------------------- temporal filter --


def st_asgeouri(g) -> Column:
    """geo URI of a point geometry (AsGeoURI.java) — Catalyst.

    The reference emits the raw x,y pair with no axis swap plus a
    ``;crs=EPSG:<srid>`` suffix (AsGeoURITest.java golden
    ``geo:49.9928617,8.2472526;crs=EPSG:0``); a bare geometry literal
    parses with srid 0, and per-column SRIDs live outside the literal in
    this engine, so the suffix is the parse default."""
    from .vector import st_x, st_y

    col = F.col(g) if isinstance(g, str) else g
    return F.concat(
        F.lit("geo:"),
        st_x(col).cast("string"),
        F.lit(","),
        st_y(col).cast("string"),
        F.lit(";crs=EPSG:0"),
    )


def st_containsproperly(a, b) -> Column:
    """JTS containsProperly = relate 'T**FF*FF*' (no boundary contact)."""
    from .relate import st_relate_match

    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return st_relate_match(ca, cb, F.lit("T**FF*FF*"))


def st_centroid_geom(g) -> Column:
    """Centroid as a point geometry (the struct variant st_centroid carries
    x/y for Catalyst math; the reference returns a geometry)."""
    from .vector import st_centroid, st_point

    col = F.col(g) if isinstance(g, str) else g
    c = st_centroid(col)
    # NULL/empty input → NaN centroid struct → NULL geometry (st_point
    # would otherwise fabricate a live-looking POINT(NaN NaN) WKB)
    return F.when(
        col.isNull() | F.isnan(c["x"]), F.lit(None).cast("binary")
    ).otherwise(st_point(c["x"], c["y"]))


@pandas_udf(ArrayType(BinaryType()))
def rt_retile(b: pd.Series, tw: pd.Series, th: pd.Series) -> pd.Series:
    """Scalar ST_Retile: raster → array of tile rasters (the distributed
    frame-level form is raster/algebra.spark_retile)."""
    out = []
    for i, x in enumerate(b):
        if x is None:
            out.append(None)
            continue
        tiles = RA.retile(WR.decode(bytes(x)), int(tw.iloc[i]), int(th.iloc[i]))
        out.append([WR.encode(t) for _, _, t in tiles])
    return pd.Series(out, dtype=object)


@pandas_udf(BinaryType())
def rt_addband_const(b: pd.Series, val: pd.Series) -> pd.Series:
    """ST_AddBand(rast, value): append a 64BF band filled with ``value``
    (raster/editor/AddBand.java semantics for the constant form)."""
    from ..raster import transform as RT

    out = []
    for i, x in enumerate(b):
        if x is None:
            out.append(None)
            continue
        r = WR.decode(bytes(x))
        data = np.full((r.height, r.width), float(val.iloc[i]))
        out.append(WR.encode(RT.add_band(r, data)))
    return pd.Series(out, dtype=object)


def st_filterbyt(g, t0, t1):
    """FilterByT.java is a registered stub ('To be implemented'); for
    trajectories time rides the M ordinate, so filtering by T = filtering
    coordinates by M range."""
    from .transforms2 import st_filterbym

    return st_filterbym(g, t0, t1, F.lit(True))
