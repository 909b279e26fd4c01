"""Raster attribute / relation / constructor function surface.

Reference families ``raster/attribute`` (39 registrations), ``raster/
relation`` (6 + the 9 shared relation.* classes), ``raster/constructor``
(4), ``raster/exporter`` (3), ``arqextension/raster`` pixel accessors (6).

Semantics sources (reference, behaviour only):
* tile-grid attributes (``MinTileX.java``, ``NumXTiles.java``,
  ``TileWidth.java``, ``TileGridXOffset.java``, …) read the rendered image's
  tiling; our in-memory raster renders as a single tile, so mintile = 0,
  numtiles = 1, tile size = raster size, offsets = 0 — exactly what Apache
  SIS's ``BufferedGridCoverage.render(null)`` reports for these rasters;
* ``MemSize.java`` — data-buffer element count (w·h·bands);
* ``Summary.java`` — human-readable info string (we emit our own shape);
* ``IsTiled/IsGrayscale/IsIndexed/IsTranslucent.java``,
  ``Band/BandMetaData.java`` are registered stubs
  (``UnsupportedOperationException``); we implement real semantics
  (grayscale = single band, indexed/translucent = no palette/alpha in the
  WKB-raster model, band extraction = sub-raster);
* relations (``raster/relation/*.java``) evaluate the JTS predicate on the
  rasters' envelope polygons — mirrored here on our envelope maths
  (pixel-center anchored, see wkb_raster.Raster.envelope);
* ``BandPixelType.java`` — sample-range string; ours prints the PostGIS
  pixel-type name (1BB…64BF);
* ``AsJPG/AsTIFF.java`` encode via ImageIO — no JPEG/TIFF codec exists in
  this container, so both return NULL (documented stub, same policy as
  image/codec.py); ``AsPNG`` is real (raster/transform.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..geom.wkt import Geom, to_wkb
from . import wkb_raster as WR

PIXTYPE_NAMES = {
    0: "1BB",
    1: "2BUI",
    2: "4BUI",
    3: "8BSI",
    4: "8BUI",
    5: "16BSI",
    6: "16BUI",
    7: "32BSI",
    8: "32BUI",
    10: "32BF",
    11: "64BF",
}


def _ru(ret):
    """Unary raster→scalar UDF factory."""

    def deco(fn):
        def wrapped(b: pd.Series) -> pd.Series:
            return pd.Series(
                [fn(WR.decode(bytes(x))) if x is not None else None for x in b],
                dtype=object,
            )

        wrapped.__name__ = fn.__name__
        return pandas_udf(wrapped, ret)

    return deco


def _ru2(ret):
    """(raster, scalar)→scalar UDF factory."""

    def deco(fn):
        def wrapped(b: pd.Series, v: pd.Series) -> pd.Series:
            return pd.Series(
                [
                    fn(WR.decode(bytes(x)), v.iloc[i]) if x is not None else None
                    for i, x in enumerate(b)
                ],
                dtype=object,
            )

        wrapped.__name__ = fn.__name__
        return pandas_udf(wrapped, ret)

    return deco


# ------------------------------------------------------------- georeference --


@_ru(IntegerType())
def rt_width(r):
    return int(r.width)


@_ru(IntegerType())
def rt_height(r):
    return int(r.height)


@_ru(IntegerType())
def rt_numbands(r):
    return len(r.bands)


@_ru(DoubleType())
def rt_scalex(r):
    return float(r.scale_x)


@_ru(DoubleType())
def rt_scaley(r):
    return float(r.scale_y)


@_ru(DoubleType())
def rt_skewx(r):
    return float(r.skew_x)


@_ru(DoubleType())
def rt_skewy(r):
    return float(r.skew_y)


@_ru(DoubleType())
def rt_upperleftx(r):
    return float(r.ip_x)


@_ru(DoubleType())
def rt_upperlefty(r):
    return float(r.ip_y)


@_ru(DoubleType())
def rt_pixelwidth(r):
    return float(np.hypot(r.scale_x, r.skew_y))


@_ru(DoubleType())
def rt_pixelheight(r):
    return float(np.hypot(r.scale_y, r.skew_x))


@_ru(IntegerType())
def rt_srid(r):
    return int(r.srid)


@_ru(IntegerType())
def rt_memsize(r):
    return int(r.width * r.height * len(r.bands))


@_ru(BooleanType())
def rt_isempty(r):
    return r.width == 0 or r.height == 0


@_ru(StringType())
def rt_summary(r):
    env = r.envelope()
    return (
        f"Raster of {r.width}x{r.height} MemSize: {r.width * r.height * len(r.bands)} "
        f"has {len(r.bands)} bands and extent of "
        f"[{env[0]}, {env[1]}, {env[2]}, {env[3]}] "
        f"Tiles: 1/1[{r.width}/{r.height}] Offset: [0/0]"
    )


# ------------------------------------------------------------- tile grid --


@_ru(BooleanType())
def rt_istiled(r):
    return False  # single-tile render, matching SIS BufferedGridCoverage


@_ru(IntegerType())
def rt_mintilex(r):
    return 0


@_ru(IntegerType())
def rt_mintiley(r):
    return 0


@_ru(IntegerType())
def rt_numxtiles(r):
    return 1


@_ru(IntegerType())
def rt_numytiles(r):
    return 1


@_ru(IntegerType())
def rt_tilewidth(r):
    return int(r.width)


@_ru(IntegerType())
def rt_tileheight(r):
    return int(r.height)


@_ru(IntegerType())
def rt_tilegridxoffset(r):
    return 0


@_ru(IntegerType())
def rt_tilegridyoffset(r):
    return 0


# ----------------------------------------------------------------- colour --


@_ru(BooleanType())
def rt_isgrayscale(r):
    return len(r.bands) == 1


@_ru(BooleanType())
def rt_isindexed(r):
    return False  # WKB rasters carry no palette


@_ru(BooleanType())
def rt_istranslucent(r):
    return False  # no alpha band concept in the WKB-raster model


# ------------------------------------------------------------------ bands --


@_ru2(BooleanType())
def rt_hasnoband(r, n):
    return not (0 <= int(n) < len(r.bands))


@_ru2(DoubleType())
def rt_bandnodatavalue(r, n):
    i = int(n)
    if not 0 <= i < len(r.bands):
        return None
    nd = r.bands[i].nodata
    return float(nd) if nd is not None else None


@_ru2(StringType())
def rt_bandpixeltype(r, n):
    i = int(n)
    if not 0 <= i < len(r.bands):
        return None
    return PIXTYPE_NAMES.get(r.bands[i].pixtype, str(r.bands[i].pixtype))


@_ru2(StringType())
def rt_bandmetadata(r, n):
    i = int(n)
    if not 0 <= i < len(r.bands):
        return None
    bd = r.bands[i]
    return (
        f"band={i} pixeltype={PIXTYPE_NAMES.get(bd.pixtype, bd.pixtype)} "
        f"nodatavalue={bd.nodata} isoutdb=false path="
    )


@pandas_udf(BinaryType())
def rt_band(b: pd.Series, n: pd.Series) -> pd.Series:
    """Sub-raster with only band n (Band.java is a registered stub)."""
    out = []
    for i, x in enumerate(b):
        if x is None:
            out.append(None)
            continue
        r = WR.decode(bytes(x))
        k = int(n.iloc[i])
        if not 0 <= k < len(r.bands):
            out.append(None)
            continue
        r2 = WR.Raster(
            r.version, r.scale_x, r.scale_y, r.ip_x, r.ip_y, r.skew_x, r.skew_y,
            r.srid, r.width, r.height, [r.bands[k]],
        )
        out.append(WR.encode(r2))
    return pd.Series(out, dtype=object)


# ----------------------------------------------------- world/raster coords --


@pandas_udf(StructType([StructField("col", IntegerType()), StructField("row", IntegerType())]))
def rt_worldtorastercoord(b: pd.Series, x: pd.Series, y: pd.Series) -> pd.DataFrame:
    rows = []
    for i, v in enumerate(b):
        if v is None:
            rows.append((None, None))
            continue
        r = WR.decode(bytes(v))
        rows.append(r.world_to_raster(float(x.iloc[i]), float(y.iloc[i])))
    return pd.DataFrame(rows, columns=["col", "row"])


@pandas_udf(IntegerType())
def rt_worldtorastercoordx(b: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
    out = []
    for i, v in enumerate(b):
        if v is None:
            out.append(None)
            continue
        r = WR.decode(bytes(v))
        out.append(r.world_to_raster(float(x.iloc[i]), float(y.iloc[i]))[0])
    return pd.Series(out, dtype=object)


@pandas_udf(IntegerType())
def rt_worldtorastercoordy(b: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
    out = []
    for i, v in enumerate(b):
        if v is None:
            out.append(None)
            continue
        r = WR.decode(bytes(v))
        out.append(r.world_to_raster(float(x.iloc[i]), float(y.iloc[i]))[1])
    return pd.Series(out, dtype=object)


@pandas_udf(StructType([StructField("x", DoubleType()), StructField("y", DoubleType())]))
def rt_rastertoworldcoord(b: pd.Series, col: pd.Series, row: pd.Series) -> pd.DataFrame:
    rows = []
    for i, v in enumerate(b):
        if v is None:
            rows.append((None, None))
            continue
        r = WR.decode(bytes(v))
        rows.append(r.raster_to_world(int(col.iloc[i]), int(row.iloc[i])))
    return pd.DataFrame(rows, columns=["x", "y"])


@pandas_udf(DoubleType())
def rt_rastertoworldcoordx(b: pd.Series, col: pd.Series, row: pd.Series) -> pd.Series:
    out = []
    for i, v in enumerate(b):
        if v is None:
            out.append(None)
            continue
        r = WR.decode(bytes(v))
        out.append(r.raster_to_world(int(col.iloc[i]), int(row.iloc[i]))[0])
    return pd.Series(out, dtype=object)


@pandas_udf(DoubleType())
def rt_rastertoworldcoordy(b: pd.Series, col: pd.Series, row: pd.Series) -> pd.Series:
    out = []
    for i, v in enumerate(b):
        if v is None:
            out.append(None)
            continue
        r = WR.decode(bytes(v))
        out.append(r.raster_to_world(int(col.iloc[i]), int(row.iloc[i]))[1])
    return pd.Series(out, dtype=object)


# ------------------------------------------------------------ pixel shapes --


def _px_center(r, col, row):
    x, y = r.raster_to_world(col, row)
    return x + 0.5 * r.scale_x, y + 0.5 * r.scale_y


@pandas_udf(BinaryType())
def rt_pixelaspoint(b: pd.Series, col: pd.Series, row: pd.Series) -> pd.Series:
    out = []
    for i, v in enumerate(b):
        if v is None:
            out.append(None)
            continue
        r = WR.decode(bytes(v))
        x, y = r.raster_to_world(int(col.iloc[i]), int(row.iloc[i]))
        out.append(to_wkb(Geom("point", [np.array([[x, y]])])))
    return pd.Series(out, dtype=object)


@pandas_udf(BinaryType())
def rt_pixelascentroid(b: pd.Series, col: pd.Series, row: pd.Series) -> pd.Series:
    out = []
    for i, v in enumerate(b):
        if v is None:
            out.append(None)
            continue
        r = WR.decode(bytes(v))
        x, y = _px_center(r, int(col.iloc[i]), int(row.iloc[i]))
        out.append(to_wkb(Geom("point", [np.array([[x, y]])])))
    return pd.Series(out, dtype=object)


@pandas_udf(BinaryType())
def rt_pixelaspolygon(b: pd.Series, col: pd.Series, row: pd.Series) -> pd.Series:
    out = []
    for i, v in enumerate(b):
        if v is None:
            out.append(None)
            continue
        r = WR.decode(bytes(v))
        c, w = int(col.iloc[i]), int(row.iloc[i])
        x0, y0 = r.raster_to_world(c, w)
        x1, y1 = r.raster_to_world(c + 1, w + 1)
        ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
        out.append(to_wkb(Geom("polygon", [ring])))
    return pd.Series(out, dtype=object)


def _all_pixel_geom(r, centers: bool) -> Geom:
    cols, rows = np.meshgrid(np.arange(r.width), np.arange(r.height))
    xs = r.ip_x + cols * r.scale_x + rows * r.skew_x
    ys = r.ip_y + rows * r.scale_y + cols * r.skew_y
    if centers:
        xs = xs + 0.5 * r.scale_x
        ys = ys + 0.5 * r.scale_y
    pts = np.column_stack([xs.ravel(), ys.ravel()])
    return Geom("multipoint", [pts])


@pandas_udf(BinaryType())
def rt_pixelaspoints(b: pd.Series) -> pd.Series:
    return pd.Series(
        [
            to_wkb(_all_pixel_geom(WR.decode(bytes(x)), centers=False))
            if x is not None
            else None
            for x in b
        ],
        dtype=object,
    )


@pandas_udf(BinaryType())
def rt_pixelascentroids(b: pd.Series) -> pd.Series:
    return pd.Series(
        [
            to_wkb(_all_pixel_geom(WR.decode(bytes(x)), centers=True))
            if x is not None
            else None
            for x in b
        ],
        dtype=object,
    )


# ---------------------------------------------------------------- relations --


def _env_ring(r) -> np.ndarray:
    x0, y0, x1, y1 = r.envelope()
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])


def _renv_geom(r) -> Geom:
    return Geom("polygon", [_env_ring(r)])


def _rr(pred_name):
    from ..geom import relate as R

    pred = getattr(R, pred_name)

    def fn(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            if x is None or y is None:
                out.append(None)
                continue
            out.append(
                bool(pred(_renv_geom(WR.decode(bytes(x))), _renv_geom(WR.decode(bytes(y)))))
            )
        return pd.Series(out, dtype=object)

    fn.__name__ = f"rt_{pred_name}"
    return pandas_udf(fn, BooleanType())


rt_contains = _rr("contains")
rt_within = _rr("within")
rt_covers = _rr("covers")
rt_coveredby = _rr("covered_by")
rt_intersects = _rr("intersects")
rt_disjoint = _rr("disjoint")
rt_touches = _rr("touches")
rt_overlaps = _rr("overlaps")
rt_crosses = _rr("crosses")


@pandas_udf(BooleanType())
def rt_equals(a: pd.Series, b: pd.Series) -> pd.Series:
    out = []
    for x, y in zip(a, b):
        if x is None or y is None:
            out.append(None)
            continue
        out.append(WR.decode(bytes(x)).envelope() == WR.decode(bytes(y)).envelope())
    return pd.Series(out, dtype=object)


@pandas_udf(BinaryType())
def rt_intersection_geom(a: pd.Series, b: pd.Series) -> pd.Series:
    """Envelope-intersection polygon (raster/relation/Intersection.java)."""
    out = []
    for x, y in zip(a, b):
        if x is None or y is None:
            out.append(None)
            continue
        e1 = WR.decode(bytes(x)).envelope()
        e2 = WR.decode(bytes(y)).envelope()
        x0, y0 = max(e1[0], e2[0]), max(e1[1], e2[1])
        x1, y1 = min(e1[2], e2[2]), min(e1[3], e2[3])
        if x1 <= x0 or y1 <= y0:
            out.append(to_wkb(Geom("polygon", [])))
            continue
        ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
        out.append(to_wkb(Geom("polygon", [ring])))
    return pd.Series(out, dtype=object)


# -------------------------------------------------------------- constructors --


@pandas_udf(BinaryType())
def rt_makeemptyraster(
    w: pd.Series, h: pd.Series, ulx: pd.Series, uly: pd.Series, pixsize: pd.Series
) -> pd.Series:
    out = []
    for i in range(len(w)):
        ps = float(pixsize.iloc[i])
        r = WR.Raster(
            0, ps, -ps, float(ulx.iloc[i]), float(uly.iloc[i]), 0.0, 0.0, 0,
            int(w.iloc[i]), int(h.iloc[i]), [],
        )
        out.append(WR.encode(r))
    return pd.Series(out, dtype=object)


@pandas_udf(ArrayType(BinaryType()))
def rt_makeemptycoverage(
    tile_w: pd.Series,
    tile_h: pd.Series,
    w: pd.Series,
    h: pd.Series,
    ulx: pd.Series,
    uly: pd.Series,
    pixsize: pd.Series,
) -> pd.Series:
    """Grid of empty tile rasters covering w×h pixels
    (raster/constructor/MakeEmptyCoverage.java)."""
    out = []
    for i in range(len(w)):
        tw, th = int(tile_w.iloc[i]), int(tile_h.iloc[i])
        W_, H_ = int(w.iloc[i]), int(h.iloc[i])
        ps = float(pixsize.iloc[i])
        x0, y0 = float(ulx.iloc[i]), float(uly.iloc[i])
        tiles = []
        for ty in range(0, H_, th):
            for tx in range(0, W_, tw):
                r = WR.Raster(
                    0, ps, -ps, x0 + tx * ps, y0 - ty * ps, 0.0, 0.0, 0,
                    min(tw, W_ - tx), min(th, H_ - ty), [],
                )
                tiles.append(WR.encode(r))
        out.append(tiles)
    return pd.Series(out, dtype=object)


@pandas_udf(BinaryType())
def rt_fromhexwkb(s: pd.Series) -> pd.Series:
    return pd.Series(
        [WR.encode(WR.decode_hex(x)) if x is not None else None for x in s],
        dtype=object,
    )


def rt_fromwkb(col):
    """WKB-raster binary is the native column format — Catalyst identity."""
    from pyspark.sql import functions as F

    return F.col(col) if isinstance(col, str) else col


@pandas_udf(StringType())
def rt_ascoveragejson(b: pd.Series) -> pd.Series:
    """CoverageJSON export (reference AsCoverageJSON.java /
    CoverageJsonWriter.java; spec covjson.org) — Grid domain, one NdArray
    range per band."""
    from .covjson import raster_to_covjson

    return pd.Series(
        [raster_to_covjson(WR.decode(x)) if x is not None else None for x in s_iter(b)],
        dtype=object,
    )


@pandas_udf(BinaryType())
def rt_fromcoveragejson(s: pd.Series) -> pd.Series:
    """CoverageJSON literal → WKB raster (reference
    RastFromCoverageJSON.java / CoverageJSONReader.java)."""
    from .covjson import covjson_to_raster

    return pd.Series(
        [WR.encode(covjson_to_raster(x)) if x is not None else None for x in s_iter(s)],
        dtype=object,
    )


@pandas_udf(StringType())
def rt_asxyz(b: pd.Series) -> pd.Series:
    """XYZ gridded-ASCII export of band 1 (format the reference only plans,
    README.md:412-421; GDAL XYZ driver layout)."""
    from .grids import raster_to_xyz

    return pd.Series(
        [raster_to_xyz(WR.decode(x)) if x is not None else None for x in s_iter(b)],
        dtype=object,
    )


@pandas_udf(BinaryType())
def rt_fromxyz(s: pd.Series) -> pd.Series:
    """XYZ gridded-ASCII literal → WKB raster."""
    from .grids import xyz_to_raster

    return pd.Series(
        [WR.encode(xyz_to_raster(x)) if x is not None else None for x in s_iter(s)],
        dtype=object,
    )


@pandas_udf(StringType())
def rt_asasciigrid(b: pd.Series) -> pd.Series:
    """Esri ASCIIGrid (AAIGrid) export of band 1 (format the reference only
    plans, README.md:412-421; GDAL AAIGrid driver layout)."""
    from .grids import raster_to_aaigrid

    return pd.Series(
        [raster_to_aaigrid(WR.decode(x)) if x is not None else None for x in s_iter(b)],
        dtype=object,
    )


@pandas_udf(BinaryType())
def rt_fromasciigrid(s: pd.Series) -> pd.Series:
    """Esri ASCIIGrid literal → WKB raster."""
    from .grids import aaigrid_to_raster

    return pd.Series(
        [WR.encode(aaigrid_to_raster(x)) if x is not None else None for x in s_iter(s)],
        dtype=object,
    )


@pandas_udf(BinaryType())
def rt_fromtiff(b: pd.Series) -> pd.Series:
    """GeoTIFF bytes → WKB raster (read direction of the st_astiff
    encoder; the reference lists GeoTIFF as planned-only)."""
    from .tiff import tiff_to_raster

    return pd.Series(
        [WR.encode(tiff_to_raster(x)) if x is not None else None for x in s_iter(b)],
        dtype=object,
    )


def s_iter(s: pd.Series):
    return s.tolist()


def _raster_to_jpg(wkb: bytes) -> bytes:
    """WKB raster → baseline JPEG via the pure-numpy codec (image/jpeg.py).

    Reference ``raster/exporter/AsJPG.java`` renders through ImageIO; the
    same band→image convention applies here: bands 1-3 become RGB when at
    least three exist, otherwise band 1 is replicated to gray RGB.  Band
    values clamp to uint8 (JPEG is 8-bit)."""
    from ..image.jpeg import encode_jpeg

    r = WR.decode(wkb)
    chans = [bd.data for bd in r.bands[:3]]
    if not chans:
        raise ValueError("raster has no band payload")
    if len(chans) < 3:
        chans = [chans[0]] * 3
    arr = np.clip(
        np.round(np.stack(chans, axis=-1).astype(np.float64)), 0, 255
    ).astype(np.uint8)
    return encode_jpeg(arr, quality=90)


@pandas_udf(BinaryType())
def rt_asjpg(b: pd.Series) -> pd.Series:
    """JPEG export (reference AsJPG.java, ImageIO-backed there; real
    baseline-JFIF encoder here).  Distinct payloads encode once per batch."""
    codes, uniq = pd.factorize(b)
    enc = [_raster_to_jpg(x) if x is not None else None for x in uniq]
    return pd.Series([enc[c] if c >= 0 else None for c in codes], dtype=object)


@pandas_udf(BinaryType())
def rt_astiff(b: pd.Series) -> pd.Series:
    """Uncompressed baseline TIFF + GeoTIFF georeferencing tags, encoded
    from scratch (struct packing, ``raster/tiff.py``) — the surface the
    reference's AsTIFF.java sketches but leaves UnsupportedOperation.
    Distinct payloads encode once per batch (factorize)."""
    from .tiff import raster_to_tiff

    codes, uniq = pd.factorize(b)
    enc = [raster_to_tiff(x) if x is not None else None for x in uniq]
    return pd.Series(
        [enc[c] if c >= 0 else None for c in codes], dtype=object
    )


@pandas_udf(BinaryType())
def rt_asnetcdf(b: pd.Series) -> pd.Series:
    """NetCDF classic (CDF-1) export (format the reference only plans,
    README.md:412-421 "using Apache SIS"; pure-numpy writer)."""
    from .netcdf import raster_to_netcdf

    return pd.Series(
        [raster_to_netcdf(WR.decode(x)) if x is not None else None for x in s_iter(b)],
        dtype=object,
    )


@pandas_udf(BinaryType())
def rt_fromnetcdf(s: pd.Series) -> pd.Series:
    """NetCDF classic literal → WKB raster."""
    from .netcdf import netcdf_to_raster

    return pd.Series(
        [WR.encode(netcdf_to_raster(x)) if x is not None else None for x in s_iter(s)],
        dtype=object,
    )
