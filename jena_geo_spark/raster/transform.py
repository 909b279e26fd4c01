"""Raster transforms / editors / attribute stats.

Reference: ``raster/transform/{Resize,Rescale,Reskew,...}.java``,
``raster/editor/{AddBand,SetBandNoDataValue,...}.java``,
``raster/attribute/{SummaryStats,Value,NearestValue,...}.java`` (52 files),
``raster/exporter/AsPNG.java``.  Operates on the WKB-raster struct from
``wkb_raster.py``; resampling is nearest-neighbor (the reference's
coverage resample default).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from . import wkb_raster as WR
from ..functions.nullsafe import null_safe


def resize(r: WR.Raster, new_w: int, new_h: int) -> WR.Raster:
    """ST_Resize: resample every band to (new_w, new_h) with
    nearest-neighbor; pixel size rescales so the extent is unchanged."""
    ys = (np.arange(new_h) * r.height // new_h).clip(0, r.height - 1)
    xs = (np.arange(new_w) * r.width // new_w).clip(0, r.width - 1)
    bands = [
        WR.Band(b.pixtype, b.nodata, b.data[np.ix_(ys, xs)].copy(), b.nodata_raw)
        for b in r.bands
    ]
    sx = r.scale_x * r.width / new_w
    sy = r.scale_y * r.height / new_h
    # grid-to-CRS anchors at pixel CENTERS (SIS convention, see
    # Raster.envelope): shift ip by half the scale delta so the covered
    # ground extent is unchanged
    return WR.Raster(
        r.version,
        sx,
        sy,
        r.ip_x - 0.5 * r.scale_x + 0.5 * sx,
        r.ip_y - 0.5 * r.scale_y + 0.5 * sy,
        r.skew_x,
        r.skew_y,
        r.srid,
        new_w,
        new_h,
        bands,
    )


def rescale(r: WR.Raster, sx: float, sy: float) -> WR.Raster:
    """ST_Rescale: change pixel size to (sx, sy), preserving the extent
    (new grid dims = round(old_extent / new_scale), ≥ 1)."""
    new_w = max(int(round(r.width * abs(r.scale_x) / abs(sx))), 1)
    new_h = max(int(round(r.height * abs(r.scale_y) / abs(sy))), 1)
    out = resize(r, new_w, new_h)
    out.scale_x = float(np.copysign(abs(sx), r.scale_x))
    out.scale_y = float(np.copysign(abs(sy), r.scale_y))
    return out


def set_skew(r: WR.Raster, skew_x: float, skew_y: float) -> WR.Raster:
    out = WR.Raster(
        r.version, r.scale_x, r.scale_y, r.ip_x, r.ip_y,
        float(skew_x), float(skew_y), r.srid, r.width, r.height,
        [WR.Band(b.pixtype, b.nodata, b.data.copy(), b.nodata_raw) for b in r.bands],
    )
    return out


def add_band(r: WR.Raster, data: np.ndarray, pixtype: int = 11, nodata=None) -> WR.Raster:
    assert data.shape == (r.height, r.width)
    out = set_skew(r, r.skew_x, r.skew_y)
    dt, _ = WR.PIXEL_DTYPES[pixtype]
    out.bands.append(WR.Band(pixtype, nodata, data.astype(dt), nodata or 0))
    return out


def set_band_nodata(r: WR.Raster, band: int, nodata: float) -> WR.Raster:
    out = set_skew(r, r.skew_x, r.skew_y)
    b = out.bands[band]
    out.bands[band] = WR.Band(b.pixtype, nodata, b.data, nodata)
    return out


def summary_stats(r: WR.Raster, band: int = 0) -> dict:
    """PostGIS ST_SummaryStats: count/sum/mean/stddev(population)/min/max
    over non-nodata pixels."""
    b = r.bands[band]
    vals = b.data.astype(np.float64).ravel()
    if b.nodata is not None:
        vals = vals[vals != float(b.nodata)]
    if len(vals) == 0:
        return {"count": 0, "sum": 0.0, "mean": None, "stddev": None, "min": None, "max": None}
    return {
        "count": int(len(vals)),
        "sum": float(vals.sum()),
        "mean": float(vals.mean()),
        "stddev": float(vals.std()),
        "min": float(vals.min()),
        "max": float(vals.max()),
    }


def value_at(r: WR.Raster, x: float, y: float, band: int = 0):
    col, row = r.world_to_raster(x, y)
    if not (0 <= col < r.width and 0 <= row < r.height):
        return None
    b = r.bands[band]
    v = float(b.data[row, col])
    if b.nodata is not None and v == float(b.nodata):
        return None
    return v


def nearest_value(r: WR.Raster, x: float, y: float, band: int = 0):
    """ST_NearestValue: the value at (x, y), else the nearest non-nodata
    pixel value by grid ring search."""
    v = value_at(r, x, y, band)
    if v is not None:
        return v
    col, row = r.world_to_raster(x, y)
    col = min(max(col, 0), r.width - 1)
    row = min(max(row, 0), r.height - 1)
    b = r.bands[band]
    best, bestd = None, np.inf
    for rr in range(r.height):
        for cc in range(r.width):
            val = float(b.data[rr, cc])
            if b.nodata is not None and val == float(b.nodata):
                continue
            d = (rr - row) ** 2 + (cc - col) ** 2
            if d < bestd:
                best, bestd = val, d
    return best


def as_png(r: WR.Raster, band: int = 0) -> bytes:
    """ST_AsPNG: min-max normalize one band to 8-bit gray, encode with the
    from-scratch PNG writer (image/codec.py)."""
    from ..image.codec import encode_png

    b = r.bands[band]
    v = b.data.astype(np.float64)
    lo, hi = float(v.min()), float(v.max())
    g8 = (
        np.zeros_like(v, dtype=np.uint8)
        if hi == lo
        else ((v - lo) / (hi - lo) * 255.0).round().astype(np.uint8)
    )
    rgb = np.repeat(g8[:, :, None], 3, axis=2)
    return encode_png(rgb)


# ------------------------------------------------------------- Spark UDFs --

_STATS_T = StructType(
    [
        StructField("count", LongType()),
        StructField("sum", DoubleType()),
        StructField("mean", DoubleType()),
        StructField("stddev", DoubleType()),
        StructField("min", DoubleType()),
        StructField("max", DoubleType()),
    ]
)


def _matrix_stats(px) -> pd.DataFrame:
    """Row-wise summary stats of a (n, n_px) float64 pixel matrix —
    value-identical to per-tile ``summary_stats`` on no-nodata bands
    (same numpy reductions over the same float64 rows).  Shared by
    ``st_summarystats`` and ``fused_algebra_stats_udf``."""
    return pd.DataFrame(
        {
            "count": np.full(len(px), px.shape[1], dtype=np.int64),
            "sum": px.sum(axis=1),
            "mean": px.mean(axis=1),
            "stddev": px.std(axis=1),
            "min": px.min(axis=1),
            "max": px.max(axis=1),
        }
    )


_STATS_COLS = ["count", "sum", "mean", "stddev", "min", "max"]


@pandas_udf(_STATS_T)
@null_safe
def st_summarystats(b: pd.Series) -> pd.DataFrame:
    if len(b):
        m = WR.batch_decode_matrix(b)
        if m is not None:  # homogeneous no-nodata batch → matrix stats
            return _matrix_stats(m[0])
    rows = [summary_stats(WR.decode(bytes(x))) for x in b]
    # empty subset (e.g. an all-NULL Arrow batch under null_safe) must
    # still carry the 6 result columns, not a 0-column frame
    return pd.DataFrame(rows, columns=_STATS_COLS)


def fused_algebra_stats_udf(ops: list):
    """Fused map-algebra chain + summary stats: ONE decode per input
    raster, the whole op chain on live numpy arrays, NO intermediate
    WKB encode — the codec-boundary fusion a composed column expression
    (``rast_add(…) → rast_mul_const(…) → st_summarystats(…)``) cannot
    get, because each chained raster UDF must re-encode/re-decode the
    tile between Python stages (sf0.1, 100k 8×8 tiles: per-tile chained
    7.1 s → batch-vectorized chained 1.8 s → fused 0.5 s).

    ``ops`` is the chain: ``("<binop>", None)`` consumes the second
    input raster (first op only), ``("<op>_const", k)`` applies a
    constant op — names as in raster/algebra.map_algebra2/_const.

    When every tile in an Arrow batch shares one shape/pixel-type header
    (the NORM for a real coverage: tiles of a 100 TB raster layer are
    homogeneous) the batch decodes as ONE (n_tiles, n_px) numpy view and
    the whole chain + stats run as matrix ops — no per-tile Python
    objects at all.  Heterogeneous batches fall back to the per-tile
    loop with identical float64 semantics."""
    from . import algebra as RA

    def _chain(av: np.ndarray, bv):
        # av/bv: float64 (n, px) matrices — LOCAL2 lambdas are elementwise
        out = av
        for name, k in ops:
            if name.endswith("_const"):
                out = RA.LOCAL2[name[: -len("_const")]](out, np.float64(k))
            else:
                out = RA.LOCAL2[name](out, bv)
        return out

    def _batch_matrix(col: pd.Series):
        """(n, w*h) float64 pixel matrix via the shared homogeneous-batch
        decoder (WR.batch_decode_matrix — also the rast2/rastconst stage
        fast path), else None."""
        m = WR.batch_decode_matrix(col)  # matrix-only: any endianness OK
        return m[0] if m is not None else None

    @null_safe  # NULL tiles → NULL stats row, matching st_summarystats
    def fn(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        if len(a):
            av = _batch_matrix(a)
            bv = _batch_matrix(b)
            if av is not None and bv is not None and av.shape == bv.shape:
                return _matrix_stats(_chain(av, bv))
        rows = []
        for x, y in zip(a, b):
            r = WR.decode(bytes(x))
            for name, k in ops:
                if name.endswith("_const"):
                    r = RA.map_algebra_const(r, name[: -len("_const")], float(k))
                else:
                    r = RA.map_algebra2(r, WR.decode(bytes(y)), name)
            rows.append(summary_stats(r))
        return pd.DataFrame(rows, columns=_STATS_COLS)

    fn.__name__ = "fused_algebra_stats"
    return pandas_udf(fn, _STATS_T)


@pandas_udf(BinaryType())
@null_safe
def st_resize(b: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
    return pd.Series(
        [WR.encode(resize(WR.decode(bytes(x)), int(ww), int(hh))) for x, ww, hh in zip(b, w, h)]
    )


@pandas_udf(DoubleType())
def st_value(b: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
    return pd.Series(
        [value_at(WR.decode(bytes(r)), float(xx), float(yy)) for r, xx, yy in zip(b, x, y)],
        dtype=object,
    )


@pandas_udf(DoubleType())
@null_safe
def st_nearestvalue(b: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
    return pd.Series(
        [nearest_value(WR.decode(bytes(r)), float(xx), float(yy)) for r, xx, yy in zip(b, x, y)],
        dtype=object,
    )


@pandas_udf(BinaryType())
@null_safe
def st_aspng(b: pd.Series) -> pd.Series:
    return b.map(lambda x: as_png(WR.decode(bytes(x))))
