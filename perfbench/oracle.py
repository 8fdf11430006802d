"""Independent recomputation of what the pipeline must produce.

Selection: the reference's filters, then area(footprint ∩ AOI)/area(AOI)
over footprints that intersect the AOI with positive area, then ties
broken by ratio desc, OriginDate desc, Id asc. Written in pandas/numpy
over the generated catalog, sharing no code with
``operators.selection``.

Pixels: ``normalize`` mirrors the R1 rule ``floor(clip(x/10000,0,1)·255)``
and ``isolated_expected`` applies the package's numpy kernels
(``clip_to_bbox``, ``default_wgs84_grid``, ``resample_nearest``) to the
served arrays, so Spark plumbing, not the kernels, is what is checked.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def wkt_bounds(wkt: str) -> tuple[float, float, float, float]:
    """Bounding box of a single-ring POLYGON WKT."""
    inner = wkt[wkt.index("((") + 2 : wkt.rindex("))")]
    xy = np.array([p.split() for p in inner.split(",")], dtype=float)
    return xy[:, 0].min(), xy[:, 1].min(), xy[:, 0].max(), xy[:, 1].max()


def candidates(catalog: pd.DataFrame, params: dict) -> pd.DataFrame:
    """Rows passing the reference's filters, with footprint bounds, in
    tiebreak order (OriginDate desc, Id asc)."""
    c = catalog[
        (catalog["platform"] == params["platform"])
        & (catalog["productType"] == params["product_type"])
        & (catalog["ContentDate_Start"] > params["date_start"])
        & (catalog["ContentDate_Start"] < params["date_end"])
        & (catalog["cloudCover"] <= params["cloud_max"])
    ].copy()
    bounds = np.array([wkt_bounds(w) for w in c["GeoFootprint"]]).reshape(-1, 4)
    c[["minx", "miny", "maxx", "maxy"]] = bounds
    c = c.sort_values("Id").sort_values("OriginDate", ascending=False, kind="stable")
    return c.reset_index(drop=True)


def best_per_aoi(
    cands: pd.DataFrame, aois: dict[int, tuple[float, float, float, float]]
) -> dict[int, tuple[str, float] | None]:
    """fid -> (winning Id, coverage ratio), or None when nothing
    intersects the AOI."""
    ids = cands["Id"].to_numpy()
    pminx, pminy, pmaxx, pmaxy = (cands[k].to_numpy() for k in ("minx", "miny", "maxx", "maxy"))
    out: dict[int, tuple[str, float] | None] = {}
    for fid, (aminx, aminy, amaxx, amaxy) in aois.items():
        hit = (pminx < amaxx) & (pmaxx > aminx) & (pminy < amaxy) & (pmaxy > aminy)
        idx = np.flatnonzero(hit)
        if idx.size == 0:
            out[fid] = None
            continue
        iw = np.minimum(pmaxx[idx], amaxx) - np.maximum(pminx[idx], aminx)
        ih = np.minimum(pmaxy[idx], amaxy) - np.maximum(pminy[idx], aminy)
        ratio = iw * ih / ((amaxx - aminx) * (amaxy - aminy))
        # rows are already in (OriginDate desc, Id asc) order, so the
        # first row holding the maximum ratio is the winner
        k = int(np.argmax(ratio))
        out[fid] = (str(ids[idx[k]]), float(ratio[k]))
    return out


def normalize(arr: np.ndarray) -> np.ndarray:
    return np.floor(np.clip(arr / 10000.0, 0.0, 1.0) * 255.0).astype(np.uint8)


def isolated_expected(
    stack: np.ndarray, transform: dict, crs: str, clip_bbox
) -> tuple[np.ndarray, dict, str]:
    """Clip to ``clip_bbox`` (raster CRS), then nearest-neighbour warp to
    EPSG:4326 on the default grid — the path ``acquire`` takes with
    ``clip_bbox`` and ``reproject_4326=True``."""
    from etl_sentinel_imagery_spark.functions.proj import utm_forward, utm_inverse
    from etl_sentinel_imagery_spark.operators.raster import (
        clip_to_bbox,
        default_wgs84_grid,
        resample_nearest,
    )

    t = tuple(transform[k] for k in "abcdef")
    clipped, ct = clip_to_bbox(stack, t, clip_bbox)
    zone = int(crs[-2:])
    dst_t, shape = default_wgs84_grid(ct, clipped.shape[1:], utm_inverse(zone))
    out = resample_nearest(clipped, ct, dst_t, shape, inverse_coord_fn=utm_forward(zone), nodata=0)
    return out, dict(zip("abcdef", dst_t)), "epsg:4326"
