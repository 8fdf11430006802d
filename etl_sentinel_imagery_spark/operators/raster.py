"""Raster kernels (tx.py parity) — numpy compute, Spark-grouped execution.

The reference's transform layer (`/root/reference/code/tx.py`): normalize
(R1), clip-by-polygon (R2), band-stack (R3), reproject (R4), first-wins
mosaic (R5), composed as pipelines (R6/R7). rasterio is not available in
this environment, so the kernels are self-contained numpy over an
explicit affine-georeferenced array model:

    pixels: (bands, height, width) int array
    transform: GDAL-style affine (a, b, c, d, e, f):
        x = a·col + b·row + c ;  y = d·col + e·row + f
    (north-up rasters: b = d = 0, e < 0)

Each per-product step is one kernel over a (fields, pixels) raster:
:func:`stack_kernel` (normalize inside it, one band at a time),
:func:`clip_kernel` and :func:`reproject_kernel`, composed by
:func:`process_product`. The pipeline runs that composition inside the
task that downloads the bands (sources.http_bands.fetch_stacks), so a
product crosses the JVM↔Python boundary once. The Spark stages here wrap
the same kernels one step at a time: per-row ops as mapInArrow, stack and
mosaic as grouped ops (groupBy(key).applyInArrow) with explicit
intra-group ordering so first-wins semantics stay deterministic under
parallelism. Pixels cross
the JVM↔Python boundary as Arrow nested lists through one codec pair,
:func:`to_list_array` / :func:`from_list_array`, which reshape the flat
int32 values buffer instead of building a Python object per pixel.
"""

from __future__ import annotations

import functools
import math
from collections.abc import Mapping
from typing import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_sentinel_imagery_spark.functions.proj import utm_forward, utm_inverse

Affine = tuple[float, float, float, float, float, float]

#: Spark schema fragments for raster rows.
TRANSFORM_TYPE = "struct<a:double,b:double,c:double,d:double,e:double,f:double>"
SINGLE_BAND_SCHEMA = (
    "product_id string, band string, height int, width int, "
    f"pixels array<array<int>>, transform {TRANSFORM_TYPE}, "
    "crs string, nodata int"
)
STACK_SCHEMA = (
    "product_id string, bands array<string>, height int, width int, "
    f"pixels array<array<array<int>>>, transform {TRANSFORM_TYPE}, "
    "crs string, nodata int"
)


# =========================== numpy kernels ===============================
def normalize_s2(arr: np.ndarray) -> np.ndarray:
    """R1 (tx.py:20-23): clip(arr/10000, 0, 1) * 255 → uint8. The clip
    and scale run in place, so the only float64 temporary is arr-sized."""
    x = arr / 10000.0
    np.clip(x, 0.0, 1.0, out=x)
    x *= 255
    return x.astype(np.uint8)


def pixel_window(transform: Affine, bbox: tuple[float, float, float, float],
                 height: int, width: int) -> tuple[int, int, int, int]:
    """(row0, row1, col0, col1) half-open pixel window covering bbox —
    the crop geometry of rasterio.mask(crop=True) for north-up rasters."""
    a, b, c, d, e, f = transform
    if b or d:
        raise NotImplementedError("rotated rasters unsupported in clip")
    minx, miny, maxx, maxy = bbox
    col0 = max(int(math.floor((minx - c) / a)), 0)
    col1 = min(int(math.ceil((maxx - c) / a)), width)
    # e < 0: y decreases with row
    row0 = max(int(math.floor((maxy - f) / e)), 0)
    row1 = min(int(math.ceil((miny - f) / e)), height)
    return row0, row1, col0, col1


def clip_to_bbox(
    pixels: np.ndarray, transform: Affine, bbox: tuple[float, float, float, float]
) -> tuple[np.ndarray, Affine]:
    """R2 (tx.py:25-35): crop to bbox, update height/width/transform."""
    bands, h, w = pixels.shape
    r0, r1, c0, c1 = pixel_window(transform, bbox, h, w)
    if r1 <= r0 or c1 <= c0:
        raise ValueError("clip window is empty — AOI outside raster")
    a, b, c, d, e, f = transform
    new_t = (a, b, c + c0 * a, d, e, f + r0 * e)
    return pixels[:, r0:r1, c0:c1], new_t


def resample_nearest(
    pixels: np.ndarray,
    src_transform: Affine,
    dst_transform: Affine,
    dst_shape: tuple[int, int],
    inverse_coord_fn: Callable[[np.ndarray, np.ndarray], tuple[np.ndarray, np.ndarray]]
    | None = None,
    nodata: int = 0,
) -> np.ndarray:
    """R4 core (tx.py:49-71): nearest-neighbor warp onto a destination
    grid. `inverse_coord_fn` maps destination CRS coords → source CRS
    coords (None = same CRS). Vectorized: one meshgrid, one gather."""
    bands, sh, sw = pixels.shape
    dh, dw = dst_shape
    da, db, dc, dd, de, df_ = dst_transform
    # sample at destination pixel CENTERS (col+0.5, row+0.5)
    cols, rows = np.meshgrid(np.arange(dw) + 0.5, np.arange(dh) + 0.5)
    x = da * cols + db * rows + dc
    y = dd * cols + de * rows + df_
    if inverse_coord_fn is not None:
        x, y = inverse_coord_fn(x, y)
    sa, sb, sc, sd, se, sf = src_transform
    # invert the (assumed north-up) source affine; floor → containing pixel
    src_col = np.floor((x - sc) / sa).astype(int)
    src_row = np.floor((y - sf) / se).astype(int)
    valid = (src_col >= 0) & (src_col < sw) & (src_row >= 0) & (src_row < sh)
    out = np.full((bands, dh, dw), nodata, dtype=pixels.dtype)
    sc_ = np.clip(src_col, 0, sw - 1)
    sr_ = np.clip(src_row, 0, sh - 1)
    for bi in range(bands):
        vals = pixels[bi, sr_, sc_]
        out[bi] = np.where(valid, vals, nodata)
    return out


def resize_nearest(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Axis-aligned nearest-neighbor resize of (H, W[, C]) — pixel-center
    sampling (source index = floor((i + 0.5) · in/out)), the same
    convention :func:`resample_nearest` uses for warps. Dtype-preserving;
    an integer upscale factor reproduces ``np.repeat`` exactly."""
    h, w = arr.shape[:2]
    rs = np.minimum(((np.arange(out_h) + 0.5) * h / out_h).astype(int), h - 1)
    cs = np.minimum(((np.arange(out_w) + 0.5) * w / out_w).astype(int), w - 1)
    return arr[rs][:, cs]


def resize_bilinear(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Bilinear resize of (H, W[, C]) with half-pixel-center alignment
    and edge clamp (the PIL/OpenCV default convention: source coordinate
    = (i + 0.5) · in/out − 0.5). Interpolates in float64; integer dtypes
    round half-to-even back (np.rint), floats keep their dtype. A
    same-size call is the identity (weights collapse to 0)."""
    h, w = arr.shape[:2]
    a = arr.astype(np.float64)
    ys = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    y0f, x0f = np.floor(ys), np.floor(xs)
    wy, wx = ys - y0f, xs - x0f
    y0 = np.clip(y0f.astype(int), 0, h - 1)
    y1 = np.clip(y0f.astype(int) + 1, 0, h - 1)
    x0 = np.clip(x0f.astype(int), 0, w - 1)
    x1 = np.clip(x0f.astype(int) + 1, 0, w - 1)
    # gather four corners on the (out_h, out_w) grid, then lerp. The
    # extra trailing dims broadcast over an optional channel axis.
    exp = (...,) + (None,) * (arr.ndim - 2)
    wy_, wx_ = wy[:, None][exp], wx[None, :][exp]
    top = a[y0][:, x0] * (1 - wx_) + a[y0][:, x1] * wx_
    bot = a[y1][:, x0] * (1 - wx_) + a[y1][:, x1] * wx_
    out = top * (1 - wy_) + bot * wy_
    if np.issubdtype(arr.dtype, np.integer):
        info = np.iinfo(arr.dtype)
        return np.clip(np.rint(out), info.min, info.max).astype(arr.dtype)
    return out.astype(arr.dtype)


def default_wgs84_grid(
    transform: Affine, shape: tuple[int, int], to_wgs84: Callable, n_res: int = None
) -> tuple[Affine, tuple[int, int]]:
    """R4 grid calc (rasterio.calculate_default_transform analog): bound
    the source in WGS84 via its corners, keep the pixel count."""
    h, w = shape
    a, b, c, d, e, f = transform
    corners_x = np.array([0, w, 0, w]) * a + c
    corners_y = np.array([0, 0, h, h]) * e + f
    lon, lat = to_wgs84(corners_x, corners_y)
    minlon, maxlon = float(lon.min()), float(lon.max())
    minlat, maxlat = float(lat.min()), float(lat.max())
    dst_a = (maxlon - minlon) / w
    dst_e = -(maxlat - minlat) / h
    return (dst_a, 0.0, minlon, 0.0, dst_e, maxlat), (h, w)


def mosaic_first(
    rasters: Iterable[tuple[np.ndarray, Affine]], nodata: int = 0
) -> tuple[np.ndarray, Affine]:
    """R5 (tx.py:73-90): merge same-resolution north-up rasters onto the
    union grid; overlap resolved first-wins (method='first'), in the
    ORDER GIVEN — callers must pre-sort for determinism."""
    rasters = list(rasters)
    if not rasters:
        raise ValueError("empty mosaic")
    a0 = rasters[0][1]
    res_x, res_y = a0[0], a0[4]
    minx = min(t[2] for _, t in rasters)
    maxy = max(t[5] for _, t in rasters)
    maxx = max(t[2] + p.shape[2] * res_x for p, t in rasters)
    miny = min(t[5] + p.shape[1] * res_y for p, t in rasters)
    width = int(round((maxx - minx) / res_x))
    height = int(round((miny - maxy) / res_y))
    bands = rasters[0][0].shape[0]
    out = np.full((bands, height, width), nodata, dtype=rasters[0][0].dtype)
    for pix, t in rasters:
        c0 = int(round((t[2] - minx) / res_x))
        r0 = int(round((t[5] - maxy) / res_y))
        h, w = pix.shape[1], pix.shape[2]
        region = out[:, r0 : r0 + h, c0 : c0 + w]
        mask = region == nodata  # first-wins: only fill untouched cells
        region[mask] = pix[mask]
    return out, (res_x, 0.0, minx, 0.0, res_y, maxy)


# =========================== Arrow codec =================================
#: Arrow type of the ``transform`` struct column.
TRANSFORM_ARROW = pa.struct([(k, pa.float64()) for k in "abcdef"])


def to_list_array(arr: np.ndarray) -> pa.Array:
    """numpy ``(n, *dims)`` → an n-row ``list<…list<int32>>`` Arrow array,
    one list level per trailing dim. Built from the flat int32 buffer and
    regular offsets, so no Python object is made per pixel."""
    arr = np.ascontiguousarray(arr, dtype=np.int32)
    out = pa.array(arr.reshape(-1))
    for k in range(arr.ndim - 1, 0, -1):
        n_lists = int(np.prod(arr.shape[:k]))
        # the int32 cast is checked: a row past 2**31-1 values raises
        offsets = pa.array(np.arange(n_lists + 1) * arr.shape[k], pa.int32())
        out = pa.ListArray.from_arrays(offsets, out)
    return out


def from_list_array(col: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """The inverse of :func:`to_list_array`: n rows of a nested-list
    column → numpy ``(n, *dims)``, reshaped from the flattened values.
    Pass a one-row ``slice`` to decode one raster. Ragged nesting raises."""
    dims = [len(col)]
    while pa.types.is_list(col.type):
        lengths = np.asarray(pc.list_value_length(col))
        dim = int(lengths[0]) if len(lengths) else 0
        if (lengths != dim).any():
            raise ValueError("raster pixels are ragged or null")
        dims.append(dim)
        col = pc.list_flatten(col)
    return np.asarray(col).reshape(dims)


def as_affine(t) -> Affine:
    """A transform given as an {a..f} mapping or as a 6-sequence → Affine."""
    if isinstance(t, Mapping):
        t = [t[k] for k in "abcdef"]
    vals = tuple(map(float, t))
    if len(vals) != 6:
        raise ValueError(f"transform needs 6 coefficients, got {len(vals)}")
    return vals


def raster_batch(keys: dict[str, pa.Array], pixels: np.ndarray, transform,
                 crs: str, nodata: int) -> pa.RecordBatch:
    """One raster row: the one-element ``keys`` columns, then height,
    width, pixels, transform, crs, nodata — the column order of
    SINGLE_BAND_SCHEMA and STACK_SCHEMA, which mapInArrow matches by
    position."""
    return pa.RecordBatch.from_arrays(
        [
            *keys.values(),
            pa.array([pixels.shape[-2]], pa.int32()),
            pa.array([pixels.shape[-1]], pa.int32()),
            to_list_array(pixels[None]),
            pa.array([dict(zip("abcdef", as_affine(transform)))], TRANSFORM_ARROW),
            pa.array([crs], pa.string()),
            pa.array([nodata], pa.int32()),
        ],
        names=[*keys, "height", "width", "pixels", "transform", "crs", "nodata"],
    )


def raster_rows(data: pa.RecordBatch | pa.Table):
    """(non-pixel fields as a dict, pixels as numpy) per row."""
    meta = data.drop_columns(["pixels"]).to_pylist()
    pixels = data.column("pixels")
    for i, m in enumerate(meta):
        yield m, from_list_array(pixels.slice(i, 1))[0]


def stack_batch(r: dict, pixels: np.ndarray) -> pa.RecordBatch:
    """One STACK_SCHEMA row from a stack's fields and pixels."""
    keys = {
        "product_id": pa.array([r["product_id"]], pa.string()),
        "bands": pa.array([list(r["bands"])], pa.list_(pa.string())),
    }
    return raster_batch(keys, pixels, r["transform"], r["crs"], r["nodata"])


# ========================= per-product kernels ============================
# A raster is (fields, pixels): pixels (bands, h, w) and fields holding at
# least transform, crs and nodata. The Spark stages below and the fused
# per-product pass (sources.http_bands.fetch_stacks) run these same kernels.
_GEOMETRY = ("height", "width", "transform", "crs", "nodata")


def stack_kernel(
    rows: Iterable[tuple[dict, np.ndarray]], n_bands: int, normalize: bool
) -> tuple[dict, np.ndarray]:
    """R3: stack one product's ``n_bands`` single-band rasters, given in
    lexicographic band order (O4, imagery_store.py:67-68), into one
    (bands, h, w) int32 array. ``normalize`` applies R1
    (:func:`normalize_s2`) one band at a time, so the float64 temporaries
    stay one band big. ``rows`` may be a generator: then only the band
    being stacked is held beside the stack.

    Every band must match the first on height, width, transform, crs and
    nodata; a mismatch raises ValueError naming the product and band."""
    out, names = None, []
    for k, (m, band) in enumerate(rows):
        if out is None:
            first = m
            out = np.empty((n_bands, m["height"], m["width"]), np.int32)
        bad = [f for f in _GEOMETRY if m[f] != first[f]]
        if bad or band.shape != out.shape[1:]:
            raise ValueError(
                f"stack_bands: product {m['product_id']} band {m['band']} "
                f"differs from band {first['band']} in "
                f"{', '.join(bad) or f'pixel shape {band.shape}'}"
            )
        out[k] = normalize_s2(band) if normalize else band
        names.append(m["band"])
    fields = {f: first[f] for f in ("product_id", "transform", "crs", "nodata")}
    return {**fields, "bands": names}, out


def clip_kernel(
    r: dict, pixels: np.ndarray, bbox: tuple[float, float, float, float]
) -> tuple[dict, np.ndarray]:
    """R2 on one raster: crop to ``bbox``, given in the raster's CRS."""
    out, t = clip_to_bbox(pixels, as_affine(r["transform"]), bbox)
    return {**r, "transform": t}, out


def reproject_kernel(
    r: dict, pixels: np.ndarray, dst_crs: str = "epsg:4326"
) -> tuple[dict, np.ndarray]:
    """R4: nearest-neighbor reprojection to WGS84 (tx.py:49-71).

    Source CRS 'epsg:326xx' (UTM north) maps through the ellipsoidal
    Krüger series (functions.proj); a raster already in ``dst_crs``
    passes through unchanged."""
    src_t = as_affine(r["transform"])
    crs = str(r["crs"]).lower()
    if crs == dst_crs:
        return r, pixels
    if not crs.startswith("epsg:326"):
        raise NotImplementedError(f"source CRS {crs}")
    zone = int(crs[-2:])
    dst_t, dst_shape = default_wgs84_grid(src_t, pixels.shape[1:], utm_inverse(zone))
    out = resample_nearest(
        pixels, src_t, dst_t, dst_shape,
        inverse_coord_fn=utm_forward(zone),  # dst grid → src coords
        nodata=r["nodata"],
    )
    return {**r, "transform": dst_t, "crs": dst_crs}, out


def process_product(
    rows: Iterable[tuple[dict, np.ndarray]],
    n_bands: int,
    normalize: bool,
    clip_bbox: tuple[float, float, float, float] | None = None,
    reproject_4326: bool = False,
) -> tuple[dict, np.ndarray]:
    """R6/R7 (tx.py:110-138, intended semantics) on one product's bands:
    stack(+normalize) → clip to ``clip_bbox`` when given → reproject to
    WGS84 when asked."""
    r, pixels = stack_kernel(rows, n_bands, normalize)
    if clip_bbox is not None:
        r, pixels = clip_kernel(r, pixels, clip_bbox)
    if reproject_4326:
        r, pixels = reproject_kernel(r, pixels, "epsg:4326")
    return r, pixels


# =========================== Spark stages ================================
def normalize_pixels_col(pixels: Column | str) -> Column:
    """R1 as JVM nested-array arithmetic, for callers that normalize a
    pixel column themselves; the pipeline normalizes inside
    :func:`stack_kernel` instead. (floor == numpy's uint8 truncation for
    non-negative reflectances.)"""
    col = F.col(pixels) if isinstance(pixels, str) else pixels
    return F.transform(
        col,
        lambda row: F.transform(
            row,
            lambda px: F.floor(
                F.least(
                    F.greatest(px / F.lit(10000.0), F.lit(0.0)), F.lit(1.0)
                )
                * F.lit(255.0)
            ).cast("int"),
        ),
    )


def _map_rows(
    stacked_df: DataFrame, kernel: Callable[[dict, np.ndarray], tuple[dict, np.ndarray]]
) -> DataFrame:
    """The per-row stage skeleton (mapInArrow, no shuffle): decode each
    STACK_SCHEMA row and emit ``kernel(fields, pixels) → (fields,
    pixels)`` as one row."""

    def _run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for r, pix in raster_rows(batch):
                yield stack_batch(*kernel(r, pix))

    return stacked_df.mapInArrow(_run, schema=STACK_SCHEMA)


def _reduce_groups(
    df: DataFrame, key: str, order: str, schema: str,
    kernel: Callable[[list[tuple[dict, np.ndarray]]], pa.RecordBatch],
) -> DataFrame:
    """The per-group stage skeleton (groupBy(key).applyInArrow): decode the
    group's rows sorted by ``order`` (deterministic whatever the shuffle
    arrival order) and emit ``kernel([(fields, pixels), …])``, one row."""

    def _run(table: pa.Table) -> pa.Table:
        rows = sorted(raster_rows(table), key=lambda r: r[0][order])
        return pa.Table.from_batches([kernel(rows)])

    return df.groupBy(key).applyInArrow(_run, schema=schema)


def stack_bands(single_band_df: DataFrame, normalize: bool = False) -> DataFrame:
    """R3 over SINGLE_BAND_SCHEMA rows: :func:`stack_kernel` per product,
    its bands shuffled together and sorted by name."""
    return _reduce_groups(
        single_band_df, "product_id", "band", STACK_SCHEMA,
        lambda rows: stack_batch(*stack_kernel(rows, len(rows), normalize)),
    )


def clip_stacks(stacked_df: DataFrame, bbox: tuple[float, float, float, float]) -> DataFrame:
    """R2 over stacked products: :func:`clip_kernel` per row."""
    return _map_rows(stacked_df, functools.partial(clip_kernel, bbox=bbox))


def reproject_stacks(stacked_df: DataFrame, dst_crs: str = "epsg:4326") -> DataFrame:
    """R4 over stacked products: :func:`reproject_kernel` per row."""
    return _map_rows(stacked_df, functools.partial(reproject_kernel, dst_crs=dst_crs))


def mosaic_stacks(stacked_df: DataFrame, mosaic_key: Column | None = None) -> DataFrame:
    """R5: first-wins mosaic per key, rows sorted by product_id so
    first-wins is deterministic regardless of shuffle arrival order
    (the explicit-sort-before-reduce mitigation from SURVEY.md §7)."""
    key = mosaic_key if mosaic_key is not None else F.lit("all")
    schema = (
        "mosaic_key string, n_inputs int, bands array<string>, height int, "
        f"width int, pixels array<array<array<int>>>, transform {TRANSFORM_TYPE}, "
        "crs string, nodata int"
    )

    def _mosaic(rows):
        first = rows[0][0]
        out, t = mosaic_first(
            [(pix, as_affine(m["transform"])) for m, pix in rows], nodata=first["nodata"]
        )
        keys = {
            "mosaic_key": pa.array([first["mosaic_key"]], pa.string()),
            "n_inputs": pa.array([len(rows)], pa.int32()),
            "bands": pa.array([first["bands"]], pa.list_(pa.string())),
        }
        return raster_batch(keys, out, t, first["crs"], first["nodata"])

    df = stacked_df.withColumn("mosaic_key", key)
    return _reduce_groups(df, "mosaic_key", "product_id", schema, _mosaic)
