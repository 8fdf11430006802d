"""Acquisition pipeline — selection → fetch → transform → keyed cache.

The reference's end-to-end flow (`dataset.py:35-59` → `imagery_store.py:
37-77` → `tx.py:110-138`), composed from the engine's operators with the
reference's *intended* semantics (its latent bugs fixed — SURVEY.md §2.9:
`etl_process` → `etl_process_tile`, the double band_stack call dropped,
positional-arg swap fixed). One composition,
operators.raster.process_product (stack(+normalize) → clip → reproject),
serves both the tile (R6) and the polygon (R7) path; :func:`acquire` and
plans.main.run_joined run it inside the task that downloads a product's
bands, so no band row is shuffled. Their cache sink is that same task
(sources.http_bands.cache_stacks): it encodes the GeoTIFF when asked,
writes the product's cache partition with pyarrow into a hidden staging
directory and hands the JVM only (uuid, bytes); the driver then swaps
the staged partitions into place. So on the cache path no pixel crosses
back to the JVM, for either cache format. :func:`etl_process_tile` is
the same kernels as separate Spark stages over per-band rows, and
operators.raster_io.write_cache is its Spark sink. An :func:`acquire`
plans its selection once, as one SQL statement
(operators.selection.best_product), inside the cache write: that write
is its only Spark action.

The downloader sits behind a source interface: a :class:`BandSource`
gives a picklable ``reader()``, the per-task read of one (product, band)
that runs on the executor. Tests use a deterministic synthetic source;
:class:`HttpBandSource` downloads with redirect-following chunked
streaming. The products table is coalesced to 4 tasks, honoring the
reference's 4-connection quota (imagery_store.py:134-147, README.md:66)
without a shuffle.
"""

from __future__ import annotations

import functools
import zlib
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from etl_sentinel_imagery_spark.operators.raster import (
    clip_stacks,
    reproject_stacks,
    stack_bands,
)
from etl_sentinel_imagery_spark.operators.raster_io import open_cache
# the staged reference's sink; perfbench imports it from this module
from etl_sentinel_imagery_spark.operators.raster_io import write_cache  # noqa: F401
from etl_sentinel_imagery_spark.operators.selection import best_product
from etl_sentinel_imagery_spark.sources.http_bands import (
    cache_stacks,
    fetch_bands,
    fetch_stacks,
    http_reader,
    make_token_manager,
    simple_band_url,
)


class BandSource:
    """Provides single-band rasters for (product, band) pairs, read inside
    executor tasks."""

    def reader(self) -> Callable[[], Callable[[str, str], dict]]:
        """A picklable factory, called once per executor task, of that
        task's ``read(product_id, band)`` → {height, width, pixels,
        transform, crs, nodata} (the fields sources.http_bands.fetch_bands
        documents)."""
        raise NotImplementedError

    def fetch(self, spark: SparkSession, products: DataFrame, bands: list[str]) -> DataFrame:
        """SINGLE_BAND_SCHEMA rows, one per (product, band)."""
        return fetch_bands(products, bands, self.reader())


def synthetic_reader(height: int, width: int, crs: str) -> Callable[[str, str], dict]:
    """The read of :class:`SyntheticBandSource`: pixel values are a
    (product, band, row, col)-keyed integer pattern in the reflectance
    range, on one 10 m grid anchored at (600000, 4800000)."""
    rc = np.arange(height)[:, None] * 13 + np.arange(width) * 7

    def read(product_id: str, band: str) -> dict:
        base = zlib.crc32(f"{product_id}/{band}".encode()) % 90
        return {
            "height": height,
            "width": width,
            "pixels": ((base + rc) * 157) % 15000,
            "transform": (10.0, 0.0, 600000.0, 0.0, -10.0, 4800000.0),
            "crs": crs,
            "nodata": 0,
        }

    return read


class SyntheticBandSource(BandSource):
    """Deterministic band source for tests: golden outputs are
    reproducible without I/O (:func:`synthetic_reader`)."""

    def __init__(self, height: int = 8, width: int = 8, crs: str = "epsg:32631"):
        self.height, self.width, self.crs = height, width, crs

    def reader(self) -> Callable[[], Callable[[str, str], dict]]:
        return functools.partial(synthetic_reader, self.height, self.width, self.crs)


class HttpBandSource(BandSource):
    """Live downloader (imagery_store.py:92-147 semantics): per-band
    chunked streaming HTTP with redirect-following and 401→token-refresh
    retry inside executor tasks, coalesced to the 4-connection quota.
    Fully implemented in sources.http_bands and exercised against a
    local fake server (tests/test_http_bands.py); this wrapper binds the
    engine's URL scheme + token endpoint. Needs network (or a local
    server) at fetch time."""

    def __init__(self, base_url: str, token_url: str):
        self.base_url, self.token_url = base_url, token_url

    def reader(self) -> Callable[[], Callable[[str, str], dict]]:
        return functools.partial(
            http_reader,
            functools.partial(simple_band_url, self.base_url),
            functools.partial(make_token_manager, self.token_url),
        )


def select_product(
    catalog: DataFrame,
    aoi_bbox: tuple[float, float, float, float],
    params: dict,
    bands: list[str],
    tile_id: str | None = None,
) -> DataFrame:
    """Stage b (imagery_store.py:205-273): filters → coverage → top-1.

    The by-AOI path applies the spatial Intersects predicate (P7,
    imagery_store.py:185) — products disjoint from the AOI never reach
    ranking, so an off-catalog or zero-area AOI yields an empty selection
    rather than a zero-coverage 'winner'. One parameterized SQL
    statement (operators.selection.best_product); the top-1 plans as
    TakeOrderedAndProject, so no full ranking is materialized."""
    return best_product(catalog, aoi_bbox, params, bands, tile_id=tile_id)


def etl_process_tile(
    band_rasters: DataFrame,
    normalize: bool = True,
    reproject_4326: bool = False,
    clip_bbox: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """R6/R7 (tx.py:110-138, intended semantics) over SINGLE_BAND_SCHEMA
    rows, one Spark stage per step: stack(+normalize) → clip to
    ``clip_bbox`` when given (R7's polygon path, its redundant double
    stack dropped) → optional reproject. The same kernels as the
    pipeline's per-product pass (operators.raster.process_product), which
    needs no band shuffle; this staged form is its reference."""
    stacked = stack_bands(band_rasters, normalize=normalize)
    if clip_bbox is not None:
        stacked = clip_stacks(stacked, clip_bbox)
    if reproject_4326:
        stacked = reproject_stacks(stacked, "epsg:4326")
    return stacked


def acquire(
    spark: SparkSession,
    catalog: DataFrame,
    aoi_bbox: tuple[float, float, float, float],
    params: dict,
    bands: list[str],
    source: BandSource,
    cache_dir: str | None = None,
    clip_bbox: tuple[float, float, float, float] | None = None,
    normalize: bool = True,
    reproject_4326: bool = False,
    cache_format: str = "parquet",
) -> DataFrame:
    """Entry point 2 analog (dataset.py:35-59): the full per-AOI pipeline.

    ``clip_bbox`` must be expressed in the RASTER's CRS (the reference
    reprojects the AOI into the product CRS before masking).
    ``cache_format`` is "parquet" or "geotiff" (the reference's
    ``{uuid}.tif`` cache, dataset.py:54, as bytes, encoded in the
    per-product task); any other value, or a ``cache_dir`` pyarrow
    cannot open, raises ValueError before any Spark job.

    The selection and the per-product pass form one plan, and the cache
    write (sources.http_bands.cache_stacks) is its only action. A
    product that fails raises and leaves the cache as it was.
    Bail-out (P11, imagery_store.py:59): an empty selection flows zero
    rows through the pass — no band request, no ``uuid=`` partition —
    with no pre-pass job.

    Returns the stacked rasters (STACK_SCHEMA, empty when nothing was
    selected). The frame is LAZY and not persisted: using it after the
    cache write runs the selection and the pass again and downloads
    every band a second time."""
    encodings = {"parquet": None, "geotiff": "uint8" if normalize else "int32"}
    if cache_format not in encodings:
        raise ValueError(
            f"unknown cache_format {cache_format!r}; expected one of {sorted(encodings)}"
        )
    cache = None if cache_dir is None else open_cache(cache_dir)
    product = select_product(catalog, aoi_bbox, params, bands)
    steps = {"normalize": normalize, "clip_bbox": clip_bbox, "reproject_4326": reproject_4326}
    if cache is not None:
        cache_stacks(product, bands, source.reader(), cache, encode=encodings[cache_format], **steps)
    return fetch_stacks(product, bands, source.reader(), **steps)
