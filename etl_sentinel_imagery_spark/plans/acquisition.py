"""Acquisition pipeline — selection → fetch → transform → keyed cache.

The reference's end-to-end flow (`dataset.py:35-59` → `imagery_store.py:
37-77` → `tx.py:110-138`), composed from the engine's operators with the
reference's *intended* semantics (its latent bugs fixed — SURVEY.md §2.9:
`etl_process` → `etl_process_tile`, the double band_stack call dropped,
positional-arg swap fixed). One composition, :func:`etl_process_tile`,
serves both the tile (R6) and the polygon (R7) path; both cache formats
go through the one keyed writer in operators.raster_io.

The downloader sits behind a source interface: tests use a deterministic
synthetic source; :class:`HttpBandSource` downloads inside executor
tasks (sources.http_bands) with redirect-following chunked streaming and
``coalesce(4)`` honoring the reference's 4-connection quota
(imagery_store.py:134-147, README.md:66).
"""

from __future__ import annotations

import functools
from typing import Protocol

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from etl_sentinel_imagery_spark.operators.raster import (
    SINGLE_BAND_SCHEMA,
    clip_stacks,
    raster_batch,
    reproject_stacks,
    stack_bands,
)
from etl_sentinel_imagery_spark.operators.raster_io import (
    write_cache,
    write_cache_geotiff,
)
from etl_sentinel_imagery_spark.operators.selection import (
    best_product_direct,
    covering,
    filter_products,
    with_coverage_ratio,
)


class BandSource(Protocol):
    """Provides single-band rasters for (product, band) pairs."""

    def fetch(self, spark: SparkSession, products: DataFrame, bands: list[str]) -> DataFrame:
        """Return a DataFrame with SINGLE_BAND_SCHEMA rows."""
        ...


class SyntheticBandSource:
    """Deterministic in-memory band source for tests: pixel values are a
    (product, band, row, col)-keyed integer pattern in the reflectance
    range, so golden outputs are reproducible without I/O."""

    def __init__(self, height: int = 8, width: int = 8, crs: str = "epsg:32631"):
        self.height, self.width, self.crs = height, width, crs

    def fetch(self, spark: SparkSession, products: DataFrame, bands: list[str]) -> DataFrame:
        rc = np.arange(self.height)[:, None] * 13 + np.arange(self.width) * 7
        batches = []
        for i, p in enumerate(sorted(r["uuid"] for r in products.select("uuid").collect())):
            for bi, band in enumerate(sorted(bands)):
                base = (i * 37 + bi * 11) % 90
                transform = (10.0, 0.0, 600000.0 + i * 40.0, 0.0, -10.0, 4800000.0)
                keys = {"product_id": pa.array([p]), "band": pa.array([band])}
                pixels = ((base + rc) * 157) % 15000
                batches.append(raster_batch(keys, pixels, transform, self.crs, 0))
        if not batches:
            return spark.createDataFrame([], schema=SINGLE_BAND_SCHEMA)
        return spark.createDataFrame(pa.Table.from_batches(batches), schema=SINGLE_BAND_SCHEMA)


class HttpBandSource:
    """Live downloader (imagery_store.py:92-147 semantics): per-band
    chunked streaming HTTP with redirect-following and 401→token-refresh
    retry inside executor tasks, coalesced to the 4-connection quota.
    Fully implemented in sources.http_bands and exercised against a
    local fake server (tests/test_http_bands.py); this wrapper binds the
    engine's URL scheme + token endpoint. Needs network (or a local
    server) at fetch time."""

    def __init__(self, base_url: str, token_url: str):
        self.base_url, self.token_url = base_url, token_url

    def fetch(self, spark: SparkSession, products: DataFrame, bands: list[str]) -> DataFrame:
        from etl_sentinel_imagery_spark.sources.http_bands import (
            fetch_bands_http,
            make_token_manager,
            simple_band_url,
        )

        return fetch_bands_http(
            spark,
            products,
            bands,
            url_for=functools.partial(simple_band_url, self.base_url),
            token_manager_factory=functools.partial(
                make_token_manager, self.token_url
            ),
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
    rather than a zero-coverage 'winner'."""
    filtered = filter_products(
        catalog,
        params["platform"],
        params["product_type"],
        params["date_start"],
        params["date_end"],
        params["cloud_max"],
        tile_id=tile_id,
    )
    # top-1 via TakeOrderedAndProject — no full ranking materialized
    return best_product_direct(covering(with_coverage_ratio(filtered, aoi_bbox)), bands)


def etl_process_tile(
    band_rasters: DataFrame,
    normalize: bool = True,
    reproject_4326: bool = False,
    clip_bbox: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """R6/R7 (tx.py:110-138, intended semantics): stack(+normalize) →
    clip to ``clip_bbox`` when given (R7's polygon path, its redundant
    double stack dropped) → optional reproject. Normalize runs inside the
    stack kernel, one band at a time, after the per-band rows cross the
    shuffle."""
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
    reprojects the AOI into the product CRS before masking). Early
    bail-out (P11, imagery_store.py:59): empty selection short-circuits
    before any fetch work is scheduled. ``cache_format`` is "parquet" or
    "geotiff" (the reference's ``{uuid}.tif`` cache, dataset.py:54, as
    bytes); any other value raises ValueError before any Spark job."""
    sinks = {
        "parquet": write_cache,
        "geotiff": functools.partial(
            write_cache_geotiff, dtype="uint8" if normalize else "int32"
        ),
    }
    if cache_format not in sinks:
        raise ValueError(
            f"unknown cache_format {cache_format!r}; expected one of {sorted(sinks)}"
        )
    product = select_product(catalog, aoi_bbox, params, bands)
    if product.isEmpty():
        return product
    rasters = source.fetch(spark, product, bands)
    stacked = etl_process_tile(
        rasters, normalize=normalize, reproject_4326=reproject_4326, clip_bbox=clip_bbox
    )
    if cache_dir is not None:
        sinks[cache_format](stacked, cache_dir)
    return stacked
