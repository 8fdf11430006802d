"""Batch entry point — the reference's CLI run (§3.1), composed.

`download_imagery.py:34-49`: Hydra config → AOI load → AreaDataset →
(commented-out) per-tile loop with failure tolerance.

Two execution modes:

- :func:`run_joined` (DEFAULT, the scale path): every AOI in ONE joined
  plan (operators.selection.select_best_per_aoi — broadcast AOI table,
  per-fid window), then one per-product pass over the DISTINCT winning
  products that fetches, stacks, normalizes and caches each in one task
  (sources.http_bands.cache_stacks). No driver-side loop; thousands of
  AOIs cost one extra broadcast join, and two AOIs sharing a winner
  fetch it once.
- :func:`run` (fault-isolation option): the reference-shaped per-AOI
  loop — one acquisition per AOI row, a failing AOI logs and continues
  (the try/except `download_imagery.py:44-49` sketched). Use when AOIs
  must fail independently (e.g. a flaky band source), at the cost of one
  scheduled plan per AOI.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession

from etl_sentinel_imagery_spark.operators.raster_io import open_cache
from etl_sentinel_imagery_spark.plans.acquisition import BandSource, acquire
from etl_sentinel_imagery_spark.operators.selection import (
    filter_products,
    select_best_per_aoi,
)
from etl_sentinel_imagery_spark.sources.config import AcquisitionConfig
from etl_sentinel_imagery_spark.sources.http_bands import (
    CONNECTION_QUOTA,
    cache_stacks,
    fetch_stacks,
)
from etl_sentinel_imagery_spark.sources.geo_readers import (
    read_aoi_csv,
    read_aoi_geojson,
    read_aoi_gpkg,
    read_aoi_shp,
)

log = logging.getLogger(__name__)


def read_aoi(spark: SparkSession, path: str) -> DataFrame:
    """All four reference AOI formats (download_imagery.py:16-30)."""
    if path.endswith((".geojson", ".json")):
        return read_aoi_geojson(spark, path)
    if path.endswith(".csv"):
        return read_aoi_csv(spark, path)
    if path.endswith(".gpkg"):
        return read_aoi_gpkg(spark, path)
    if path.endswith(".shp"):
        return read_aoi_shp(spark, path)
    raise ValueError(f"unsupported AOI format: {path}")


def run_joined(
    spark: SparkSession,
    config: AcquisitionConfig,
    catalog: DataFrame,
    source: BandSource,
    cache_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The default scale path: all AOIs as ONE joined plan.

    Returns ``(selection, stacked)``: the per-AOI winner table
    (fid → product record) and the ETL'd rasters of the distinct winning
    products. AOIs that intersect nothing (or have zero area) simply
    don't appear in ``selection`` — no empty-guard loop needed.

    With ``cache_dir``, the cache write is the call's only pass over the
    winners: each product task writes its own ``uuid=`` partition of the
    parquet cache (sources.http_bands.cache_stacks), so no pixel goes
    back to the JVM to be written; a ``cache_dir`` pyarrow cannot open
    raises ValueError before any Spark job. ``stacked`` is LAZY and not
    persisted: using it runs the pass again.

    The distinct winners are spread round-robin over the connection
    quota before the fetch: adaptive execution collapses the tiny
    ``distinct()`` output to one partition, which the fetch's coalesce
    cannot split, so all products would download in one task."""
    if config.aoi_path is None:
        raise ValueError("config.aoi_path is required")
    cache = None if cache_dir is None else open_cache(cache_dir)
    aois = read_aoi(spark, config.aoi_path)
    filtered = filter_products(catalog, **config.selection_params())
    selection = select_best_per_aoi(filtered, aois)
    winners = selection.select("uuid").distinct().repartition(CONNECTION_QUOTA)
    if cache is not None:
        cache_stacks(winners, config.bands, source.reader(), cache, normalize=config.normalize)
    return selection, fetch_stacks(winners, config.bands, source.reader(), normalize=config.normalize)


def run(
    spark: SparkSession,
    config: AcquisitionConfig,
    catalog: DataFrame,
    source: BandSource,
    cache_dir: str | None = None,
) -> list[DataFrame]:
    """Fault-isolation mode: one acquisition per AOI row; failures are
    tolerated per-row (download_imagery.py:44-49 intended semantics).
    Prefer :func:`run_joined` unless per-AOI failure isolation is
    required.

    Returns each AOI's :func:`acquire` frame. Those frames are LAZY and
    not persisted: using one after its cache write runs that AOI's
    selection and per-product pass again and downloads every band a
    second time."""
    if config.aoi_path is None:
        raise ValueError("config.aoi_path is required")
    aois = read_aoi(spark, config.aoi_path).collect()
    results: list[DataFrame] = []
    for row in aois:
        bbox = (
            row["bbox"]["minx"],
            row["bbox"]["miny"],
            row["bbox"]["maxx"],
            row["bbox"]["maxy"],
        )
        try:
            out = acquire(
                spark,
                catalog,
                bbox,
                config.selection_params(),
                config.bands,
                source,
                cache_dir=cache_dir,
                normalize=config.normalize,
            )
            results.append(out)
        except Exception:  # per-AOI fault tolerance, keep the batch going
            log.exception("AOI fid=%s failed; continuing", row["fid"])
    return results
