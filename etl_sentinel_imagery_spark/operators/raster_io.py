"""GeoTIFF binary columns over Spark (S8 plumbing).

The codec (functions.geotiff) is pure numpy; this module is the
distributed seam: stacked rasters gain a ``tif binary`` column, and tif
bytes decode back to typed raster rows — both as mapInArrow stages that
move pixels through the operators.raster codec, so payloads stay Arrow
buffers and never become Python objects. Mirrors the reference's
file-based GTiff write/read cycle
(`/root/reference/code/tx.py:28-34`, `dataset.py:54-59`) with bytes in
the DataFrame instead of paths on a filesystem. Both cache sinks (parquet
rasters, GeoTIFF bytes) share one uuid-keyed writer, :func:`write_cache`.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from etl_sentinel_imagery_spark.functions.geotiff import (
    decode_geotiff,
    encode_geotiff,
)
from etl_sentinel_imagery_spark.operators.raster import (
    STACK_SCHEMA,
    raster_batch,
    raster_rows,
)


def with_geotiff(stacked: DataFrame, dtype: str = "int32") -> DataFrame:
    """Append ``tif``: each stacked raster encoded as GeoTIFF bytes.

    ``dtype`` picks the sample type ('uint8' after normalization,
    'int32' for raw reflectance counts)."""
    np_dtype = np.dtype(dtype)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in stacked.schema.fields
    ) + ", tif binary"

    def _encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            tifs = [
                encode_geotiff(pix.astype(np_dtype), r["transform"], r["crs"], r["nodata"])
                for _, r, pix in raster_rows(batch)
            ]
            yield batch.append_column("tif", pa.array(tifs, pa.binary()))

    return stacked.mapInArrow(_encode, schema=out_schema)


def stacks_from_geotiff(
    tifs: DataFrame, id_col: str = "product_id", bands_by_id: dict | None = None
) -> DataFrame:
    """(id, tif binary) rows → STACK_SCHEMA raster rows.

    Band names are not stored in baseline TIFF tags; pass
    ``bands_by_id`` (or accept the positional b0..bN names)."""

    def _decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for r in batch.select([id_col, "tif"]).to_pylist():
                arr, transform, crs, nodata = decode_geotiff(r["tif"])
                names = (bands_by_id or {}).get(
                    r[id_col], [f"b{i}" for i in range(arr.shape[0])]
                )
                keys = {
                    "product_id": pa.array([r[id_col]], pa.string()),
                    "bands": pa.array([list(names)], pa.list_(pa.string())),
                }
                yield raster_batch(keys, arr, transform, crs, 0 if nodata is None else nodata)

    return tifs.mapInArrow(_decode, schema=STACK_SCHEMA)


def write_cache(stacked: DataFrame, cache_dir: str) -> None:
    """S9 (tx.py:92-96, dataset.py:54): idempotent uuid-keyed cache sink.

    Parquet partitioned by uuid (the ``product_id`` column) with dynamic
    partition overwrite — re-running a product replaces exactly its own
    partition (the Spark analogue of overwriting `{uuid}.tif`)."""
    (
        stacked.withColumnRenamed("product_id", "uuid")
        .write.mode("overwrite")
        .partitionBy("uuid")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(cache_dir)
    )


def write_cache_geotiff(stacked: DataFrame, cache_dir: str, dtype: str = "int32") -> None:
    """S8 sink: the :func:`write_cache` layout holding GeoTIFF BYTES
    (uuid, bands, tif) — the reference's `{uuid}.tif` files,
    dataset.py:54."""
    write_cache(
        with_geotiff(stacked, dtype=dtype).select("product_id", "bands", "tif"),
        cache_dir,
    )
