"""GeoTIFF binary columns over Spark (S8 plumbing).

The codec (functions.geotiff) is pure numpy; this module is the
distributed seam: stacked rasters gain a ``tif binary`` column, and tif
bytes decode back to typed raster rows — both as mapInArrow stages that
move pixels through the operators.raster codec, so payloads stay Arrow
buffers and never become Python objects. Mirrors the reference's
file-based GTiff write/read cycle
(`/root/reference/code/tx.py:28-34`, `dataset.py:54-59`) with bytes in
the DataFrame instead of paths on a filesystem. One encode
(:func:`encode_stack`) serves the staged stage (:func:`with_geotiff`)
and the pipeline's per-product task, which emits GEOTIFF_SCHEMA rows
(:func:`geotiff_batch`, sources.http_bands.fetch_stacks with ``encode``)
so a product's pixels cross to Python once.

The uuid-keyed cache (S9, either format) has two sinks that write the
same files. The pipeline's: each product task writes its own row with
pyarrow into a hidden staging directory (:func:`stage_partition`), and
the driver swaps each staged ``uuid=`` partition into place
(:func:`commit_staged`), so no pixel goes back to the JVM to be written.
The staged reference's: Spark's dynamic-overwrite parquet writer,
:func:`write_cache`.
"""

from __future__ import annotations

import os
import uuid
from typing import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from etl_sentinel_imagery_spark.functions.geotiff import (
    decode_geotiff,
    encode_geotiff,
)
from etl_sentinel_imagery_spark.operators.raster import (
    STACK_SCHEMA,
    as_affine,
    raster_batch,
    raster_rows,
)

#: The GeoTIFF cache row: the product, its band names and the encoded stack.
GEOTIFF_SCHEMA = "product_id string, bands array<string>, tif binary"
#: What a cache-writing product task returns: the staged partition's
#: uuid and the size of the file it wrote.
STAGED_SCHEMA = "uuid string, bytes long"
#: The one data file of a cache partition.
PART_FILE = "part-00000.snappy.parquet"
#: Characters Spark escapes in a partition value (ExternalCatalogUtils).
_UNSAFE = set('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(1, 32)}


def encode_stack(r: dict, pixels: np.ndarray, dtype: str) -> bytes:
    """One raster (fields ``r``: transform, crs, nodata) as GeoTIFF bytes
    with ``dtype`` samples ('uint8' after normalization, 'int32' for raw
    reflectance counts)."""
    transform = dict(zip("abcdef", as_affine(r["transform"])))
    return encode_geotiff(pixels.astype(dtype), transform, r["crs"], r["nodata"])


def geotiff_batch(r: dict, pixels: np.ndarray, dtype: str) -> pa.RecordBatch:
    """One GEOTIFF_SCHEMA row from a stack's fields and pixels."""
    return pa.RecordBatch.from_arrays(
        [
            pa.array([r["product_id"]], pa.string()),
            pa.array([list(r["bands"])], pa.list_(pa.string())),
            pa.array([encode_stack(r, pixels, dtype)], pa.binary()),
        ],
        names=["product_id", "bands", "tif"],
    )


def with_geotiff(stacked: DataFrame, dtype: str = "int32") -> DataFrame:
    """Append ``tif``: each stacked raster encoded as GeoTIFF bytes.

    ``dtype`` picks the sample type (:func:`encode_stack`)."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in stacked.schema.fields
    ) + ", tif binary"

    def _encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            tifs = [encode_stack(r, pix, dtype) for r, pix in raster_rows(batch)]
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


def open_cache(cache_dir: str) -> tuple[pafs.FileSystem, str]:
    """``cache_dir`` (a plain path or a filesystem URI) → (pyarrow
    filesystem, path), resolved once on the driver. Both pickle, so the
    product tasks stage through the same filesystem the commit uses. A
    ``cache_dir`` pyarrow cannot open raises ValueError."""
    uri = cache_dir if "://" in cache_dir else os.path.abspath(cache_dir)
    try:
        return pafs.FileSystem.from_uri(uri)
    except (pa.ArrowException, OSError, ValueError) as e:
        raise ValueError(f"cannot open cache_dir {cache_dir!r}: {e}") from e


def _partition(pid: str) -> str:
    """The ``uuid=`` directory name of a product, escaped as Spark does."""
    return "uuid=" + "".join(f"%{ord(c):02X}" if c in _UNSAFE else c for c in pid)


def stage_partition(fs: pafs.FileSystem, staging: str, row: pa.RecordBatch) -> pa.RecordBatch:
    """Task side of the pipeline's cache sink: one product's row
    (``product_id`` first) written, without that column, as the one
    parquet file of ``staging/uuid=<product_id>/`` — the file
    :func:`write_cache` would write. A retried task overwrites its own
    attempt. Returns the STAGED_SCHEMA row."""
    pid = row.column(0)[0].as_py()
    part = f"{staging}/{_partition(pid)}"
    fs.create_dir(part)
    with fs.open_output_stream(f"{part}/{PART_FILE}") as out:
        pq.write_table(pa.Table.from_batches([row.drop_columns(["product_id"])]), out)
        nbytes = out.tell()
    return pa.RecordBatch.from_arrays(
        [pa.array([pid], pa.string()), pa.array([nbytes], pa.int64())], names=["uuid", "bytes"]
    )


def commit_staged(
    fs: pafs.FileSystem, path: str, run: Callable[[str], Iterable[str]]
) -> None:
    """Driver side of the pipeline's cache sink, with the contract of
    :func:`write_cache`'s dynamic partition overwrite. ``run(staging)``
    stages partitions under a fresh ``.staging-*`` directory of ``path``
    (hidden from Spark and pyarrow readers) and returns their uuids; only
    once it returns is each ``uuid=`` partition replaced: the old
    directory removed, the staged file moved in. If ``run`` raises,
    nothing is committed. The staging directory goes on every exit."""
    staging = f"{path}/.staging-{uuid.uuid4().hex}"
    fs.create_dir(staging)
    try:
        for part in sorted({_partition(pid) for pid in run(staging)}):
            target = f"{path}/{part}"
            if fs.get_file_info(target).type != pafs.FileType.NotFound:
                fs.delete_dir(target)
            fs.create_dir(target)
            fs.move(f"{staging}/{part}/{PART_FILE}", f"{target}/{PART_FILE}")
    finally:
        fs.delete_dir(staging)


def write_cache(stacked: DataFrame, cache_dir: str) -> None:
    """S9 (tx.py:92-96, dataset.py:54): idempotent uuid-keyed cache sink,
    the staged reference's (the pipeline stages and commits each product
    in its own task, :func:`commit_staged`).

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
    dataset.py:54. The staged form: the pipeline encodes and writes in
    the per-product task instead (sources.http_bands.cache_stacks)."""
    write_cache(
        with_geotiff(stacked, dtype=dtype).select("product_id", "bands", "tif"),
        cache_dir,
    )
