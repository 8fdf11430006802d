"""HTTP band downloader (S6) — the reference's streaming fetch, Spark-shaped.

`download_product` (`/root/reference/code/imagery_store.py:92-147`):
per-band GET with manual redirect following (301/302/303/307), bearer
auth, 8192-byte chunked streaming, and session refresh on auth failure —
executed sequentially under a 4-connection server quota (README quota
note, imagery_store.py:45).

Spark shape: one task skeleton (:func:`_product_pass`). The products
table is coalesced to the connection quota, so at most 4 concurrent
connections exist cluster-wide and no shuffle is added; each mapInArrow
task reads its products' bands one at a time, in sorted order, through
the source's executor-side read (download → decode → shape guard). Three
emitters share that read: :func:`fetch_bands` hands each band to the JVM
as one SINGLE_BAND_SCHEMA row; :func:`fetch_stacks` runs the whole
per-product raster chain (operators.raster.process_product) in the same
task and emits one STACK_SCHEMA row per product, or, given a GeoTIFF
sample type, one GEOTIFF_SCHEMA row with the stack already encoded; and
:func:`cache_stacks` — the pipeline's cache sink, for both formats —
writes that same row from the task into the uuid-keyed cache and hands
the JVM only its (uuid, bytes). Every task builds
one TokenManager from the token URL (a driver-side manager cannot serve
executors); a 401 triggers on_unauthorized() + one retry, mirroring
the reference's rerun-token-access path. urllib-only (no requests in this
container), with a socket timeout on every fetch; the decode step
defaults to the pure-numpy GeoTIFF codec.
"""

from __future__ import annotations

import functools
import json
import urllib.error
import urllib.parse
import urllib.request
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from etl_sentinel_imagery_spark.functions.geotiff import decode_geotiff
from etl_sentinel_imagery_spark.operators.raster import (
    SINGLE_BAND_SCHEMA,
    STACK_SCHEMA,
    as_affine,
    process_product,
    raster_batch,
    stack_batch,
)
from etl_sentinel_imagery_spark.operators.raster_io import (
    GEOTIFF_SCHEMA,
    STAGED_SCHEMA,
    commit_staged,
    geotiff_batch,
    stage_partition,
)
from etl_sentinel_imagery_spark.sources.auth import TokenManager

CHUNK_SIZE = 8192  # imagery_store.py:146
#: Seconds any one blocking socket step (connect, each read) of a band or
#: token fetch may take; a server that accepts and then stalls raises
#: instead of hanging the task.
SOCKET_TIMEOUT_S = 60.0
MAX_REDIRECTS = 10
CONNECTION_QUOTA = 4  # imagery_store.py:45 server-side limit


class _NoRedirect(urllib.request.HTTPRedirectHandler):
    def redirect_request(self, *args, **kwargs):
        return None


_OPENER = urllib.request.build_opener(_NoRedirect)


def _get(url: str, headers: dict[str, str]):
    req = urllib.request.Request(url, headers=headers)
    return _OPENER.open(req, timeout=SOCKET_TIMEOUT_S)


def download_band(url: str, tm: TokenManager) -> bytes:
    """One band payload: redirect-following, chunked, 401→refresh+retry."""

    origin = urllib.parse.urlsplit(url).netloc

    def _attempt(token: str) -> bytes:
        target, redirects = url, 0
        while True:
            # Only the original host gets the bearer token: redirects
            # typically land on presigned object-storage URLs where a
            # forwarded Authorization header both leaks the session
            # token cross-origin and trips "only one auth mechanism"
            # rejections on S3-style endpoints.
            same_origin = urllib.parse.urlsplit(target).netloc == origin
            headers = {"Authorization": f"Bearer {token}"} if same_origin else {}
            try:
                resp = _get(target, headers)
            except urllib.error.HTTPError as e:
                if e.code in (301, 302, 303, 307, 308):
                    redirects += 1
                    if redirects > MAX_REDIRECTS:
                        raise RuntimeError(f"redirect loop at {target}") from e
                    target = urllib.parse.urljoin(target, e.headers["Location"])
                    continue
                raise
            chunks = []
            while chunk := resp.read(CHUNK_SIZE):
                chunks.append(chunk)
            return b"".join(chunks)

    try:
        return _attempt(tm.token())
    except urllib.error.HTTPError as e:
        if e.code != 401:
            raise
        return _attempt(tm.on_unauthorized())  # imagery_store.py:113 rerun


def fetch_json_token(token_url: str) -> str:
    """CDSE-style token endpoint: GET → {'access_token': ...}."""
    with urllib.request.urlopen(token_url, timeout=SOCKET_TIMEOUT_S) as r:
        return json.loads(r.read())["access_token"]


def make_token_manager(token_url: str) -> TokenManager:
    """Executor-side TokenManager factory (picklable via partial on this
    module-level function + a URL string)."""
    return TokenManager(fetch_token=functools.partial(fetch_json_token, token_url))


def simple_band_url(base: str, product_id: str, band: str) -> str:
    """Flat {base}/band/{pid}/{band} URL scheme (tests / simple stores);
    use node_url for the reference's Nodes(...) chain."""
    return f"{base}/band/{product_id}/{band}"


def node_url(base: str, product_id: str, product_name: str, band_path: list[str]) -> str:
    """The reference's Nodes(...) URL chain (imagery_store.py:137)."""
    nodes = "".join(f"/Nodes({p})" for p in [product_name, *band_path])
    return f"{base}/Products({product_id}){nodes}/$value"


def decode_geotiff_band(buf: bytes) -> dict:
    """The default ``decode``: band 0 of a GeoTIFF payload."""
    arr, transform, crs, nodata = decode_geotiff(buf)
    return {
        "height": arr.shape[1],
        "width": arr.shape[2],
        "pixels": arr[0],
        "transform": transform,
        "crs": crs,
        "nodata": 0 if nodata is None else nodata,
    }


def http_reader(
    url_for: Callable[[str, str], str],
    token_manager_factory: Callable[[], TokenManager],
    decode: Callable[[bytes], dict] | None = None,
) -> Callable[[str, str], dict]:
    """Open the HTTP read for one executor task: ``(product_id, band) →``
    the decoded band, over one TokenManager for the whole task."""
    tm = token_manager_factory()
    decode = decode or decode_geotiff_band
    return lambda product_id, band: decode(download_band(url_for(product_id, band), tm))


def read_bands(
    read: Callable[[str, str], dict], product_id: str, bands: list[str]
) -> Iterator[tuple[dict, np.ndarray]]:
    """One product's bands in sorted order, each read when the consumer
    asks for it, as (fields, int32 pixels). A read error gets a note
    naming the product and band; decoded pixels whose shape disagrees
    with the decoder's height/width raise ValueError."""
    for band in sorted(bands):
        try:
            d = read(product_id, band)
        except Exception as e:
            e.add_note(f"reading product {product_id} band {band}")
            raise
        pixels = np.asarray(d["pixels"], dtype=np.int32)
        if pixels.shape != (d["height"], d["width"]):
            raise ValueError(
                f"{product_id}/{band}: decoded pixels have shape "
                f"{pixels.shape}, header says {d['height']}x{d['width']}"
            )
        yield {
            "product_id": product_id, "band": band,
            "height": d["height"], "width": d["width"],
            "transform": as_affine(d["transform"]), "crs": d["crs"], "nodata": d["nodata"],
        }, pixels


def _product_pass(
    products: DataFrame,
    bands: list[str],
    open_reader: Callable[[], Callable[[str, str], dict]],
    emit: Callable[[Iterator[tuple[dict, np.ndarray]]], Iterator[pa.RecordBatch]],
    schema: str,
    quota: int,
) -> DataFrame:
    """The fetch task skeleton. ``products(uuid)`` is coalesced to ``quota``
    tasks, so at most ``quota`` connections are open cluster-wide and no
    shuffle is added. Each task opens one reader and hands ``emit`` every
    product's :func:`read_bands`; ``emit`` yields rows of ``schema``."""

    def _run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        read = open_reader()  # one lifecycle per partition/task
        for batch in batches:
            for product_id in batch.column("uuid").to_pylist():
                yield from emit(read_bands(read, product_id, bands))

    return products.select("uuid").coalesce(quota).mapInArrow(_run, schema=_struct(schema))


@functools.cache
def _struct(ddl: str) -> StructType:
    """A schema constant parsed once: given the DDL text, mapInArrow
    parses it through the JVM on every plan build."""
    return StructType.fromDDL(ddl)


def _band_rows(rows: Iterator[tuple[dict, np.ndarray]]) -> Iterator[pa.RecordBatch]:
    for m, pixels in rows:
        keys = {"product_id": pa.array([m["product_id"]]), "band": pa.array([m["band"]])}
        yield raster_batch(keys, pixels, m["transform"], m["crs"], m["nodata"])


def _stack_rows(
    rows: Iterator[tuple[dict, np.ndarray]], n_bands: int, encode: str | None, **steps
) -> Iterator[pa.RecordBatch]:
    if n_bands:
        r, pixels = process_product(rows, n_bands, **steps)
        yield stack_batch(r, pixels) if encode is None else geotiff_batch(r, pixels, encode)


def fetch_bands(
    products: DataFrame,
    bands: list[str],
    open_reader: Callable[[], Callable[[str, str], dict]],
    quota: int = CONNECTION_QUOTA,
) -> DataFrame:
    """products(uuid) × bands → SINGLE_BAND_SCHEMA rows, one per band.

    ``open_reader()`` runs once per executor task and returns that task's
    ``read(product_id, band)`` → {height, width, pixels, transform, crs,
    nodata}, where ``pixels`` is a 2-D array (an ndarray or nested lists)
    and ``transform`` an {a..f} mapping or a 6-sequence."""
    return _product_pass(products, bands, open_reader, _band_rows, SINGLE_BAND_SCHEMA, quota)


def _staged_rows(
    rows: Iterator[tuple[dict, np.ndarray]], fs, staging: str, **stack
) -> Iterator[pa.RecordBatch]:
    for row in _stack_rows(rows, **stack):
        yield stage_partition(fs, staging, row)


def fetch_stacks(
    products: DataFrame,
    bands: list[str],
    open_reader: Callable[[], Callable[[str, str], dict]],
    normalize: bool = True,
    clip_bbox: tuple[float, float, float, float] | None = None,
    reproject_4326: bool = False,
    encode: str | None = None,
) -> DataFrame:
    """products(uuid) → STACK_SCHEMA rows, one per product: the task that
    reads a product's bands (as :func:`fetch_bands`) also runs
    operators.raster.process_product on them, so no band row is shuffled
    and the stack crosses to the JVM once. With ``encode``, a GeoTIFF
    sample type ('uint8', 'int32'), the same task encodes the stack and
    emits GEOTIFF_SCHEMA rows (product_id, bands, tif) instead. Zero
    products give zero rows and no band request."""
    emit = functools.partial(
        _stack_rows, n_bands=len(bands), encode=encode,
        normalize=normalize, clip_bbox=clip_bbox, reproject_4326=reproject_4326,
    )
    schema = STACK_SCHEMA if encode is None else GEOTIFF_SCHEMA
    return _product_pass(products, bands, open_reader, emit, schema, CONNECTION_QUOTA)


def cache_stacks(
    products: DataFrame,
    bands: list[str],
    open_reader: Callable[[], Callable[[str, str], dict]],
    cache: tuple,
    normalize: bool = True,
    clip_bbox: tuple[float, float, float, float] | None = None,
    reproject_4326: bool = False,
    encode: str | None = None,
) -> None:
    """The pipeline's cache sink: each task of the :func:`fetch_stacks`
    pass writes the row it builds (STACK_SCHEMA, or GEOTIFF_SCHEMA with
    ``encode``) into the uuid-keyed cache ``cache`` = (pyarrow
    filesystem, path), from operators.raster_io.open_cache, and returns
    only (uuid, bytes), so no pixel goes back to the JVM to be written.
    One action (a collect of those rows), then the staged partitions
    replace the old ones (operators.raster_io.commit_staged). A failing
    product raises and commits nothing; zero products touch no
    partition."""
    fs, path = cache

    def run(staging: str) -> list[str]:
        emit = functools.partial(
            _staged_rows, fs=fs, staging=staging, n_bands=len(bands), encode=encode,
            normalize=normalize, clip_bbox=clip_bbox, reproject_4326=reproject_4326,
        )
        staged = _product_pass(products, bands, open_reader, emit, STAGED_SCHEMA, CONNECTION_QUOTA)
        return [r["uuid"] for r in staged.collect()]

    commit_staged(fs, path, run)


def fetch_bands_http(
    spark: SparkSession,
    products: DataFrame,
    bands: list[str],
    url_for: Callable[[str, str], str],
    token_manager_factory: Callable[[], TokenManager],
    decode: Callable[[bytes], dict] | None = None,
    quota: int = CONNECTION_QUOTA,
) -> DataFrame:
    """products(uuid) × bands → SINGLE_BAND_SCHEMA rows via HTTP.

    ``url_for(uuid, band)`` builds each request URL (node_url for
    reference parity, anything for tests). ``decode`` maps payload bytes
    to the fields :func:`fetch_bands` reads — it defaults to the GeoTIFF
    codec. coalesce(quota) bounds cluster-wide connections."""
    opener = functools.partial(http_reader, url_for, token_manager_factory, decode)
    return fetch_bands(products, bands, opener, quota)
