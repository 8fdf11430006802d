"""HTTP band downloader (S6) — the reference's streaming fetch, Spark-shaped.

`download_product` (`/root/reference/code/imagery_store.py:92-147`):
per-band GET with manual redirect following (301/302/303/307), bearer
auth, 8192-byte chunked streaming, and session refresh on auth failure —
executed sequentially under a 4-connection server quota (README quota
note, imagery_store.py:45).

Spark shape: the (product × band) task table is coalesced to the
connection quota so at most 4 concurrent connections exist cluster-wide,
then a mapInArrow stage downloads and decodes inside the executor task
and hands each band to the JVM as an Arrow nested list built from the
decoded numpy buffer (operators.raster.raster_batch). The token
lifecycle is a per-partition TokenManager built from broadcast
credentials (a driver-side manager cannot serve executors); a 401
triggers on_unauthorized() + one retry, mirroring the reference's
rerun-token-access path. urllib-only (no requests in this
container); the decode step defaults to the pure-numpy GeoTIFF codec.
"""

from __future__ import annotations

import urllib.error
import urllib.parse
import urllib.request
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sentinel_imagery_spark.sources.auth import TokenManager

CHUNK_SIZE = 8192  # imagery_store.py:146
MAX_REDIRECTS = 10
CONNECTION_QUOTA = 4  # imagery_store.py:45 server-side limit


class _NoRedirect(urllib.request.HTTPRedirectHandler):
    def redirect_request(self, *args, **kwargs):
        return None


_OPENER = urllib.request.build_opener(_NoRedirect)


def _get(url: str, headers: dict[str, str]):
    req = urllib.request.Request(url, headers=headers)
    return _OPENER.open(req)


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
    import json

    with urllib.request.urlopen(token_url) as r:
        return json.loads(r.read())["access_token"]


def make_token_manager(token_url: str) -> TokenManager:
    """Executor-side TokenManager factory (picklable via partial on this
    module-level function + a URL string)."""
    import functools

    return TokenManager(fetch_token=functools.partial(fetch_json_token, token_url))


def simple_band_url(base: str, product_id: str, band: str) -> str:
    """Flat {base}/band/{pid}/{band} URL scheme (tests / simple stores);
    use node_url for the reference's Nodes(...) chain."""
    return f"{base}/band/{product_id}/{band}"


def node_url(base: str, product_id: str, product_name: str, band_path: list[str]) -> str:
    """The reference's Nodes(...) URL chain (imagery_store.py:137)."""
    nodes = "".join(f"/Nodes({p})" for p in [product_name, *band_path])
    return f"{base}/Products({product_id}){nodes}/$value"


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
    to {height, width, pixels, transform, crs, nodata}, where ``pixels``
    is a 2-D array (an ndarray or nested lists) and ``transform`` an
    {a..f} mapping or a 6-sequence — it defaults to the GeoTIFF codec.
    coalesce(quota) bounds cluster-wide connections."""
    from etl_sentinel_imagery_spark.operators.raster import (
        SINGLE_BAND_SCHEMA,
        raster_batch,
        row_keys,
    )

    if decode is None:
        from etl_sentinel_imagery_spark.functions.geotiff import decode_geotiff

        def decode(buf: bytes) -> dict:
            arr, transform, crs, nodata = decode_geotiff(buf)
            return {
                "height": arr.shape[1],
                "width": arr.shape[2],
                "pixels": arr[0],
                "transform": transform,
                "crs": crs,
                "nodata": 0 if nodata is None else nodata,
            }

    tasks = products.select(F.col("uuid").alias("product_id")).crossJoin(
        spark.createDataFrame([(b,) for b in sorted(bands)], "band string")
    )

    def _fetch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tm = token_manager_factory()  # one lifecycle per partition/task
        for batch in batches:
            for i, r in enumerate(batch.to_pylist()):
                payload = download_band(url_for(r["product_id"], r["band"]), tm)
                d = decode(payload)
                pixels = np.asarray(d["pixels"], dtype=np.int32)
                if pixels.shape != (d["height"], d["width"]):
                    raise ValueError(
                        f"{r['product_id']}/{r['band']}: decoded pixels have shape "
                        f"{pixels.shape}, header says {d['height']}x{d['width']}"
                    )
                yield raster_batch(
                    row_keys(batch, i, "product_id", "band"),
                    pixels, d["transform"], d["crs"], d["nodata"],
                )

    return tasks.coalesce(quota).mapInArrow(_fetch, schema=SINGLE_BAND_SCHEMA)
