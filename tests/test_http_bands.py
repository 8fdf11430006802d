"""S6 HTTP band downloader against a local fake CDSE server.

The stdlib ThreadingHTTPServer plays the reference's endpoint: redirects
band URLs (302), enforces bearer auth with first-token-always-stale (so
the 401→refresh→retry path actually executes), and serves GeoTIFF bytes
— making fetch→decode→SINGLE_BAND_SCHEMA real end to end.
"""

from __future__ import annotations

import functools
import json
import socket
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np
import pytest

from etl_sentinel_imagery_spark.functions.geotiff import encode_geotiff

TRANSFORM = {"a": 10.0, "b": 0.0, "c": 600000.0, "d": 0.0, "e": -10.0, "f": 4800000.0}


def _band_array(pid: str, band: str) -> np.ndarray:
    seed = (hash((pid, band)) % 97) + 1
    return (np.arange(12, dtype="int32").reshape(3, 4) * seed) % 10000


class _FakeCdse(BaseHTTPRequestHandler):
    issued = 0
    lock = threading.Lock()
    # concurrency counters: requests in flight now and at most, and band
    # payloads served; ``delay`` holds each payload so requests overlap
    active = peak = served = 0
    delay = 0.0

    def log_message(self, *args):  # quiet
        pass

    def do_GET(self):
        cls = type(self)
        with cls.lock:
            cls.active += 1
            cls.peak = max(cls.peak, cls.active)
        try:
            self._get()
        finally:
            with cls.lock:
                cls.active -= 1

    def _get(self):
        cls = type(self)
        if self.path == "/token":
            with cls.lock:
                tok = f"tok-{cls.issued}"
                cls.issued += 1
            body = json.dumps({"access_token": tok}).encode()
            self.send_response(200)
            self.end_headers()
            self.wfile.write(body)
            return
        if self.path.startswith("/band/"):
            self.send_response(302)
            self.send_header("Location", "/data/" + self.path[len("/band/"):])
            self.end_headers()
            return
        if self.path.startswith("/jp2band/"):
            self.send_response(302)
            self.send_header(
                "Location", "/jp2data/" + self.path[len("/jp2band/"):]
            )
            self.end_headers()
            return
        if self.path.startswith("/jp2data/"):
            auth = self.headers.get("Authorization", "")
            if not auth.startswith("Bearer tok-") or auth == "Bearer tok-0":
                self.send_response(401)
                self.end_headers()
                return
            from tests.test_jp2 import _codestream, _jp2_container

            buf = _jp2_container(_codestream(n_tiles=2))
            self.send_response(200)
            self.send_header("Content-Length", str(len(buf)))
            self.end_headers()
            self.wfile.write(buf)
            return
        if self.path.startswith("/data/"):
            auth = self.headers.get("Authorization", "")
            # first issued token is always stale → forces the 401 path
            if not auth.startswith("Bearer tok-") or auth == "Bearer tok-0":
                self.send_response(401)
                self.end_headers()
                return
            pid, band = self.path[len("/data/"):].split("/")
            if pid == "p-503":
                self.send_response(503)
                self.end_headers()
                return
            buf = encode_geotiff(
                _band_array(pid, band)[None, :, :], TRANSFORM, "epsg:32631", 0
            )
            time.sleep(cls.delay)
            with cls.lock:
                cls.served += 1
            self.send_response(200)
            self.send_header("Content-Length", str(len(buf)))
            self.end_headers()
            self.wfile.write(buf)
            return
        self.send_response(404)
        self.end_headers()


@pytest.fixture(scope="module")
def server():
    _FakeCdse.issued = 0
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _FakeCdse)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _make_tm(base: str):
    from etl_sentinel_imagery_spark.sources.http_bands import make_token_manager

    return make_token_manager(f"{base}/token")


def test_download_band_redirect_and_401_retry(server):
    from etl_sentinel_imagery_spark.sources.http_bands import download_band

    tm = _make_tm(server)
    buf = download_band(f"{server}/band/p-full/B02", tm)
    # first token was stale: the manager must have refreshed exactly once
    assert tm.refresh_count == 2  # initial fetch + 401 retry
    from etl_sentinel_imagery_spark.functions.geotiff import decode_geotiff

    arr, _, crs, _ = decode_geotiff(buf)
    np.testing.assert_array_equal(arr[0], _band_array("p-full", "B02"))
    assert crs == "epsg:32631"


def test_fetch_bands_http_end_to_end(spark, server):
    from etl_sentinel_imagery_spark.sources.http_bands import fetch_bands_http

    products = spark.createDataFrame([("p-full",), ("p-east",)], "uuid string")
    from etl_sentinel_imagery_spark.sources.http_bands import (
        make_token_manager,
        simple_band_url,
    )

    out = fetch_bands_http(
        spark,
        products,
        ["B03", "B02"],
        url_for=functools.partial(simple_band_url, server),
        token_manager_factory=functools.partial(make_token_manager, f"{server}/token"),
    )
    assert out.rdd.getNumPartitions() <= 4  # connection quota
    rows = {(r["product_id"], r["band"]): r for r in out.collect()}
    assert set(rows) == {
        ("p-full", "B02"), ("p-full", "B03"), ("p-east", "B02"), ("p-east", "B03"),
    }
    r = rows[("p-east", "B03")]
    np.testing.assert_array_equal(
        np.array(r["pixels"]), _band_array("p-east", "B03")
    )
    assert r["crs"] == "epsg:32631" and r["height"] == 3 and r["width"] == 4


def test_node_url_reference_shape():
    from etl_sentinel_imagery_spark.sources.http_bands import node_url

    url = node_url(
        "https://host/odata/v1",
        "uuid-1",
        "S2B_MSIL2A_x.SAFE",
        ["GRANULE", "L2A_T31TCJ", "IMG_DATA", "R10m", "B02_10m.jp2"],
    )
    assert url == (
        "https://host/odata/v1/Products(uuid-1)/Nodes(S2B_MSIL2A_x.SAFE)"
        "/Nodes(GRANULE)/Nodes(L2A_T31TCJ)/Nodes(IMG_DATA)/Nodes(R10m)"
        "/Nodes(B02_10m.jp2)/$value"
    )


def test_acquire_via_http_source(spark, server):
    """The full reference pipeline over the wire: selection → HTTP fetch
    (redirect + auth + chunks) → GeoTIFF decode → stack."""
    from etl_sentinel_imagery_spark.plans.acquisition import (
        HttpBandSource,
        acquire,
    )
    from etl_sentinel_imagery_spark.sources.catalog_fixture import (
        AOI,
        SELECT_PARAMS,
        catalog_df,
    )

    src = HttpBandSource(server, f"{server}/token")
    out = acquire(
        spark,
        catalog_df(spark),
        (AOI["minx"], AOI["miny"], AOI["maxx"], AOI["maxy"]),
        SELECT_PARAMS,
        ["B03", "B02"],
        src,
        normalize=False,
    ).collect()
    assert len(out) == 1
    row = out[0]
    assert row["product_id"] == "p-full" and row["bands"] == ["B02", "B03"]
    np.testing.assert_array_equal(
        np.array(row["pixels"][0]), _band_array("p-full", "B02")
    )


@pytest.mark.parametrize("cache_format", ["parquet", "geotiff"])
def test_acquire_runs_one_pass(spark, server, tmp_path, cache_format):
    """A cache-writing acquire downloads each band once (the cache write
    is its only pass), and an empty selection downloads nothing and
    writes no uuid= partition, leaving the cached ones in place."""
    from etl_sentinel_imagery_spark.plans.acquisition import HttpBandSource, acquire
    from etl_sentinel_imagery_spark.sources.catalog_fixture import (
        AOI,
        SELECT_PARAMS,
        catalog_df,
    )

    def run(params, cache):
        _FakeCdse.served = 0
        acquire(
            spark, catalog_df(spark), (AOI["minx"], AOI["miny"], AOI["maxx"], AOI["maxy"]),
            params, ["B03", "B02"], HttpBandSource(server, f"{server}/token"),
            cache_dir=str(cache), cache_format=cache_format,
        )
        return _FakeCdse.served, sorted(p.name for p in cache.glob("uuid=*"))

    cache = tmp_path / "cache"
    assert run(SELECT_PARAMS, cache) == (2, ["uuid=p-full"])
    empty = dict(SELECT_PARAMS, cloud_max=-1.0)
    assert run(empty, cache) == (0, ["uuid=p-full"])
    assert run(empty, tmp_path / "fresh") == (0, [])


def test_fetch_jp2_bands_end_to_end(spark, server):
    """The reference's REAL band format over the wire (CDSE serves .jp2,
    imagery_store.py:67): redirect + auth + chunked fetch of JPEG2000
    bytes, native structure parse (functions.jp2) supplying the typed
    dims, injected pixel stand-in for the EBCOT stage (the documented
    irreducible seam), landing in SINGLE_BAND_SCHEMA."""
    import numpy as np

    from etl_sentinel_imagery_spark.functions.jp2 import parse_jp2
    from etl_sentinel_imagery_spark.sources.http_bands import (
        fetch_bands_http,
        make_token_manager,
    )

    def jp2_decode(buf: bytes) -> dict:
        info = parse_jp2(buf)  # real header parse drives the schema
        assert info.is_container and info.reversible
        h, w = info.height, info.width
        px = (np.arange(h * w, dtype="int32").reshape(h, w)
              * info.n_components) % 10000
        return {
            "height": h,
            "width": w,
            "pixels": px.tolist(),
            "transform": [0.0, 10.0, 0.0, 0.0, 0.0, -10.0],
            "crs": "epsg:32631",
            "nodata": 0,
        }

    products = spark.createDataFrame([("p-jp2",)], "uuid string")
    out = fetch_bands_http(
        spark,
        products,
        ["B02"],
        functools.partial("{}/jp2band/{}/{}".format, server),
        functools.partial(make_token_manager, f"{server}/token"),
        decode=jp2_decode,
    ).collect()
    assert len(out) == 1
    row = out[0]
    assert (row["height"], row["width"]) == (256, 512)
    assert row["band"] == "B02" and row["crs"] == "epsg:32631"
    assert row["pixels"][0][:4] == [0, 3, 6, 9]


def test_fetch_stacks_holds_the_connection_quota(spark, server, monkeypatch):
    """The pipeline's per-product pass: 6 products × 2 bands download in
    at most 4 concurrent connections, each band exactly once, and each
    product comes back as one stack in sorted band order."""
    from etl_sentinel_imagery_spark.plans.acquisition import HttpBandSource
    from etl_sentinel_imagery_spark.sources.http_bands import fetch_stacks

    monkeypatch.setattr(_FakeCdse, "delay", 0.05)
    _FakeCdse.peak = _FakeCdse.served = 0
    products = [f"p-q{i}" for i in range(6)]
    out = fetch_stacks(
        spark.createDataFrame([(p,) for p in products], "uuid string"),
        ["B03", "B02"],
        HttpBandSource(server, f"{server}/token").reader(),
        normalize=False,
    )
    assert out.rdd.getNumPartitions() <= 4
    rows = out.collect()
    assert 1 <= _FakeCdse.peak <= 4
    assert _FakeCdse.served == 12
    assert sorted(r["product_id"] for r in rows) == products
    for r in rows:
        assert r["bands"] == ["B02", "B03"]
        want = np.stack([_band_array(r["product_id"], b) for b in ["B02", "B03"]])
        np.testing.assert_array_equal(np.array(r["pixels"]), want)


def _shifted_b03(open_reader):
    """A reader whose band B03 sits one pixel east of the others."""

    def open_shifted():
        read = open_reader()

        def read_shifted(product_id, band):
            d = read(product_id, band)
            return {**d, "transform": {**d["transform"], "c": 600010.0}} if band == "B03" else d

        return read_shifted

    return open_shifted


@pytest.mark.parametrize("fault", ["geometry", "shape", "http_503"])
def test_fetch_stacks_errors_name_product_and_band(spark, server, fault):
    """A failure inside the per-product task still names the product and
    band it happened on: the stack's geometry guard, the decoded-shape
    guard and an HTTP 503 from the band server."""
    from etl_sentinel_imagery_spark.functions.geotiff import decode_geotiff
    from etl_sentinel_imagery_spark.plans.acquisition import HttpBandSource
    from etl_sentinel_imagery_spark.sources.http_bands import (
        fetch_stacks,
        http_reader,
        make_token_manager,
        simple_band_url,
    )

    def wrong_shape(buf):
        arr, t, crs, nodata = decode_geotiff(buf)
        return {"height": 4, "width": 3, "pixels": arr[0], "transform": t,
                "crs": crs, "nodata": 0}

    product, reader = "p-full", HttpBandSource(server, f"{server}/token").reader()
    if fault == "geometry":
        reader = _shifted_b03(reader)
        match = "ValueError: stack_bands: product p-full band B03 differs from band B02"
    elif fault == "shape":
        reader = functools.partial(
            http_reader, functools.partial(simple_band_url, server),
            functools.partial(make_token_manager, f"{server}/token"), wrong_shape,
        )
        match = r"ValueError: p-full/B02: decoded pixels have shape \(3, 4\), header says 4x3"
    else:
        product = "p-503"
        match = "HTTPError: HTTP Error 503"
    products = spark.createDataFrame([(product,)], "uuid string")
    with pytest.raises(Exception, match=match) as err:
        fetch_stacks(products, ["B03", "B02"], reader).collect()
    if fault == "http_503":  # the read's note names where it failed
        assert "reading product p-503 band B02" in str(err.value)


def test_stalled_server_times_out(monkeypatch):
    """A server that accepts the connection and never answers makes both
    the band and the token fetch raise after the socket timeout instead
    of hanging the task."""
    from etl_sentinel_imagery_spark.sources import http_bands
    from etl_sentinel_imagery_spark.sources.auth import TokenManager

    monkeypatch.setattr(http_bands, "SOCKET_TIMEOUT_S", 0.2)
    held = []
    with socket.create_server(("127.0.0.1", 0)) as srv:

        def accept_and_stall():
            for _ in range(2):
                held.append(srv.accept()[0])

        threading.Thread(target=accept_and_stall, daemon=True).start()
        base = f"http://127.0.0.1:{srv.getsockname()[1]}"
        t0 = time.monotonic()
        with pytest.raises(TimeoutError):
            http_bands.download_band(f"{base}/band/p/B02", TokenManager(lambda: "tok"))
        with pytest.raises(TimeoutError):
            http_bands.fetch_json_token(f"{base}/token")
        assert time.monotonic() - t0 < 5
    for conn in held:
        conn.close()
