"""The Arrow pixel codec and the Spark raster stages built on it.

Every stage must equal its numpy kernel applied directly: the codec only
moves pixels between numpy and Arrow nested lists, so any difference is
a defect in the crossing, not in the arithmetic.
"""

from __future__ import annotations

import functools
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np
import pyarrow as pa
import pytest

from etl_sentinel_imagery_spark.functions.geotiff import encode_geotiff
from etl_sentinel_imagery_spark.functions.proj import utm_forward, utm_inverse
from etl_sentinel_imagery_spark.operators.raster import (
    SINGLE_BAND_SCHEMA,
    STACK_SCHEMA,
    clip_to_bbox,
    default_wgs84_grid,
    from_list_array,
    mosaic_first,
    mosaic_stacks,
    normalize_s2,
    raster_batch,
    resample_nearest,
    stack_bands,
    to_list_array,
)

T = {"a": 10.0, "b": 0.0, "c": 600000.0, "d": 0.0, "e": -10.0, "f": 4800000.0}
AFFINE = tuple(T[k] for k in "abcdef")
BANDS = ["B04", "B02", "B03"]  # served out of order: the stack sorts them


def _band(bi: int) -> np.ndarray:
    """5×7 uint16 band holding the normalize edge values 0, 9 999,
    10 000, 15 000 and 65 535 plus a band-dependent ramp."""
    arr = (np.arange(35).reshape(5, 7) * 397 + bi * 1000) % 9000
    arr.flat[[0, 8, 16, 24, 34]] = [0, 9999, 10000, 15000, 65535]
    return arr.astype(np.uint16)


BAND_DATA = {b: _band(i) for i, b in enumerate(sorted(BANDS))}


class _BandServer(BaseHTTPRequestHandler):
    def log_message(self, *args):
        pass

    def do_GET(self):
        if self.path == "/token":
            body = b'{"access_token": "tok"}'
        else:  # /band/{pid}/{band}
            band = self.path.rsplit("/", 1)[1]
            body = encode_geotiff(BAND_DATA[band][None], T, "epsg:32631", 0)
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture(scope="module")
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _BandServer)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    srv.server_close()


def _fetch(spark, server, decode=None, product="p-1"):
    from etl_sentinel_imagery_spark.sources.http_bands import (
        fetch_bands_http,
        make_token_manager,
        simple_band_url,
    )

    return fetch_bands_http(
        spark,
        spark.createDataFrame([(product,)], "uuid string"),
        BANDS,
        url_for=functools.partial(simple_band_url, server),
        token_manager_factory=functools.partial(make_token_manager, f"{server}/token"),
        decode=decode,
    )


# ------------------------------ codec ------------------------------------
@pytest.mark.parametrize("shape", [(1, 5, 7), (2, 3, 5, 7), (3, 4), (1, 1, 1)])
def test_codec_roundtrip(shape):
    arr = np.arange(int(np.prod(shape)), dtype=np.int64).reshape(shape) * 7 - 3
    col = to_list_array(arr)
    assert len(col) == shape[0]
    assert col.to_pylist() == arr.tolist()
    np.testing.assert_array_equal(from_list_array(col), arr)
    # one row's slice decodes to that row alone
    np.testing.assert_array_equal(from_list_array(col.slice(shape[0] - 1, 1))[0], arr[-1])


def test_codec_rejects_ragged_rows():
    with pytest.raises(ValueError, match="ragged"):
        from_list_array(pa.array([[[1, 2], [3]]], pa.list_(pa.list_(pa.int32()))))


# --------------------------- pipeline stages ------------------------------
def test_pipeline_equals_numpy_kernels(spark, server):
    """fetch → stack(normalize) → clip → reproject → GeoTIFF encode over
    Spark gives the same GeoTIFF bytes as the numpy kernels applied to
    the served bands."""
    from etl_sentinel_imagery_spark.operators.raster import (
        clip_stacks,
        reproject_stacks,
    )
    from etl_sentinel_imagery_spark.operators.raster_io import with_geotiff

    bbox = (600010.0, 4799960.0, 600060.0, 4799990.0)  # rows 1..4, cols 1..6
    stacked = stack_bands(_fetch(spark, server), normalize=True)
    (row,) = stacked.collect()
    want = np.stack([normalize_s2(BAND_DATA[b]) for b in sorted(BANDS)])
    assert row["bands"] == sorted(BANDS)
    np.testing.assert_array_equal(np.array(row["pixels"]), want)

    out = with_geotiff(
        reproject_stacks(clip_stacks(stacked, bbox), "epsg:4326"), dtype="uint8"
    )
    (got,) = out.collect()

    clipped, ct = clip_to_bbox(want, AFFINE, bbox)
    assert clipped.shape == (3, 3, 5)
    dst_t, dst_shape = default_wgs84_grid(ct, clipped.shape[1:], utm_inverse(31))
    warped = resample_nearest(
        clipped, ct, dst_t, dst_shape, inverse_coord_fn=utm_forward(31), nodata=0
    )
    assert got["tif"] == encode_geotiff(
        warped, dict(zip("abcdef", dst_t)), "epsg:4326", 0
    )


def _assert_same_cache(spark, got_dir: str, want_dir: str) -> None:
    """Two uuid-keyed caches read back alike through Spark (schema, with
    the uuid partition column, and rows), and pyarrow reads each
    partition of the first as one row."""
    import os

    import pyarrow.parquet as pq

    got, want = spark.read.parquet(got_dir), spark.read.parquet(want_dir)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    parts = sorted(p for p in os.listdir(got_dir) if p.startswith("uuid="))
    assert parts == sorted(p for p in os.listdir(want_dir) if p.startswith("uuid="))
    for part in parts:
        assert pq.read_table(os.path.join(got_dir, part)).num_rows == 1


def test_pipeline_pass_equals_staged_reference(spark, server, tmp_path):
    """acquire and run_joined fetch, stack, normalize, clip, reproject
    and cache each product in one task; their caches must hold byte for
    byte what the staged stages (stack_bands → clip_stacks →
    reproject_stacks → with_geotiff) give for the same served bands, and
    read back as Spark's sink (write_cache / write_cache_geotiff) of the
    staged reference does."""
    import json

    from etl_sentinel_imagery_spark.operators.raster import (
        clip_stacks,
        reproject_stacks,
    )
    from etl_sentinel_imagery_spark.operators.raster_io import (
        with_geotiff,
        write_cache,
        write_cache_geotiff,
    )
    from etl_sentinel_imagery_spark.plans.acquisition import HttpBandSource, acquire
    from etl_sentinel_imagery_spark.plans.main import run_joined
    from etl_sentinel_imagery_spark.sources.catalog_fixture import (
        AOI,
        SELECT_PARAMS,
        catalog_df,
    )
    from etl_sentinel_imagery_spark.sources.config import AcquisitionConfig

    src = HttpBandSource(server, f"{server}/token")
    aoi = (AOI["minx"], AOI["miny"], AOI["maxx"], AOI["maxy"])
    bbox = (600010.0, 4799960.0, 600060.0, 4799990.0)
    staged = stack_bands(_fetch(spark, server, product="p-full"), normalize=True)

    tif_cache = str(tmp_path / "tif")
    acquire(
        spark, catalog_df(spark), aoi, SELECT_PARAMS, BANDS, src, cache_dir=tif_cache,
        clip_bbox=bbox, reproject_4326=True, cache_format="geotiff",
    )
    warped = reproject_stacks(clip_stacks(staged, bbox), "epsg:4326")
    (want,) = with_geotiff(warped, dtype="uint8").collect()
    (got,) = spark.read.parquet(tif_cache).collect()
    assert (got["uuid"], got["bands"]) == ("p-full", sorted(BANDS))
    assert got["tif"] == want["tif"]
    write_cache_geotiff(warped, str(tmp_path / "tif_ref"), dtype="uint8")
    _assert_same_cache(spark, tif_cache, str(tmp_path / "tif_ref"))

    x0, y0, x1, y1 = aoi
    ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
    aoi_path = tmp_path / "aoi.geojson"
    aoi_path.write_text(json.dumps({"type": "FeatureCollection", "features": [{
        "type": "Feature", "properties": {"fid": 1},
        "geometry": {"type": "Polygon", "coordinates": [ring]},
    }]}))
    pq_cache = str(tmp_path / "parquet")
    run_joined(
        spark, AcquisitionConfig(aoi_path=str(aoi_path), bands=BANDS),
        catalog_df(spark), src, cache_dir=pq_cache,
    )
    (want,) = staged.collect()
    (got,) = spark.read.parquet(pq_cache).collect()
    assert (got["uuid"], got["bands"]) == ("p-full", want["bands"])
    assert got["pixels"] == want["pixels"]
    assert got["transform"] == want["transform"] and got["crs"] == want["crs"]
    write_cache(staged, str(tmp_path / "parquet_ref"))
    _assert_same_cache(spark, pq_cache, str(tmp_path / "parquet_ref"))


@pytest.mark.parametrize("pixels_as", ["ndarray", "list"])
@pytest.mark.parametrize("transform_as", ["dict", "seq"])
def test_decode_seam_accepts_arrays_lists_dicts_and_sequences(
    spark, server, pixels_as, transform_as
):
    def decode(buf: bytes) -> dict:  # a closure, so workers unpickle it by value
        from etl_sentinel_imagery_spark.functions.geotiff import decode_geotiff

        arr, t, crs, nodata = decode_geotiff(buf)
        return {
            "height": arr.shape[1],
            "width": arr.shape[2],
            "pixels": arr[0].tolist() if pixels_as == "list" else arr[0],
            "transform": [t[k] for k in "abcdef"] if transform_as == "seq" else t,
            "crs": crs,
            "nodata": nodata or 0,
        }

    rows = {r["band"]: r for r in _fetch(spark, server, decode).collect()}
    assert sorted(rows) == sorted(BANDS)
    for band, r in rows.items():
        np.testing.assert_array_equal(np.array(r["pixels"]), BAND_DATA[band])
        assert r["transform"].asDict() == T
        assert (r["height"], r["width"], r["crs"]) == (5, 7, "epsg:32631")


def _band_rows(overrides: dict) -> pa.Table:
    """Three single-band rows of product p-1; ``overrides`` changes B03."""
    batches = []
    for b in sorted(BANDS):
        o = overrides if b == "B03" else {}
        keys = {"product_id": pa.array(["p-1"]), "band": pa.array([b])}
        batches.append(raster_batch(
            keys, o.get("pixels", BAND_DATA[b]), o.get("transform", T),
            o.get("crs", "epsg:32631"), o.get("nodata", 0),
        ))
    return pa.Table.from_batches(batches)


@pytest.mark.parametrize(
    "overrides",
    [
        {"pixels": BAND_DATA["B03"].reshape(7, 5)},  # same count, other shape
        {"transform": {**T, "c": 600010.0}},
        {"crs": "epsg:32632"},
        {"nodata": 65535},
    ],
    ids=["shape", "transform", "crs", "nodata"],
)
def test_stack_rejects_a_band_with_other_geometry(spark, overrides):
    df = spark.createDataFrame(_band_rows(overrides), schema=SINGLE_BAND_SCHEMA)
    with pytest.raises(Exception, match="ValueError: stack_bands: product p-1 band B03"):
        stack_bands(df).collect()


def test_mosaic_stacks_equals_mosaic_first(spark):
    """First-wins over overlapping products: the Spark stage sorts by
    product_id and must equal mosaic_first over that order."""
    a = np.array([[[5, 0, 7], [0, 6, 6]]])  # 0 = nodata holes
    b = np.array([[[9, 9, 9], [9, 9, 9]]])
    ta = AFFINE
    tb = (10.0, 0.0, 600010.0, 0.0, -10.0, 4800010.0)  # one col right, one row up
    batches = [
        raster_batch(
            {"product_id": pa.array([pid]), "bands": pa.array([["B02"]])},
            pix, t, "epsg:32631", 0,
        )
        for pid, pix, t in [("p-b", b, tb), ("p-a", a, ta)]  # unsorted on purpose
    ]
    df = spark.createDataFrame(pa.Table.from_batches(batches), schema=STACK_SCHEMA)
    (row,) = mosaic_stacks(df).collect()
    want, want_t = mosaic_first([(a, ta), (b, tb)], nodata=0)
    assert row["n_inputs"] == 2 and row["bands"] == ["B02"]
    np.testing.assert_array_equal(np.array(row["pixels"]), want)
    assert tuple(row["transform"][k] for k in "abcdef") == want_t
    assert (row["height"], row["width"]) == want.shape[1:]
    # the overlap keeps p-a's values; p-b fills p-a's holes and the new cells
    assert not np.array_equal(want, mosaic_first([(b, tb), (a, ta)], nodata=0)[0])
