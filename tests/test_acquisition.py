"""End-to-end acquisition pipeline test (SURVEY.md §5 step 3):
selection → synthetic fetch → Tx composition → keyed cache."""

from __future__ import annotations

import numpy as np
import pytest

from etl_sentinel_imagery_spark.operators.raster import normalize_s2
from etl_sentinel_imagery_spark.plans.acquisition import (
    SyntheticBandSource,
    acquire,
    select_product,
)
from etl_sentinel_imagery_spark.sources.catalog_fixture import (
    AOI,
    SELECT_PARAMS,
    catalog_df,
)

BANDS = ["B02", "B03", "B04", "B08"]
AOI_BBOX = (AOI["minx"], AOI["miny"], AOI["maxx"], AOI["maxy"])


def test_selection_winner_and_record_shape(spark):
    rec = select_product(catalog_df(spark), AOI_BBOX, SELECT_PARAMS, BANDS).collect()
    assert len(rec) == 1
    row = rec[0].asDict()
    # p-full covers the whole AOI (ratio 1.0) and passes every filter
    assert row["uuid"] == "p-full"
    assert row["area_ratio"] == 1.0
    assert row["tile"] == "31TCJ"
    assert row["product_date"] == "2023-06-12"
    assert row["cloudcoverage"] == 2.7
    assert row["bands"] == BANDS
    assert row["num_bands"] == 4
    assert row["orbit"] == "R051"
    assert row["name"].split("_")[5] == "T31TCJ"  # reference name shape


def test_selection_tiebreak_date(spark):
    """p-east and p-south tie at ratio 0.5 — later OriginDate must rank
    first among the ties (imagery_store.py:255)."""
    from etl_sentinel_imagery_spark.operators.selection import (
        filter_products,
        rank_by_coverage,
        with_coverage_ratio,
    )

    ranked = rank_by_coverage(
        with_coverage_ratio(
            filter_products(
                catalog_df(spark),
                SELECT_PARAMS["platform"],
                SELECT_PARAMS["product_type"],
                SELECT_PARAMS["date_start"],
                SELECT_PARAMS["date_end"],
                SELECT_PARAMS["cloud_max"],
            ),
            AOI_BBOX,
        )
    ).orderBy("rank")
    rows = [(r["Id"], r["area_ratio"], r["rank"]) for r in ranked.collect()]
    assert rows[0][0] == "p-full"
    # tie at 0.5: p-south (2023-06-22) beats p-east (2023-06-17)
    ties = [r for r in rows if r[1] == 0.5]
    assert [t[0] for t in ties] == ["p-south", "p-east"]


def test_empty_selection_bails_out(spark):
    params = dict(SELECT_PARAMS, cloud_max=-1.0)  # nothing passes
    out = acquire(
        spark, catalog_df(spark), AOI_BBOX, params, BANDS,
        SyntheticBandSource(),
    )
    assert out.isEmpty()


def test_zero_area_aoi_selects_nothing(spark):
    """A zero-width or zero-height AOI box covers nothing: the selection is
    empty, like an off-catalog AOI, and acquire bails out empty instead of
    raising DIVIDE_BY_ZERO."""
    for bbox in [(1.5, 43.25, 1.5, 43.75), (1.25, 43.5, 1.75, 43.5)]:
        assert select_product(catalog_df(spark), bbox, SELECT_PARAMS, BANDS).isEmpty()
        out = acquire(
            spark, catalog_df(spark), bbox, SELECT_PARAMS, BANDS, SyntheticBandSource()
        )
        assert out.isEmpty()


def test_unknown_cache_format_rejected_before_any_job(spark, tmp_path):
    """A typo such as 'tif' must not silently write parquet: acquire raises
    before it schedules a single Spark job."""
    sc = spark.sparkContext
    group = "unknown-cache-format"
    sc.setJobGroup(group, "acquire with an unknown cache_format")
    try:
        with pytest.raises(ValueError, match="cache_format 'tif'"):
            acquire(
                spark, catalog_df(spark), AOI_BBOX, SELECT_PARAMS, BANDS,
                SyntheticBandSource(), cache_dir=str(tmp_path / "c"), cache_format="tif",
            )
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        catalog_df(spark).count()  # the group does record jobs
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not (tmp_path / "c").exists()


def test_acquire_tile_path_stack_and_normalize(spark, tmp_path):
    cache = str(tmp_path / "cache")
    out = acquire(
        spark, catalog_df(spark), AOI_BBOX, SELECT_PARAMS, BANDS,
        SyntheticBandSource(height=4, width=4),
        cache_dir=cache, normalize=True,
    ).collect()
    assert len(out) == 1
    row = out[0].asDict()
    assert row["bands"] == sorted(BANDS)  # O4 deterministic band order
    pix = np.array(row["pixels"])
    assert pix.shape == (4, 4, 4)
    # normalize golden: synthetic values v → clip(v/10000,0,1)*255 floor
    src = SyntheticBandSource(height=4, width=4)
    raw = src.fetch(
        spark,
        spark.createDataFrame([("p-full",)], "uuid string"),
        BANDS,
    )
    raw_b02 = np.array(
        raw.filter("band = 'B02'").collect()[0]["pixels"], dtype=np.int64
    )
    assert np.array_equal(pix[0], normalize_s2(raw_b02).astype(np.int64))
    # cache sink is keyed by uuid (S9 layout)
    cached = spark.read.parquet(cache)
    assert [r["uuid"] for r in cached.select("uuid").collect()] == ["p-full"]


def test_cache_sink_idempotent_rerun(spark, tmp_path):
    """Re-running a product overwrites exactly its own partition (the
    reference's `{uuid}.tif` overwrite semantics, tx.py:92-96)."""
    cache = str(tmp_path / "cache")
    for _ in range(2):  # run the same acquisition twice
        acquire(
            spark, catalog_df(spark), AOI_BBOX, SELECT_PARAMS, BANDS,
            SyntheticBandSource(height=4, width=4), cache_dir=cache,
        ).collect()
    cached = spark.read.parquet(cache)
    assert cached.count() == 1  # one row per product, not appended twice
    assert [r["uuid"] for r in cached.select("uuid").collect()] == ["p-full"]


def test_acquire_geotiff_cache_roundtrip(spark, tmp_path):
    """cache_format='geotiff': the cache holds real GeoTIFF bytes that
    decode back to the stacked normalized pixels (S8, tx.py:28-34)."""
    from etl_sentinel_imagery_spark.functions.geotiff import decode_geotiff

    cache = str(tmp_path / "tif_cache")
    out = acquire(
        spark, catalog_df(spark), AOI_BBOX, SELECT_PARAMS, BANDS,
        SyntheticBandSource(height=4, width=4),
        cache_dir=cache, normalize=True, cache_format="geotiff",
    ).collect()
    cached = spark.read.parquet(cache).collect()
    assert len(cached) == 1 and cached[0]["uuid"] == "p-full"
    arr, transform, crs, _ = decode_geotiff(cached[0]["tif"])
    assert arr.dtype == np.uint8
    np.testing.assert_array_equal(
        arr.astype("int64"), np.array(out[0]["pixels"], dtype="int64")
    )
    assert crs == "epsg:32631"
    assert transform["a"] == 10.0 and transform["e"] == -10.0


def test_acquire_polygon_path_clips(spark):
    # clip bbox in raster CRS: source anchors x at 600000, 10 m px, 4×4
    clip_bbox = (600000.0, 4799980.0, 600020.0, 4800000.0)  # 2×2 window
    out = acquire(
        spark, catalog_df(spark), AOI_BBOX, SELECT_PARAMS, BANDS,
        SyntheticBandSource(height=4, width=4),
        clip_bbox=clip_bbox, normalize=False,
    ).collect()
    row = out[0].asDict()
    assert (row["height"], row["width"]) == (2, 2)
    assert row["transform"]["c"] == 600000.0
    assert row["transform"]["f"] == 4800000.0


def test_acquire_reproject_to_wgs84(spark):
    out = acquire(
        spark, catalog_df(spark), AOI_BBOX, SELECT_PARAMS, BANDS,
        SyntheticBandSource(height=4, width=4),
        normalize=False, reproject_4326=True,
    ).collect()
    row = out[0].asDict()
    assert row["crs"] == "epsg:4326"
    t = row["transform"]
    # UTM 31N x≈600km, y≈4.8Mm → lon ≈ 4.2°, lat ≈ 43.3°
    assert 2.0 < t["c"] < 6.0
    assert 42.0 < t["f"] < 45.0
