"""Multi-AOI joined selection (scale form) + non-axis-aligned overlay."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_sentinel_imagery_spark.functions.geometry import (
    intersection_area,
    parse_wkt_polygon,
)
from etl_sentinel_imagery_spark.operators.selection import (
    filter_products,
    select_best_per_aoi,
)
from etl_sentinel_imagery_spark.plans.acquisition import select_product
from etl_sentinel_imagery_spark.sources.catalog_fixture import (
    AOI,
    SELECT_PARAMS,
    catalog_df,
)


_AOIS = [
    (1, AOI["minx"], AOI["miny"], AOI["maxx"], AOI["maxy"]),  # Toulouse box
    (2, 2.25, 43.25, 2.75, 43.75),  # inside tile 31TDJ only
    (3, 60.0, 10.0, 61.0, 11.0),  # off-catalog: no products intersect
]


def _aoi_df(spark, rows=_AOIS):
    return spark.createDataFrame(
        rows, "fid int, minx double, miny double, maxx double, maxy double"
    ).select(
        "fid",
        F.struct(
            F.col("minx").alias("minx"), F.col("miny").alias("miny"),
            F.col("maxx").alias("maxx"), F.col("maxy").alias("maxy"),
        ).alias("bbox"),
    )


def _filtered(spark, catalog=None):
    return filter_products(
        catalog_df(spark) if catalog is None else catalog,
        SELECT_PARAMS["platform"],
        SELECT_PARAMS["product_type"],
        SELECT_PARAMS["date_start"],
        SELECT_PARAMS["date_end"],
        SELECT_PARAMS["cloud_max"],
    )


def test_joined_selection_matches_per_aoi_loop(spark):
    got = {
        r["fid"]: r
        for r in select_best_per_aoi(_filtered(spark), _aoi_df(spark)).collect()
    }
    # AOI 1: p-full wins with full coverage (same winner as the loop path)
    assert got[1]["uuid"] == "p-full"
    assert got[1]["area_ratio"] == 1.0
    # AOI 2 lies in tile 31TDJ: later-date tiebreak between the two full-
    # coverage TDJ products → p-tdj-2 (2023-07-12)
    assert got[2]["uuid"] == "p-tdj-2"
    assert got[2]["area_ratio"] == 1.0
    # AOI 3: intersects nothing — absent (bbox join filtered it out)
    assert 3 not in got
    # the per-AOI loop's plan (select_product) agrees AOI by AOI: same
    # uuid and area_ratio, and the off-catalog AOI 3 is empty there too
    for fid, *bbox in _AOIS:
        loop = select_product(catalog_df(spark), tuple(bbox), SELECT_PARAMS, ["B02"])
        want = [(got[fid]["uuid"], got[fid]["area_ratio"])] if fid in got else []
        assert [(r["uuid"], r["area_ratio"]) for r in loop.collect()] == want
    # without p-full, p-east and p-south tie at 0.5 on AOI 1: both plans
    # break the tie by the later OriginDate, p-south (2023-06-22)
    no_full = catalog_df(spark).filter(F.col("Id") != "p-full")
    (tie,) = select_best_per_aoi(_filtered(spark, no_full), _aoi_df(spark, _AOIS[:1])).collect()
    (loop,) = select_product(no_full, tuple(_AOIS[0][1:]), SELECT_PARAMS, ["B02"]).collect()
    assert (tie["uuid"], tie["area_ratio"]) == (loop["uuid"], loop["area_ratio"]) == ("p-south", 0.5)


def _physical_plan(df, capsys) -> str:
    capsys.readouterr()
    df.explain()
    return capsys.readouterr().out


def test_selection_plan_shapes(spark, capsys):
    """Each selection plan keeps its shape, so a rewrite cannot silently
    add a shuffle stage (one more job per call): the single-AOI top-1 is
    a TakeOrderedAndProject over one aggregation exchange, with no
    window; the joined plan is a broadcast nested-loop join, an
    aggregation exchange, and a per-fid window behind its own exchange."""
    single = _physical_plan(
        select_product(catalog_df(spark), tuple(_AOIS[0][1:]), SELECT_PARAMS, ["B02"]), capsys
    )
    assert "TakeOrderedAndProject" in single
    assert "Window" not in single
    assert len(re.findall(r"[+:]- Exchange ", single)) == 1
    joined = _physical_plan(select_best_per_aoi(_filtered(spark), _aoi_df(spark)), capsys)
    assert "BroadcastNestedLoopJoin" in joined
    assert re.search(r"[+:]- Window \[row_number\(\).*\], \[fid#\d+\], ", joined)
    assert len(re.findall(r"[+:]- Exchange ", joined)) == 2


def test_zero_area_aoi_gets_no_winner_in_joined_plan(spark):
    """A zero-width or zero-height AOI box has no coverage ratio: the
    joined plan gives it no row, like an off-catalog AOI, and still
    resolves the other AOIs (rather than failing the whole batch with
    DIVIDE_BY_ZERO)."""
    rows = [_AOIS[0], (4, 1.5, 43.25, 1.5, 43.75), (5, 1.25, 43.5, 1.75, 43.5)]
    got = select_best_per_aoi(_filtered(spark), _aoi_df(spark, rows)).collect()
    assert [(r["fid"], r["uuid"], r["area_ratio"]) for r in got] == [(1, "p-full", 1.0)]


def test_exact_overlay_non_axis_aligned():
    """The exact kernel handles the footprints the bbox fast path can't:
    a triangular footprint over the AOI box."""
    aoi = parse_wkt_polygon(
        "POLYGON ((1.25 43.25, 1.75 43.25, 1.75 43.75, 1.25 43.75, 1.25 43.25))"
    )
    # right triangle covering the AOI's lower-left half (hypotenuse on the
    # AOI diagonal): vertices at the AOI corners → intersection = half box
    tri = np.array([[1.25, 43.25], [1.75, 43.25], [1.25, 43.75]])
    got = intersection_area(tri, aoi)
    # the triangle lies fully inside the AOI: area = ½·0.5·0.5 = 0.125
    assert got == pytest.approx(0.125)
    # a rotated square poking one corner into the AOI
    diamond = np.array([[1.25, 43.0], [1.5, 43.25], [1.25, 43.5], [1.0, 43.25]])
    inter = intersection_area(diamond, aoi)
    # upper-right quarter of the diamond is inside: ¼·(2·0.25²) = 0.03125
    assert inter == pytest.approx(0.03125)
