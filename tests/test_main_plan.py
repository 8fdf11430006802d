"""Entry-point-1 parity: config → AOI file → acquisition batch."""

from __future__ import annotations

import json
import logging

from etl_sentinel_imagery_spark.plans.acquisition import SyntheticBandSource
from etl_sentinel_imagery_spark.plans.main import run, run_joined
from etl_sentinel_imagery_spark.sources.config import AcquisitionConfig
from etl_sentinel_imagery_spark.sources.catalog_fixture import catalog_df


def _write_aoi(tmp_path, second=(30.0, 10.0, 30.5, 10.5)) -> str:
    x0, y0, x1, y1 = second
    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"fid": 1, "tile_id": "31TCJ"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [
                        [[1.25, 43.25], [1.75, 43.25], [1.75, 43.75],
                         [1.25, 43.75], [1.25, 43.25]]
                    ],
                },
            },
            {  # by default zero coverage → empty selection, tolerated
                "type": "Feature",
                "properties": {"fid": 2},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [
                        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
                    ],
                },
            },
        ],
    }
    p = tmp_path / "aoi.geojson"
    p.write_text(json.dumps(fc))
    return str(p)


def test_run_joined_single_plan(spark, tmp_path):
    """Default mode: both AOIs resolved in ONE joined plan — the covered
    AOI selects p-full, the off-catalog AOI silently yields no row."""
    cfg = AcquisitionConfig(aoi_path=_write_aoi(tmp_path))
    cache = str(tmp_path / "cache_joined")
    selection, stacked = run_joined(
        spark,
        cfg,
        catalog_df(spark),
        SyntheticBandSource(height=4, width=4),
        cache_dir=cache,
    )
    sel = selection.collect()
    assert [(r["fid"], r["uuid"]) for r in sel] == [(1, "p-full")]
    st = stacked.collect()
    assert len(st) == 1 and st[0]["product_id"] == "p-full"
    cached = spark.read.parquet(cache)
    assert cached.select("uuid").distinct().count() == 1


def test_run_batch_over_aoi_file(spark, tmp_path):
    cfg = AcquisitionConfig(aoi_path=_write_aoi(tmp_path))
    cache = str(tmp_path / "cache")
    results = run(
        spark,
        cfg,
        catalog_df(spark),
        SyntheticBandSource(height=4, width=4),
        cache_dir=cache,
    )
    assert len(results) == 2
    first = results[0].collect()
    assert len(first) == 1 and first[0]["product_id"] == "p-full"
    assert results[1].isEmpty()  # off-catalog AOI bails out empty, no raise
    cached = spark.read.parquet(cache)
    assert cached.select("uuid").distinct().count() == 1


class _FailingSource(SyntheticBandSource):
    """Raises for one product's bands, as a band-server outage would."""

    def __init__(self, bad: str):
        super().__init__(height=4, width=4)
        self.bad = bad

    def fetch(self, spark, products, bands):
        if self.bad in [r["uuid"] for r in products.select("uuid").collect()]:
            raise OSError(f"band server down for {self.bad}")
        return super().fetch(spark, products, bands)


def test_run_isolates_a_failing_aoi(spark, tmp_path, caplog):
    """run's reason to exist: the AOI whose bands cannot be fetched (fid 2,
    winner p-tdj-2) is logged and skipped, and the other AOI's result
    still comes back, without raising."""
    cfg = AcquisitionConfig(aoi_path=_write_aoi(tmp_path, (2.25, 43.25, 2.75, 43.75)))
    with caplog.at_level(logging.ERROR, logger="etl_sentinel_imagery_spark.plans.main"):
        results = run(
            spark, cfg, catalog_df(spark), _FailingSource("p-tdj-2"),
            cache_dir=str(tmp_path / "cache"),
        )
    assert [[r["product_id"] for r in res.collect()] for res in results] == [["p-full"]]
    failures = [r for r in caplog.records if "fid=2 failed" in r.getMessage()]
    assert len(failures) == 1
    assert "band server down for p-tdj-2" in str(failures[0].exc_info[1])
