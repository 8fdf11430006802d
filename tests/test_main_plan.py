"""Entry-point-1 parity: config → AOI file → acquisition batch."""

from __future__ import annotations

import json
import logging
import os

import pytest

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

    def reader(self):
        # closures, not methods: executors unpickle them by value, without
        # importing this test module
        bad, open_synthetic = self.bad, super().reader()

        def open_reader():
            read = open_synthetic()

            def read_or_fail(product_id, band):
                if product_id == bad:
                    raise OSError(f"band server down for {bad}")
                return read(product_id, band)

            return read_or_fail

        return open_reader


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


def _cache_files(cache: str) -> dict[str, tuple[bytes, int]]:
    """Every file under a cache directory, dot-files included: relative
    path → (content, inode)."""
    out = {}
    for root, _, files in os.walk(cache):
        for f in files:
            path = os.path.join(root, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, cache)] = (fh.read(), os.stat(path).st_ino)
    return out


def test_failing_product_commits_nothing(spark, tmp_path):
    """The cache write commits only after its job succeeds: when one
    winner's band read raises, run_joined raises, the partition an
    earlier run committed keeps its very files (same bytes, same inodes,
    even if the healthy product was staged again), the failing product
    gets no partition, and no staging directory is left behind."""
    cache = str(tmp_path / "cache")
    run_joined(
        spark, AcquisitionConfig(aoi_path=_write_aoi(tmp_path)), catalog_df(spark),
        SyntheticBandSource(height=4, width=4), cache_dir=cache,
    )
    before = _cache_files(cache)
    assert os.listdir(cache) == ["uuid=p-full"]

    cfg = AcquisitionConfig(aoi_path=_write_aoi(tmp_path, (2.25, 43.25, 2.75, 43.75)))
    with pytest.raises(Exception, match="band server down for p-tdj-2"):
        run_joined(spark, cfg, catalog_df(spark), _FailingSource("p-tdj-2"), cache_dir=cache)
    assert _cache_files(cache) == before
    assert os.listdir(cache) == ["uuid=p-full"]


def test_run_joined_rerun_keeps_one_row_per_product(spark, tmp_path):
    """Re-running run_joined into the same cache replaces each product's
    partition: one row per product, no staging directory left."""
    cfg = AcquisitionConfig(aoi_path=_write_aoi(tmp_path, (2.25, 43.25, 2.75, 43.75)))
    cache = str(tmp_path / "cache")
    for _ in range(2):
        run_joined(
            spark, cfg, catalog_df(spark), SyntheticBandSource(height=4, width=4),
            cache_dir=cache,
        )
    assert sorted(os.listdir(cache)) == ["uuid=p-full", "uuid=p-tdj-2"]
    rows = spark.read.parquet(cache).groupBy("uuid").count().collect()
    assert sorted((r["uuid"], r["count"]) for r in rows) == [("p-full", 1), ("p-tdj-2", 1)]
