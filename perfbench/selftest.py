"""Tests of the benchmark's own parts: generator, oracle, band server and
event-log summary. They start no Spark session.

Run from the repository root::

    python3 -m pytest perfbench/selftest.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys
import threading
import time
import urllib.error
import urllib.request

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs, oracle  # noqa: E402
from perfbench.band_server import BandServer  # noqa: E402
from perfbench.trace import summarise  # noqa: E402
from perfbench.workloads import prepare  # noqa: E402


def _digest(prep) -> str:
    """SHA-256 over the written files, every served payload, the 503 set
    and the clip windows."""
    inp, h = prep.inp, hashlib.sha256()
    for path in (inp.catalog_path, inp.aoi_path):
        with open(path, "rb") as fh:
            h.update(fh.read())
    for key in sorted(prep.server.payloads):
        h.update("/".join(key).encode())
        h.update(prep.server.payloads[key])
    h.update(repr(sorted(inp.fail_products)).encode())
    h.update(repr([(a.fid, a.clip) for a in inp.aois]).encode())
    return h.hexdigest()


@pytest.mark.parametrize("workload", ["tile_batch", "aoi_isolated"])
def test_generator_same_seed_same_bytes(tmp_path, workload):
    digests = []
    for i, seed in enumerate((5, 5, 6)):
        prep = prepare(workload, seed, str(tmp_path / f"g{i}"))
        prep.server.stop()
        digests.append(_digest(prep))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_generated_coordinates_on_grid():
    inp = inputs.generate("aoi_isolated", 3)
    for a in inp.aois:
        assert all((v / inputs.GRID).is_integer() for v in a.bbox)
    for w in inp.catalog["GeoFootprint"][:500]:
        assert all((v / inputs.GRID).is_integer() for v in oracle.wkt_bounds(w))


def _fixture_catalog() -> pd.DataFrame:
    from etl_sentinel_imagery_spark.sources.catalog_fixture import CATALOG_ROWS

    rows = [inputs.catalog_row(*r) for r in CATALOG_ROWS]
    return pd.DataFrame(rows, columns=inputs.CATALOG_COLUMNS)


def test_oracle_on_catalog_fixture():
    from etl_sentinel_imagery_spark.sources.catalog_fixture import AOI, SELECT_PARAMS

    cands = oracle.candidates(_fixture_catalog(), SELECT_PARAMS)
    got = oracle.best_per_aoi(cands, {
        1: (AOI["minx"], AOI["miny"], AOI["maxx"], AOI["maxy"]),  # Toulouse, 31TCJ
        2: (2.25, 43.25, 2.75, 43.75),  # inside tile 31TDJ
        3: (10.25, 43.25, 10.75, 43.75),  # off-catalog
    })
    assert got == {1: ("p-full", 1.0), 2: ("p-tdj-2", 1.0), 3: None}


def test_oracle_matches_brute_force_sort():
    """The argmax shortcut equals a full sort by (ratio desc, OriginDate
    desc, Id asc) on a generated workload."""
    inp = inputs.generate("aoi_isolated", 11)
    cands = oracle.candidates(pd.DataFrame(inp.catalog), inputs.PARAMS)
    got = oracle.best_per_aoi(cands, {a.fid: a.bbox for a in inp.aois})
    for a in inp.aois:
        aminx, aminy, amaxx, amaxy = a.bbox
        c = cands[(cands.minx < amaxx) & (cands.maxx > aminx)
                  & (cands.miny < amaxy) & (cands.maxy > aminy)].copy()
        if c.empty:
            assert got[a.fid] is None
            continue
        iw = c[["maxx"]].clip(upper=amaxx).maxx - c[["minx"]].clip(lower=aminx).minx
        ih = c[["maxy"]].clip(upper=amaxy).maxy - c[["miny"]].clip(lower=aminy).miny
        c["ratio"] = iw * ih / ((amaxx - aminx) * (amaxy - aminy))
        best = c.sort_values(["ratio", "OriginDate", "Id"], ascending=[False, False, True]).iloc[0]
        assert got[a.fid] == (best["Id"], best["ratio"])


def _token_manager(base: str):
    from etl_sentinel_imagery_spark.sources.http_bands import make_token_manager

    return make_token_manager(f"{base}/token")


def test_server_counters_redirect_and_503():
    from etl_sentinel_imagery_spark.sources.http_bands import download_band

    with BandServer({("p1", "B02"): b"tif-bytes"}, frozenset({"p2"})) as srv:
        base = srv.base_url
        tm = _token_manager(base)
        assert download_band(f"{base}/band/p1/B02", tm) == b"tif-bytes"
        with pytest.raises(urllib.error.HTTPError) as e:
            download_band(f"{base}/band/p2/B02", tm)
        assert e.value.code == 503
        with pytest.raises(urllib.error.HTTPError) as e:  # no bearer token
            urllib.request.urlopen(f"{base}/data/p1/B02")
        assert e.value.code == 401
        c = srv.counters()
    assert (c.token_requests, c.band_requests, c.data_requests) == (1, 2, 2)
    assert (c.injected_503, c.http_errors) == (1, 2)
    assert c.bytes_sent >= len(b"tif-bytes")
    assert c.busy_s > 0 and c.peak_connections == 1


def test_server_serves_at_most_quota_at_once():
    with BandServer({("p1", "B02"): b"x"}, max_connections=4) as srv:
        for _ in range(4):  # occupy every slot
            srv._slots.acquire()
        done = threading.Event()
        url = f"{srv.base_url}/token"
        t = threading.Thread(target=lambda: (urllib.request.urlopen(url).read(), done.set()))
        t.start()
        time.sleep(0.3)
        assert not done.is_set()  # waits for a slot
        assert srv.counters().peak_connections == 1  # but counts as arrived
        srv._slots.release()
        t.join(timeout=10)
        assert done.is_set() and not t.is_alive()
        for _ in range(3):
            srv._slots.release()


def test_summarise_attributes_jobs_to_spans():
    def task(stage, run_ms, acc):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Accumulables": acc},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": 5e8,
                                 "JVM GC Time": 10,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}}

    plan = {"nodeName": "MapInPandas", "children": [],
            "metrics": [{"name": "time to run Python workers", "accumulatorId": 7}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "s-1"}},
        task(0, 300, [{"ID": 7, "Name": "time to run Python workers", "Update": "250"}]),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "s-1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 5000,
         "Stage IDs": [2], "Properties": {}},
        task(2, 999, []),
    ]
    st = summarise(events)
    assert set(st) == {"s-1"}
    s = st["s-1"]
    assert (s.jobs, s.stages, s.tasks) == (2, 1, 1)
    assert s.job_busy_s == pytest.approx(3.0)  # union of [1,3] and [2,4]
    assert s.run_s == pytest.approx(0.3) and s.cpu_s == pytest.approx(0.5)
    assert s.shuffle_write_bytes == 100
    assert s.py("MapInPandas", "python_s") == pytest.approx(0.25)


def test_latency_median_counts_failures_as_misses():
    from perfbench.run import _median

    assert _median([1.0, 2.0, 3.0, 4.0]) == 2.5
    assert _median([1.0, float("inf"), float("inf")]) == float("inf")



def test_stop_processes_kills_and_reaps_descendants():
    import subprocess

    from perfbench.run import _alive, _stop_processes, _tree_pids

    proc = subprocess.Popen(["sh", "-c", "sleep 60 & sleep 60"])
    time.sleep(0.3)
    kids = _tree_pids() - {os.getpid()}
    assert proc.pid in kids and len(kids) >= 3
    t0 = time.monotonic()
    _stop_processes(timeout=0.5)
    assert time.monotonic() - t0 < 10
    assert not any(_alive(p) for p in kids)
    assert proc.poll() is not None
