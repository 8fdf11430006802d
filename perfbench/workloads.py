"""The three workloads: set-up, warm-up, timed batches and output checks.

``tile_batch`` and ``aoi_fanout`` call ``plans.main.run_joined`` once per
batch. ``aoi_isolated`` reads the AOIs as ``plans.main.run`` does and
calls ``plans.acquisition.acquire`` once per AOI, catching and counting
failures as ``run`` does. Bands always travel through
``plans.acquisition.HttpBandSource`` from the local ``BandServer``.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import inputs, oracle
from perfbench.band_server import BandServer, ServerCounters
from perfbench.trace import maybe_span


@dataclass
class Prepared:
    """Generated inputs, their expected selection, and a running server."""

    inp: inputs.Inputs
    cands: pd.DataFrame
    winners: dict[int, tuple[str, float] | None]
    server: BandServer


def prepare(workload: str, seed: int, directory: str) -> Prepared:
    """Generate inputs, compute the expected winners (the server must
    hold their payloads), encode the payloads and start the server."""
    inp = inputs.generate(workload, seed)
    cands = oracle.candidates(pd.DataFrame(inp.catalog), inputs.PARAMS)
    winners = oracle.best_per_aoi(cands, {a.fid: a.bbox for a in inp.aois})
    inputs.attach_winners(inp, {f: (w[0] if w else None) for f, w in winners.items()})
    inputs.write_files(inp, directory)
    server = BandServer(inp.payloads(), inp.fail_products)
    server.start()
    return Prepared(inp, cands, winners, server)


def noop(df) -> None:
    """Run a DataFrame's whole plan without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Batch:
    """One timed batch: its wall time and what it produced."""

    wall_s: float
    cache_dir: str
    server: ServerCounters  # counter deltas over the batch
    latencies: dict[int, float] = field(default_factory=dict)  # fid -> seconds
    outcomes: dict[int, str] = field(default_factory=dict)  # fid -> ok|failed
    results: dict = field(default_factory=dict)  # fid -> returned DataFrame
    selection: object = None  # run_joined's per-AOI winner table
    spans: list = field(default_factory=list)


class Workload:
    """Shared driver for one workload inside a live Spark session."""

    def __init__(self, spark, prep: Prepared, work: str):
        from etl_sentinel_imagery_spark.plans.acquisition import HttpBandSource

        self.spark = spark
        self.prep = prep
        self.inp = prep.inp
        self.work = work
        base = prep.server.base_url
        self.source = HttpBandSource(base, f"{base}/token")
        self.catalog = spark.read.parquet(self.inp.catalog_path)
        self._n = 0
        self._expected_out: dict[int, tuple] = {}

    def rebind(self, spark) -> None:
        """Use a new session (the traced run restarts it)."""
        self.spark = spark
        self.catalog = spark.read.parquet(self.inp.catalog_path)

    def _cache_dir(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"cache-{self._n}")

    @property
    def n_aois(self) -> int:
        return len(self.inp.aois)

    def expected_winners(self) -> set[str]:
        return {w[0] for w in self.prep.winners.values() if w}

    # ---- overridden per shape --------------------------------------------
    def warm_up(self) -> None:
        raise NotImplementedError

    def batch(self, tracer=None) -> Batch:
        raise NotImplementedError

    def check(self, b: Batch) -> list[str]:
        raise NotImplementedError

    def committed_mpix(self, b: Batch) -> float:
        raise NotImplementedError


def _cache_files(cache_dir: str) -> list[str]:
    out = []
    for root, dirs, files in os.walk(cache_dir):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]  # staging dirs
        out += [os.path.join(root, f) for f in files if not f.startswith((".", "_"))]
    return out


def cache_bytes(cache_dir: str) -> tuple[int, int]:
    """(data files, bytes) in a cache directory."""
    files = _cache_files(cache_dir)
    return len(files), sum(os.path.getsize(f) for f in files)


def _partitions(cache_dir: str) -> set[str]:
    return {d[len("uuid="):] for d in os.listdir(cache_dir) if d.startswith("uuid=")}


def _served_stack(inp: inputs.Inputs, pid: str) -> np.ndarray:
    """Normalized bands of one product in sorted band order."""
    return np.stack([oracle.normalize(inp.band(pid, b)) for b in sorted(inputs.BANDS)])


class Joined(Workload):
    """``run_joined`` over the whole AOI file, once per batch."""

    def warm_up(self) -> None:
        # one whole batch, so the timed batches find as many Python
        # workers started and the same code compiled
        self.batch()

    def batch(self, tracer=None) -> Batch:
        from etl_sentinel_imagery_spark.plans.main import run_joined
        from etl_sentinel_imagery_spark.sources.config import AcquisitionConfig

        cfg = AcquisitionConfig(aoi_path=self.inp.aoi_path)
        cache = self._cache_dir()
        before = self.prep.server.counters()
        t0 = time.perf_counter()
        with maybe_span(tracer, "run_joined") as s:
            selection, _ = run_joined(self.spark, cfg, self.catalog, self.source, cache_dir=cache)
        wall = time.perf_counter() - t0
        return Batch(
            wall, cache, self.prep.server.counters().minus(before),
            latencies={a.fid: wall for a in self.inp.aois},  # all finish with the batch
            outcomes={a.fid: "ok" for a in self.inp.aois},
            selection=selection,
            spans=[s] if s else [],
        )

    def attribute(self, tracer) -> dict[str, list]:
        """Time each layer by running the pipeline's prefix up to it, as
        ``run_joined`` composes it, forced by a ``noop`` write."""
        from etl_sentinel_imagery_spark.operators.selection import (
            filter_products,
            select_best_per_aoi,
        )
        from etl_sentinel_imagery_spark.plans.acquisition import etl_process_tile, write_cache
        from etl_sentinel_imagery_spark.plans.main import read_aoi

        p = inputs.PARAMS

        def prefix(upto: str):
            aois = read_aoi(self.spark, self.inp.aoi_path)
            if upto == "read_aoi":
                return aois
            sel = select_best_per_aoi(
                filter_products(self.catalog, p["platform"], p["product_type"],
                                p["date_start"], p["date_end"], p["cloud_max"]),
                aois,
            )
            if upto == "selection":
                return sel
            rasters = self.source.fetch(self.spark, sel.select("uuid").distinct(), inputs.BANDS)
            if upto == "fetch":
                return rasters
            return etl_process_tile(rasters, normalize=True)

        spans: dict[str, list] = {}
        for layer in ("read_aoi", "selection", "fetch", "stack"):
            with tracer.span(f"prefix.{layer}") as s:
                noop(prefix(layer))
            spans[layer] = [s]
        with tracer.span("prefix.cache_write") as s:
            write_cache(prefix("stack"), self._cache_dir())
        spans["cache_write"] = [s]
        return spans

    def committed_mpix(self, b: Batch) -> float:
        n = self.inp.spec.raster
        return len(self.expected_winners()) * len(inputs.BANDS) * n * n / 1e6

    def check(self, b: Batch) -> list[str]:
        errs = []
        got = {r["fid"]: (r["uuid"], r["area_ratio"])
               for r in b.selection.select("fid", "uuid", "area_ratio").collect()}
        want = {f: w for f, w in self.prep.winners.items() if w is not None}
        if got != want:
            bad = sorted(f for f in set(got) | set(want) if got.get(f) != want.get(f))
            errs.append(f"selection differs from the oracle on {len(bad)} AOIs, e.g. fid "
                        f"{bad[0]}: got {got.get(bad[0])}, want {want.get(bad[0])}")
        winners = self.expected_winners()
        if _partitions(b.cache_dir) != winners:
            errs.append("cache partitions differ from the expected winners")
            return errs
        for pid in sorted(winners):
            t = pq.read_table(os.path.join(b.cache_dir, f"uuid={pid}"))
            if t.num_rows != 1:
                errs.append(f"{pid}: {t.num_rows} cached rows")
                continue
            if t.column("bands")[0].as_py() != sorted(inputs.BANDS):
                errs.append(f"{pid}: band order {t.column('bands')[0].as_py()}")
            px = pc.list_flatten(pc.list_flatten(pc.list_flatten(t.column("pixels"))))
            want_px = _served_stack(self.inp, pid)
            got_px = np.asarray(px).reshape(want_px.shape) if len(px) == want_px.size else None
            if got_px is None or not np.array_equal(got_px, want_px):
                errs.append(f"{pid}: cached pixels differ from floor(clip(x/10000,0,1)*255)")
        # run_joined fetches each distinct winner once, whatever the AOI count
        want_req = len(winners) * len(inputs.BANDS)
        if b.server.band_requests != want_req:
            errs.append(f"{b.server.band_requests} band requests for {len(winners)} "
                        f"winners (want {want_req})")
        if b.server.http_errors:
            errs.append(f"{b.server.http_errors} HTTP errors")
        return errs


class Isolated(Workload):
    """One ``acquire`` per AOI, failures caught and counted per AOI."""

    def _acquire(self, bbox, clip, cache):
        from etl_sentinel_imagery_spark.plans.acquisition import acquire

        return acquire(
            self.spark, self.catalog, bbox, inputs.PARAMS, inputs.BANDS, self.source,
            cache_dir=cache, clip_bbox=clip, reproject_4326=True, cache_format="geotiff",
        )

    def warm_up(self) -> None:
        # one whole batch, so the off-catalog and 503 paths are warm too;
        # after a single acquire the first timed batch ran about 25% slower
        self.batch()

    def batch(self, tracer=None) -> Batch:
        from etl_sentinel_imagery_spark.plans.main import read_aoi

        clip = {a.fid: a.clip for a in self.inp.aois}
        cache = self._cache_dir()
        before = self.prep.server.counters()
        lat, outcomes, results, spans = {}, {}, {}, []
        t0 = time.perf_counter()
        with maybe_span(tracer, "read_aoi.collect") as s:
            rows = read_aoi(self.spark, self.inp.aoi_path).collect()
        spans += [s] if s else []
        for row in rows:
            bb = row["bbox"]
            bbox = (bb["minx"], bb["miny"], bb["maxx"], bb["maxy"])
            fid = int(row["fid"])
            t = time.perf_counter()
            try:
                with maybe_span(tracer, "acquire", fid=fid) as s:
                    spans += [s] if s else []
                    results[fid] = self._acquire(bbox, clip[fid], cache)
                outcomes[fid] = "ok"
            except Exception:  # per-AOI fault isolation, as plans.main.run
                outcomes[fid] = "failed"
            lat[fid] = time.perf_counter() - t
        wall = time.perf_counter() - t0
        return Batch(wall, cache, self.prep.server.counters().minus(before),
                     latencies=lat, outcomes=outcomes, results=results, spans=spans)

    def attribute(self, tracer) -> dict[str, list]:
        """Time each layer by running ``acquire``'s prefix up to it, as
        ``etl_process_by_polygon`` composes it, forced by a ``noop``
        write, for the first AOI that succeeds."""
        from etl_sentinel_imagery_spark.operators.raster import (
            clip_stacks,
            normalize_pixels_col,
            reproject_stacks,
            stack_bands,
        )
        from etl_sentinel_imagery_spark.operators.raster_io import write_cache_geotiff
        from etl_sentinel_imagery_spark.plans.acquisition import select_product
        from etl_sentinel_imagery_spark.plans.main import read_aoi

        def prefix(a, upto: str):
            product = select_product(self.catalog, a.bbox, inputs.PARAMS, inputs.BANDS)
            if upto == "selection":
                return product
            rasters = self.source.fetch(self.spark, product, inputs.BANDS)
            if upto == "fetch":
                return rasters
            stacked = stack_bands(rasters.withColumn("pixels", normalize_pixels_col("pixels")))
            if upto == "stack":
                return stacked
            clipped = clip_stacks(stacked, a.clip)
            if upto == "clip":
                return clipped
            return reproject_stacks(clipped, "epsg:4326")

        with tracer.span("prefix.read_aoi") as s:
            noop(read_aoi(self.spark, self.inp.aoi_path))
        spans: dict[str, list] = {"read_aoi": [s]}
        a = next(x for x in self.inp.aois if x.fid == self.ok_fids()[0])
        for layer in ("selection", "fetch", "stack", "clip", "reproject"):
            with tracer.span(f"prefix.{layer}", fid=a.fid) as s:
                noop(prefix(a, layer))
            spans[layer] = [s]
        with tracer.span("prefix.cache_write", fid=a.fid) as s:
            write_cache_geotiff(prefix(a, "reproject"), self._cache_dir(), dtype="uint8")
        spans["cache_write"] = [s]
        return spans

    def _expected(self, fid: int) -> tuple[np.ndarray, dict, str]:
        """The oracle's GeoTIFF content for one successful AOI (memoized)."""
        if fid not in self._expected_out:
            a = next(x for x in self.inp.aois if x.fid == fid)
            pid = self.prep.winners[fid][0]
            r = self.inp.rasters[pid]
            self._expected_out[fid] = oracle.isolated_expected(
                _served_stack(self.inp, pid), r.transform, r.crs, a.clip)
        return self._expected_out[fid]

    def ok_fids(self) -> list[int]:
        fail = self.inp.fail_products
        return sorted(f for f, w in self.prep.winners.items() if w and w[0] not in fail)

    def committed_mpix(self, b: Batch) -> float:
        return sum(self._expected(f)[0].size for f in self.ok_fids()) / 1e6

    def check(self, b: Batch) -> list[str]:
        from etl_sentinel_imagery_spark.functions.geotiff import decode_geotiff

        errs = []
        fail = self.inp.fail_products
        want_failed = {f for f, w in self.prep.winners.items() if w and w[0] in fail}
        got_failed = {f for f, o in b.outcomes.items() if o == "failed"}
        if got_failed != want_failed:
            errs.append(f"failed AOIs {sorted(got_failed)} != injected 503 set {sorted(want_failed)}")
        if len(b.outcomes) != self.n_aois:
            errs.append(f"{len(b.outcomes)} of {self.n_aois} AOIs attempted")
        for a in self.inp.aois:
            if a.off_catalog:
                if self.prep.winners[a.fid] is not None:
                    errs.append(f"oracle found a winner for off-catalog fid {a.fid}")
                elif a.fid in b.results and not b.results[a.fid].isEmpty():
                    errs.append(f"off-catalog fid {a.fid} returned a non-empty result")
        ok = self.ok_fids()
        want_parts = {self.prep.winners[f][0] for f in ok}
        if len(want_parts) != len(ok):
            errs.append("isolated AOIs must have distinct winners")
        if _partitions(b.cache_dir) != want_parts:
            errs.append("GeoTIFF cache partitions differ from the expected winners")
            return errs
        for fid in ok:
            pid = self.prep.winners[fid][0]
            t = pq.read_table(os.path.join(b.cache_dir, f"uuid={pid}"))
            if t.num_rows != 1:
                errs.append(f"{pid}: {t.num_rows} cached rows")
                continue
            arr, transform, crs, _ = decode_geotiff(t.column("tif")[0].as_py())
            want, want_t, want_crs = self._expected(fid)
            if crs != want_crs or transform != want_t:
                errs.append(f"fid {fid}: georeference {crs} {transform} != {want_crs} {want_t}")
            if (arr.dtype != np.uint8 or arr.shape != want.shape
                    or hashlib.sha256(arr.tobytes()).digest()
                    != hashlib.sha256(want.astype(np.uint8).tobytes()).digest()):
                errs.append(f"fid {fid}: GeoTIFF pixel digest differs from clip+reproject oracle")
        if b.server.http_errors != b.server.injected_503:
            errs.append(f"{b.server.http_errors - b.server.injected_503} unexpected HTTP errors")
        return errs


WORKLOADS = {"tile_batch": Joined, "aoi_fanout": Joined, "aoi_isolated": Isolated}
