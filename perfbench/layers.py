"""The traced run: per-layer metrics from spans plus Spark's event log.

Order of a traced run, after the usual set-up and warm-up:

1. two untraced batches in the plain session; the second is the
   reference for the tracing overhead;
2. the session restarts with the event log on, in the same JVM, and
   warms up again;
3. one traced batch: each public call (``run_joined``, or ``read_aoi``
   and every ``acquire``) runs inside its own span;
4. attribution: each layer's prefix of the pipeline runs in its own span,
   forced by a ``noop`` write. A layer's time is its prefix's wall time
   minus the previous prefix's. Nothing is cached between prefixes, so
   each prefix recomputes the layers before it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import asdict

import numpy as np

from perfbench import inputs
from perfbench.trace import SpanStats, Tracer, read_event_log, summarise
from perfbench.workloads import Isolated, _served_stack, cache_bytes

#: Layer chains, in pipeline order, of the attribution prefixes.
JOINED_CHAIN = ("read_aoi", "selection", "fetch", "stack", "cache_write")
ISOLATED_CHAIN = ("selection", "fetch", "stack", "clip", "reproject", "cache_write")

#: Per-layer metric -> unit; the order BENCHMARK.json lists them in.
UNITS = {
    "driver.jobs": "count", "driver.stages": "count", "driver.tasks": "count",
    "driver.self_s": "s",
    "read_aoi.wall_s": "s",
    "selection.wall_s": "s", "selection.catalog_rows": "count",
    "selection.candidates": "count", "selection.pairs": "count",
    "selection.winners": "count", "selection.covered_ratio": "ratio",
    "selection.shuffle_bytes": "B",
    "fetch.wall_s": "s", "fetch.requests": "count", "fetch.requests_per_band": "ratio",
    "fetch.bytes": "B", "fetch.peak_connections": "count", "fetch.http_errors": "count",
    "fetch.python_s": "s", "fetch.python_bytes_out": "B",
    "band_server.busy_s": "s",
    "geotiff.decode_mb_per_s": "MB/s", "geotiff.encode_mb_per_s": "MB/s",
    "stack.wall_s": "s", "stack.shuffle_bytes": "B", "stack.python_s": "s",
    "stack.python_bytes_in": "B",
    "clip.wall_s": "s", "reproject.wall_s": "s", "raster.max_row_mb": "MB",
    "cache_write.wall_s": "s", "cache_write.files": "count", "cache_write.bytes": "B",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "shuffle.write_bytes": "B",
    "trace.overhead_s": "s",
}


def _mb_per_s(fn, items, nbytes: int, min_s: float = 0.3) -> float:
    """Throughput of ``fn`` over ``items``, repeated for at least min_s."""
    reps, t0 = 0, time.perf_counter()
    while True:
        for it in items:
            fn(it)
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return reps * nbytes / 1e6 / dt


def _codec_rates(wl) -> tuple[float, float]:
    """GeoTIFF decode rate on the served payloads, and encode rate on
    the workload's own outputs (uint8 stacks)."""
    from etl_sentinel_imagery_spark.functions.geotiff import decode_geotiff, encode_geotiff

    payloads = list(wl.prep.server.payloads.values())
    dec = _mb_per_s(decode_geotiff, payloads, sum(map(len, payloads)))
    if isinstance(wl, Isolated):
        outs = [wl._expected(f) for f in wl.ok_fids()]
    else:
        outs = [(_served_stack(wl.inp, pid), wl.inp.rasters[pid].transform, wl.inp.rasters[pid].crs)
                for pid in sorted(wl.expected_winners())]
    enc = _mb_per_s(lambda o: encode_geotiff(o[0].astype(np.uint8), o[1], o[2], 0),
                    outs, sum(o[0].size for o in outs))
    return dec, enc


def _pairs(wl) -> int:
    """Intersecting (AOI, filtered footprint) pairs."""
    c = wl.prep.cands
    n = 0
    for a in wl.inp.aois:
        aminx, aminy, amaxx, amaxy = a.bbox
        n += int(((c["minx"] < amaxx) & (c["maxx"] > aminx)
                  & (c["miny"] < amaxy) & (c["maxy"] > aminy)).sum())
    return n


def _sum_stats(stats: dict[str, SpanStats], spans) -> SpanStats:
    out = SpanStats()
    for s in spans:
        st = stats.get(s.id)
        if st is None:
            continue
        for k, v in asdict(st).items():
            if k != "python":
                setattr(out, k, getattr(out, k) + v)
    return out


def traced_run(wl, spark, restart, work: str, reports: str, args):
    """Returns (stopped session, metrics, check errors, [traced batch])."""
    wl.batch()  # the first timed batch can still meet paths the warm-up missed
    untraced = wl.batch()
    spark.stop()
    spark = restart()
    wl.rebind(spark)
    wl.warm_up()
    tracer = Tracer(spark, f"{args.workload}-s{args.seed}")
    b = wl.batch(tracer)
    errs = wl.check(b)
    prefixes = wl.attribute(tracer)
    spark.stop()  # flushes the event log
    stats = summarise(read_event_log(os.path.join(work, "eventlog")))

    chain = ISOLATED_CHAIN if isinstance(wl, Isolated) else JOINED_CHAIN

    def python(name: str, node: str, key: str) -> float:
        """Median over repeats of one plan node's Python metric in the
        prefix ending at layer ``name`` (the layer's own node type)."""
        return statistics.median(
            stats.get(s.id, SpanStats()).py(node, key) for s in prefixes[name])

    def layer(name: str, attr: str) -> float:
        """Median over repeats of prefix(name) - prefix(previous)."""
        i = chain.index(name)
        vals = []
        for k, s in enumerate(prefixes[name]):
            cur = s.wall_s if attr == "wall_s" else getattr(stats.get(s.id, SpanStats()), attr)
            if i > 0:
                p = prefixes[chain[i - 1]][k]
                cur -= p.wall_s if attr == "wall_s" else getattr(stats.get(p.id, SpanStats()), attr)
            vals.append(cur)
        return statistics.median(vals) if vals else 0.0

    calls = len(b.outcomes) if isinstance(wl, Isolated) else 1
    batch = _sum_stats(stats, b.spans)
    dec, enc = _codec_rates(wl)
    files, nbytes = cache_bytes(b.cache_dir)
    sc = b.server
    n = wl.inp.spec.raster
    winners = wl.expected_winners()
    m = {
        "driver.jobs": batch.jobs / calls,
        "driver.stages": batch.stages / calls,
        "driver.tasks": batch.tasks / calls,
        "driver.self_s": (b.wall_s - batch.job_busy_s) / calls,
        "read_aoi.wall_s": prefixes["read_aoi"][0].wall_s,
        "selection.wall_s": layer("selection", "wall_s"),
        "selection.catalog_rows": len(wl.inp.catalog["Id"]),
        "selection.candidates": len(wl.prep.cands),
        "selection.pairs": _pairs(wl),
        "selection.winners": len(winners),
        "selection.covered_ratio": sum(w is not None for w in wl.prep.winners.values())
        / wl.n_aois,
        "selection.shuffle_bytes": layer("selection", "shuffle_write_bytes"),
        "fetch.wall_s": layer("fetch", "wall_s"),
        "fetch.requests": sc.band_requests,
        "fetch.requests_per_band": (sc.token_requests + sc.band_requests + sc.data_requests)
        / max(1, sc.data_requests),
        "fetch.bytes": sc.bytes_sent,
        "fetch.peak_connections": wl.prep.server.counters().peak_connections,
        "fetch.http_errors": sc.http_errors,
        "fetch.python_s": python("fetch", "MapInPandas", "python_s"),
        "fetch.python_bytes_out": python("fetch", "MapInPandas", "python_bytes_out"),
        "band_server.busy_s": sc.busy_s,
        "geotiff.decode_mb_per_s": dec,
        "geotiff.encode_mb_per_s": enc,
        "stack.wall_s": layer("stack", "wall_s"),
        "stack.shuffle_bytes": layer("stack", "shuffle_write_bytes"),
        "stack.python_s": python("stack", "FlatMapGroupsInPandas", "python_s"),
        "stack.python_bytes_in": python("stack", "FlatMapGroupsInPandas", "python_bytes_in"),
        "clip.wall_s": layer("clip", "wall_s") if "clip" in chain else 0.0,
        "reproject.wall_s": layer("reproject", "wall_s") if "reproject" in chain else 0.0,
        "raster.max_row_mb": len(inputs.BANDS) * n * n * 4 / 1e6,
        "cache_write.wall_s": layer("cache_write", "wall_s"),
        "cache_write.files": files,
        "cache_write.bytes": nbytes,
        "executor.run_s": batch.run_s,
        "executor.cpu_s": batch.cpu_s,
        "executor.gc_s": batch.gc_s,
        "shuffle.write_bytes": batch.shuffle_write_bytes,
        "trace.overhead_s": b.wall_s - untraced.wall_s,
    }
    with open(os.path.join(reports, f"{args.workload}-s{args.seed}-spans.jsonl"), "w") as fh:
        for s in tracer.spans:
            st = stats.get(s.id, SpanStats())
            fh.write(json.dumps({**asdict(s), "wall_s": s.wall_s,
                                 "self_s": s.wall_s - st.job_busy_s, "spark": asdict(st)}) + "\n")
    return spark, {k: (float(v), UNITS[k]) for k, v in m.items()}, errs, [b]
