"""Benchmark of the paper's acquisition pipeline (select → fetch → stack →
clip/reproject → cache) through the package's public entry points.

Usage, from the repository root::

    python3 perfbench/run.py --workload tile_batch --seed 1 --seconds 15 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones. The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Run provenance
(cores, master, heap, load average) goes to standard error and, with the
trace report, under ``.perfbench_work/reports/``. See perfbench/README.md
for the workloads and the metric → layer → workload map.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("tile_batch", "aoi_fanout", "aoi_isolated")
#: Input preparation is repeated this many times inside set-up and its
#: median taken; the session start and warm-up happen once.
PREP_REPS = 3


def _package_available() -> str | None:
    """Error text when the package cannot be imported from this checkout."""
    pkg = os.path.join(ROOT, "etl_sentinel_imagery_spark")
    if not os.path.isfile(os.path.join(pkg, "__init__.py")):
        return f"package directory {pkg} is missing"
    try:
        import etl_sentinel_imagery_spark as m
    except ImportError as e:
        return f"cannot import the package: {e}"
    if not os.path.abspath(m.__file__).startswith(pkg):
        return f"imported the package from {m.__file__}, not from this checkout"
    return None


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(v) for v in fh.read().split()[:3]]


def _tree_pids() -> set[int]:
    """This process and all its descendants: the driver's Python, the
    JVM, and the Python workers it forks."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(d)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    return tree


def _tree_peak_rss_kb() -> dict[int, int]:
    """Peak RSS (``VmHWM``) of each process in the tree."""
    out = {}
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                out[pid] = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue  # exited, or a zombie without memory
    return out


class RssSampler:
    """Samples the process tree every ``period`` seconds on a daemon
    thread while the ``with`` block runs. The result is the largest
    sum, over the processes alive at one sample, of each one's peak RSS;
    a Python worker that exits and is replaced is therefore not counted
    twice."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, sum(_tree_peak_rss_kb().values()))
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _become_subreaper() -> None:
    """Make orphaned descendants (the Python workers the JVM forks) this
    process's children, so ``_stop_processes`` can wait for them."""
    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: the poll in _stop_processes still waits


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _stop_processes(timeout: float = 30.0) -> None:
    """Stop the gateway JVM and every process it started, and wait until
    each has ended. Closing the JVM's stdin is PySpark's own shutdown
    signal; a JVM or worker that outlives ``timeout`` is killed."""
    from pyspark import SparkContext

    doomed = _tree_pids() - {os.getpid()}
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait()
    deadline, killed = time.monotonic() + timeout, False
    while True:
        try:  # reap children, orphans adopted as subreaper included
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        doomed = {p for p in doomed | (_tree_pids() - {os.getpid()}) if _alive(p)}
        if not doomed or (killed and time.monotonic() > deadline):
            return
        if not killed and time.monotonic() > deadline:
            for p in doomed:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline, killed = time.monotonic() + 5, True
        time.sleep(0.05)


def _on_sigterm(*_) -> None:
    """Leave through the clean-up in ``main``; ignore repeats meanwhile."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(128 + signal.SIGTERM)


def _reset_peaks(spark) -> None:
    """Start the measured window from a collected JVM heap, with each
    process's peak RSS (``VmHWM``) reset to its current RSS, so that
    ``peak_rss_mb`` covers the timed batches and not set-up."""
    spark._jvm.java.lang.System.gc()
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue  # exited meanwhile


def _start_spark(work: str, event_log: bool):
    from etl_sentinel_imagery_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        # keep every file Spark writes inside the run's work directory
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + ev
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("FATAL")  # injected 503s would log stack traces
    return spark


def _provenance(spark, args, load_start) -> dict:
    sc = spark.sparkContext
    heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "spark_master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark_version": spark.version,
        "driver_memory_conf": sc.getConf().get("spark.driver.memory", "unset (JVM default)"),
        "jvm_max_heap_mb": round(heap / 2**20, 1),
        "loadavg_start": load_start,
    }


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _timed_batches(wl, seconds: float, tracer=None) -> list:
    """Closed loop: run batches back to back while the next one, at the
    last one's duration, still fits in ``seconds``; at least one."""
    batches, t0 = [], time.perf_counter()
    while True:
        b = wl.batch(tracer)
        batches.append(b)
        if time.perf_counter() - t0 + b.wall_s > seconds:
            return batches


def end_to_end(wl, batches, setup_s: float, peak_rss_mb: float) -> dict:
    from perfbench.workloads import cache_bytes

    attempted = sum(len(b.outcomes) for b in batches)
    ok = sum(o == "ok" for b in batches for o in b.outcomes.values())
    wall = sum(b.wall_s for b in batches)
    # failed calls enter as +inf: they miss any latency limit. The median
    # interpolates: on tile_batch, whose AOIs tie at their batch's wall
    # time, a nearest-rank p50 would report the fastest batch
    lat = [
        t if b.outcomes[f] == "ok" else float("inf")
        for b in batches
        for f, t in b.latencies.items()
    ]
    mpix = wl.committed_mpix(batches[-1])
    _, nbytes = cache_bytes(batches[-1].cache_dir)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (_median([b.wall_s for b in batches]), "s"),
        "aoi_per_s": (attempted / wall, "1/s"),
        "mpix_per_s": (mpix * len(batches) / wall, "Mpix/s"),
        "aoi_latency_p50_s": (_median(lat), "s"),
        "ok_ratio": (ok / attempted, "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "cache_bytes_per_mpix": (nbytes / mpix, "B/Mpix"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    err = _package_available()
    if err:
        print(f"perfbench: {err}", file=sys.stderr)
        return 2

    # get_spark defaults: local[*] and the JVM's default heap
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    reports = os.path.join(base, "reports")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(reports, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts, the launcher included, would otherwise
    # write an hsperfdata file under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()

    from perfbench.workloads import WORKLOADS as CLASSES, prepare

    _become_subreaper()
    signal.signal(signal.SIGTERM, _on_sigterm)
    load_start = _loadavg()
    spark = None
    preps = []
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, event_log=False)
        spark_s = time.perf_counter() - t0
        prep_times = []
        for i in range(PREP_REPS):
            t = time.perf_counter()
            preps.append(prepare(args.workload, args.seed, os.path.join(work, f"inputs-{i}")))
            prep_times.append(time.perf_counter() - t)
        for p in preps[:-1]:
            p.server.stop()
        prep = preps[-1]
        wl = CLASSES[args.workload](spark, prep, work)
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = spark_s + _median(prep_times) + warm_s
        prov = _provenance(spark, args, load_start)

        if args.trace == 0:
            _reset_peaks(spark)
            with RssSampler() as rss:
                batches = _timed_batches(wl, args.seconds)
            errs = wl.check(batches[-1])
            metrics = end_to_end(wl, batches, setup_s, rss.peak_kb / 1024)
        else:
            from perfbench.layers import traced_run

            spark, metrics, errs, batches = traced_run(
                wl, spark, lambda: _start_spark(work, event_log=True), work, reports, args
            )
        peak = prep.server.counters().peak_connections
        if peak > 4:
            errs.append(f"band server saw {peak} concurrent requests (quota 4)")
    finally:
        if spark is not None:
            try:
                spark.stop()
            except Exception:
                pass  # a JVM in any state is stopped by _stop_processes
        _stop_processes()
        for p in preps:
            p.server.stop()
        shutil.rmtree(work, ignore_errors=True)
    prov["loadavg_end"] = _loadavg()
    prov["setup_parts_s"] = {"spark": spark_s, "prep_median": _median(prep_times), "warm_up": warm_s}
    print(json.dumps({"provenance": prov}), file=sys.stderr)
    with open(os.path.join(reports, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump({"provenance": prov, "errors": errs,
                   "metrics": {k: v for k, (v, _) in metrics.items()}}, fh, indent=1)
    for e in errs:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    attempted = sum(len(b.outcomes) for b in batches)
    failed = sum(
        1 for b in batches for f, o in b.outcomes.items()
        if (o == "failed") != (wl.prep.winners.get(f) is not None
                              and wl.prep.winners[f][0] in wl.inp.fail_products)
    )
    print(json.dumps({
        "correct": not errs,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if not errs else 1


if __name__ == "__main__":
    sys.exit(main())
