"""Seeded inputs for the benchmark workloads.

Everything the package receives is generated here from ``--seed``: the
catalog parquet, the AOI CSV (WKT geometry) and the band arrays. Every
footprint and AOI coordinate lies on a 0.25° grid, as in
``sources/catalog_fixture.py``, so intersection widths, areas and
coverage ratios are exact in binary floating point and the selection
oracle can compare them with ``==``.

Layout: a tile is the 1°×1° cell ``[tx, tx+1] × [40+ty, 41+ty]`` named
``T{tx:02d}{ty:02d}``. A tile's products have footprints on the whole
tile or on a grid-aligned part of it, and a mix of platform, product
type, date and cloud values, so ``filter_products`` keeps about one row
in six. Every workload tile gets one forced full-tile product that
passes the filters, so each AOI on it has a winner.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from etl_sentinel_imagery_spark.functions.geotiff import encode_geotiff

GRID = 0.25
BANDS = ["B02", "B03", "B04", "B08"]
#: The package's default acquisition parameters (AcquisitionConfig).
PARAMS = {
    "platform": "SENTINEL-2",
    "product_type": "S2MSI2A",
    "date_start": "2023-05-01",
    "date_end": "2023-09-05",
    "cloud_max": 4.0,
}
CATALOG_COLUMNS = [
    "Id", "Name", "S3Path", "OriginDate", "ContentDate_Start", "GeoFootprint",
    "Footprint", "platform", "productType", "tileId", "cloudCover",
    "relativeOrbitNumber",
]
#: Off-catalog AOIs sit on tiles at this row, where no product exists.
_OFF_ROW = 30


@dataclass(frozen=True)
class Spec:
    """Shape of one workload's inputs."""

    tiles: int  # tiles that receive AOIs
    catalog_tiles: int  # tiles in the catalog (workload tiles included)
    products_per_tile: int
    aois: int
    raster: int  # band height = width, pixels
    off_catalog: int = 0  # AOIs on tiles with no products
    failing: int = 0  # AOIs whose winner's band URL answers 503
    copies: int = 1  # AOIs sharing each generated footprint (shared work)


SPECS = {
    # eight AOIs, two per footprint, on four tiles: four 1024² winners.
    "tile_batch": Spec(
        tiles=4, catalog_tiles=48, products_per_tile=24, aois=8, raster=1024, copies=2,
    ),
    # thousands of AOIs clustered on a few dozen tiles of a >=100k catalog.
    "aoi_fanout": Spec(
        tiles=30, catalog_tiles=400, products_per_tile=256, aois=3000, raster=64,
    ),
    # one acquire() per AOI: one AOI off-catalog, one with a 503 winner.
    "aoi_isolated": Spec(
        tiles=5, catalog_tiles=48, products_per_tile=24, aois=6, raster=256,
        off_catalog=1, failing=1,
    ),
}


@dataclass
class Aoi:
    fid: int
    tile: str
    bbox: tuple[float, float, float, float]
    off_catalog: bool = False
    clip: tuple[float, float, float, float] | None = None  # raster-CRS window


@dataclass
class Raster:
    """Georeferencing shared by all bands of one product."""

    height: int
    width: int
    transform: dict
    crs: str


@dataclass
class Inputs:
    workload: str
    seed: int
    spec: Spec
    catalog: dict[str, list]  # column -> values, CATALOG_COLUMNS order
    aois: list[Aoi]
    rasters: dict[str, Raster]  # product Id -> georeference, for served products
    fail_products: frozenset[str]
    catalog_path: str = ""
    aoi_path: str = ""
    _bands: dict = field(default_factory=dict, repr=False)

    def band(self, pid: str, band: str) -> np.ndarray:
        """The served uint16 array of one band (generated on first use)."""
        key = (pid, band)
        if key not in self._bands:
            r = self.rasters[pid]
            rng = np.random.default_rng([self.seed, _pid_key(pid), BANDS.index(band)])
            # reflectance counts; about 1/6 of them above 10000 so the
            # normalize step's upper clip is exercised
            self._bands[key] = rng.integers(0, 12000, (r.height, r.width), dtype=np.uint16)
        return self._bands[key]

    def payloads(self) -> dict[tuple[str, str], bytes]:
        """GeoTIFF bytes of every band the server may be asked for."""
        out = {}
        for pid, r in self.rasters.items():
            for b in BANDS:
                out[(pid, b)] = encode_geotiff(self.band(pid, b), r.transform, r.crs, 0)
        return out


def _pid_key(pid: str) -> int:
    return int(pid[1:].replace("-", ""))


def _tile_name(tx: int, ty: int) -> str:
    return f"T{tx:02d}{ty:02d}"


def _bbox_wkt(minx: float, miny: float, maxx: float, maxy: float) -> str:
    return (
        f"POLYGON (({minx} {miny}, {maxx} {miny}, {maxx} {maxy}, "
        f"{minx} {maxy}, {minx} {miny}))"
    )


def catalog_row(pid, date, time, orbit, tile, cloud, platform, ptype, bbox) -> list:
    """One catalog record in the column shape of ``catalog_fixture``
    (``Attributes`` left out: no pipeline stage reads it)."""
    d = date.replace("-", "")
    name = f"{platform}_{ptype}_{d}T{time}_N0509_{orbit}_T{tile}_{d}T170400"
    wkt = _bbox_wkt(*bbox)
    hms = f"{time[:2]}:{time[2:4]}:{time[4:6]}"
    return [
        pid,
        name,
        f"/eodata/Sentinel-2/MSI/L2A/{date[:4]}/{date[5:7]}/{date[8:10]}/{name}.SAFE",
        f"{date}T{hms}.000Z",
        f"{date}T{hms}Z",
        wkt,
        f"geography'SRID=4326;{wkt}'",
        platform,
        ptype,
        tile,
        cloud,
        orbit,
    ]


#: (lo, hi) grid steps of a partial footprint edge pair, lo < hi.
_SPANS = np.array([(a, b) for a in range(5) for b in range(a + 1, 5)])


def _tile_products(rng, tile_index: int, tile: str, x0: float, y0: float,
                   n: int, forced: bool) -> list[list]:
    """``n`` catalog rows on one tile. Footprints cover the whole tile
    (70%) or a grid-aligned part of it; about 1 row in 6 passes the
    filters. With ``forced`` row 0 passes them and covers the tile."""
    day = rng.integers(0, 275, n)  # 2023-03-01 .. 2023-11-30
    hh, mm, ss = rng.integers(9, 12, n), rng.integers(0, 60, n), rng.integers(0, 60, n)
    orbit = rng.integers(1, 143, n)
    cloud = np.round(rng.uniform(0, 20, n), 1)
    s2 = rng.random(n) < 0.9
    l2a = rng.random(n) < 0.85
    full = rng.random(n) < 0.7
    xs, ys = _SPANS[rng.integers(0, len(_SPANS), n)], _SPANS[rng.integers(0, len(_SPANS), n)]
    if forced:
        day[0] = 62 + rng.integers(0, 120)  # 2023-05-02 ..
        cloud[0] = np.round(rng.uniform(0, 4), 1)
        s2[0] = l2a[0] = full[0] = True
    dates = (np.datetime64("2023-03-01") + day).astype(str)
    rows = []
    for k in range(n):
        if full[k]:
            bbox = (x0, y0, x0 + 1.0, y0 + 1.0)
        else:
            bbox = (x0 + xs[k, 0] * GRID, y0 + ys[k, 0] * GRID,
                    x0 + xs[k, 1] * GRID, y0 + ys[k, 1] * GRID)
        rows.append(catalog_row(
            f"p{tile_index:04d}-{k:03d}", str(dates[k]),
            f"{hh[k]:02d}{mm[k]:02d}{ss[k]:02d}", f"R{orbit[k]:03d}", tile,
            float(cloud[k]), "SENTINEL-2" if s2[k] else "SENTINEL-1",
            "S2MSI2A" if l2a[k] else "S2MSI1C", tuple(float(v) for v in bbox),
        ))
    return rows


def _utm_raster(tx: int, ty: int, n: int) -> Raster:
    """North-up UTM grid near the tile: pixel size scales with n so every
    raster spans 10240 m, and all numbers are exact in binary."""
    lon = tx + 0.5
    zone = int((lon + 180) // 6) + 1
    px = 10240.0 / n
    return Raster(
        height=n,
        width=n,
        transform={
            "a": px, "b": 0.0, "c": 440000.0 + 10240.0 * (tx % 6),
            "d": 0.0, "e": -px, "f": 111000.0 * (41 + ty),
        },
        crs=f"epsg:326{zone:02d}",
    )


def generate(workload: str, seed: int) -> Inputs:
    """Build a workload's inputs in memory (no files written)."""
    seed %= 2**63  # numpy seeds must be non-negative
    spec = SPECS[workload]
    rng = np.random.default_rng([seed, list(SPECS).index(workload)])
    n_side = int(np.ceil(np.sqrt(spec.catalog_tiles)))
    all_tiles = [(i % n_side, i // n_side) for i in range(spec.catalog_tiles)]
    work_idx = sorted(rng.choice(len(all_tiles), spec.tiles, replace=False))
    work_tiles = [all_tiles[i] for i in work_idx]

    rows: list[list] = []
    for ti, (tx, ty) in enumerate(all_tiles):
        rows += _tile_products(
            rng, ti, _tile_name(tx, ty), tx * 1.0, 40.0 + ty,
            spec.products_per_tile, (tx, ty) in work_tiles,
        )
    cols = {c: list(v) for c, v in zip(CATALOG_COLUMNS, zip(*rows))}

    aois: list[Aoi] = []
    on_catalog = spec.aois - spec.off_catalog
    for i in range(on_catalog // spec.copies):
        tx, ty = work_tiles[i % spec.tiles]
        # 0.25..0.75 degree boxes inside the tile
        w, h = (int(v) for v in rng.integers(1, 4, 2))
        cx, cy = (int(v) for v in (rng.integers(0, 5 - w), rng.integers(0, 5 - h)))
        minx, miny = tx + cx * GRID, 40.0 + ty + cy * GRID
        bbox = (minx, miny, minx + w * GRID, miny + h * GRID)
        aois += [Aoi(0, _tile_name(tx, ty), bbox) for _ in range(spec.copies)]
    for j in range(spec.off_catalog):
        tx = 2 * j
        aois.append(Aoi(0, _tile_name(tx, _OFF_ROW), (tx + 0.25, 70.25, tx + 0.75, 70.75), True))
    order = rng.permutation(len(aois))
    aois = [aois[i] for i in order]
    for fid, a in enumerate(aois, start=1):
        a.fid = fid
    return Inputs(workload, seed, spec, cols, aois, {}, frozenset())


def attach_winners(inp: Inputs, winners: dict[int, str | None]) -> None:
    """Give every winning product a raster, pick the 503 set and the
    per-AOI clip windows. ``winners`` maps fid -> winning Id (or None)."""
    rng = np.random.default_rng([inp.seed, 7, list(SPECS).index(inp.workload)])
    n = inp.spec.raster
    tile_of = dict(zip(inp.catalog["Id"], inp.catalog["tileId"]))
    for pid in sorted({p for p in winners.values() if p is not None}):
        tx, ty = int(tile_of[pid][1:3]), int(tile_of[pid][3:5])
        inp.rasters[pid] = _utm_raster(tx, ty, n)
    if inp.spec.failing:
        # winners chosen by exactly one AOI, so a 503 fails only that AOI
        uses: dict[str, int] = {}
        for p in winners.values():
            if p is not None:
                uses[p] = uses.get(p, 0) + 1
        single = sorted(p for p, k in uses.items() if k == 1)
        if len(single) < inp.spec.failing:
            raise ValueError("not enough single-AOI winners to inject 503s")
        inp.fail_products = frozenset(
            single[i] for i in rng.choice(len(single), inp.spec.failing, replace=False)
        )
    for a in inp.aois:
        pid = winners.get(a.fid)
        if pid is None:
            continue
        t = inp.rasters[pid].transform
        # pixel-aligned window of 3/4 of each axis at a seeded offset, so
        # every seed commits the same number of output pixels
        size = (3 * n) // 4
        c0, r0 = (int(v) for v in rng.integers(0, n - size, 2))
        c1, r1 = c0 + size, r0 + size
        a.clip = (
            t["c"] + c0 * t["a"], t["f"] + r1 * t["e"],
            t["c"] + c1 * t["a"], t["f"] + r0 * t["e"],
        )


def write_files(inp: Inputs, directory: str) -> None:
    """Write the catalog parquet and the AOI CSV the package reads."""
    os.makedirs(directory, exist_ok=True)
    inp.catalog_path = os.path.join(directory, "catalog.parquet")
    inp.aoi_path = os.path.join(directory, "aois.csv")
    schema = pa.schema(
        [(c, pa.float64() if c == "cloudCover" else pa.string()) for c in CATALOG_COLUMNS]
    )
    table = pa.table(inp.catalog, schema=schema)
    pq.write_table(table, inp.catalog_path, row_group_size=32768)
    with open(inp.aoi_path, "w", newline="") as fh:
        fh.write("fid,tile_id,geometry\n")
        for a in inp.aois:
            fh.write(f'{a.fid},{a.tile},"{_bbox_wkt(*a.bbox)}"\n')
