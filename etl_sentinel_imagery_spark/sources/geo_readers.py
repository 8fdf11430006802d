"""AOI file readers — the reference's S1/S2 sources, Spark-first.

`read_file_as_gdf` (`/root/reference/code/download_imagery.py:16-30`)
reads CSV-with-WKT or GeoJSON/GPKG/SHP into a GeoDataFrame. Here: the CSV
path is a real distributed ``spark.read.csv`` (and the reference's latent
missing-return bug on that branch — SURVEY.md §2.1 S1 — is fixed by
construction); the GeoJSON path parses the FeatureCollection driver-side
(AOI files are small control-plane inputs) and emits a DataFrame. Both
produce the same schema: fid, tile_id, geometry (WKT) + a bbox struct for
the bbox fast paths.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sentinel_imagery_spark.operators.selection import bbox_sql

AOI_SCHEMA = "fid bigint, tile_id string, geometry string"


def _with_bbox(df: DataFrame) -> DataFrame:
    fields = ", ".join(f"{v} AS {k}" for k, v in bbox_sql("geometry").items())
    return df.selectExpr("*", f"struct({fields}) AS bbox")


def read_aoi_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV with a WKT `geometry` column (download_imagery.py:17-21
    intended semantics — the reference's CSV branch never returned)."""
    raw = spark.read.option("header", True).csv(path)
    cols = [
        # fid stays BIGINT: monotonically_increasing_id packs the
        # partition id into bits >= 33, so an int cast would collide ids
        # across partitions and silently merge distinct AOIs downstream.
        F.col("fid").cast("bigint").alias("fid")
        if "fid" in raw.columns
        else F.monotonically_increasing_id().alias("fid"),
        F.col("tile_id").alias("tile_id")
        if "tile_id" in raw.columns
        else F.lit(None).cast("string").alias("tile_id"),
        F.col("geometry"),
    ]
    return _with_bbox(raw.select(*cols))


def _ring_txt(ring) -> str:
    return "(" + ", ".join(f"{x:g} {y:g}" for x, y in ring) + ")"


def _point_in_ring(px: float, py: float, ring) -> bool:
    """Ray-casting containment (used to attach SHP holes to their outer)."""
    inside = False
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if (y1 > py) != (y2 > py):
            if px < x1 + (py - y1) * (x2 - x1) / (y2 - y1):
                inside = not inside
    return inside


def _poly_txt(rings) -> str:
    """[outer, hole, ...] → '((outer), (hole), ...)'."""
    return "(" + ", ".join(_ring_txt(r) for r in rings) + ")"


def _geojson_geom_to_wkt(geom: dict) -> str:
    """Polygon/MultiPolygon GeoJSON geometry → WKT. Interior rings
    (holes) are preserved — the overlay kernel handles them via signed
    ring arithmetic (functions.geometry.parse_wkt_signed_rings)."""
    t = geom["type"]
    if t == "Polygon":
        return f"POLYGON {_poly_txt(geom['coordinates'])}"
    if t == "MultiPolygon":
        return (
            "MULTIPOLYGON ("
            + ", ".join(_poly_txt(p) for p in geom["coordinates"])
            + ")"
        )
    raise ValueError(f"unsupported GeoJSON geometry type {t}")


def _wkb_to_wkt(buf: bytes, offset: int = 0) -> str:
    """WKB Polygon/MultiPolygon → WKT. All rings are preserved (ring 0
    outer, rest holes — WKB ring order carries that distinction straight
    into the WKT hole syntax the overlay kernel consumes)."""
    import struct as _s

    def ring_points(b, off, little):
        fmt = "<" if little else ">"
        (n,) = _s.unpack_from(fmt + "I", b, off)
        off += 4
        pts = _s.unpack_from(fmt + f"{2 * n}d", b, off)
        return list(zip(pts[0::2], pts[1::2])), off + 16 * n

    def polygon(b, off):
        little = b[off] == 1
        fmt = "<" if little else ">"
        (gtype,) = _s.unpack_from(fmt + "I", b, off + 1)
        if gtype & 0xFF != 3:
            raise ValueError(f"expected WKB Polygon, got type {gtype}")
        (n_rings,) = _s.unpack_from(fmt + "I", b, off + 5)
        off += 9
        rings = []
        for _ in range(n_rings):
            pts, off = ring_points(b, off, little)
            rings.append(pts)
        return rings, off

    little = buf[offset] == 1
    fmt = "<" if little else ">"
    (gtype,) = _s.unpack_from(fmt + "I", buf, offset + 1)
    base = gtype & 0xFF
    if base == 3:
        rings, _ = polygon(buf, offset)
        return f"POLYGON {_poly_txt(rings)}"
    if base == 6:
        (n_polys,) = _s.unpack_from(fmt + "I", buf, offset + 5)
        off = offset + 9
        parts = []
        for _ in range(n_polys):
            rings, off = polygon(buf, off)
            parts.append(_poly_txt(rings))
        return "MULTIPOLYGON (" + ", ".join(parts) + ")"
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def read_aoi_gpkg(
    spark: SparkSession, path: str, layer: str | None = None
) -> DataFrame:
    """GeoPackage (S2, download_imagery.py:22-27) → AOI schema.

    A GPKG is a SQLite file (stdlib sqlite3, no geopandas): feature
    table from gpkg_contents, geometry column from
    gpkg_geometry_columns, each geometry a GeoPackage binary blob =
    'GP' header (+ optional envelope) followed by standard WKB."""
    import sqlite3

    con = sqlite3.connect(path)
    try:
        if layer is None:
            row = con.execute(
                "SELECT table_name FROM gpkg_contents "
                "WHERE data_type = 'features' LIMIT 1"
            ).fetchone()
            if row is None:
                raise ValueError(f"no feature layer in {path}")
            layer = row[0]
        (geom_col,) = con.execute(
            "SELECT column_name FROM gpkg_geometry_columns WHERE table_name = ?",
            (layer,),
        ).fetchone()
        cols = [
            r[1]
            for r in con.execute(f'PRAGMA table_info("{layer}")').fetchall()
        ]
        has_tile = "tile_id" in cols
        fid_col = "fid" if "fid" in cols else "rowid"
        sel = f'SELECT {fid_col}, "{geom_col}"' + (
            ", tile_id" if has_tile else ""
        )
        rows = []
        for rec in con.execute(f'{sel} FROM "{layer}"'):
            blob = rec[1]
            if blob[:2] != b"GP":
                raise ValueError("not a GeoPackage geometry blob")
            flags = blob[3]
            env_code = (flags >> 1) & 0b111
            env_len = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}[env_code]
            wkt = _wkb_to_wkt(blob, 8 + env_len)
            rows.append((int(rec[0]), rec[2] if has_tile else None, wkt))
    finally:
        con.close()
    return _with_bbox(spark.createDataFrame(rows, schema=AOI_SCHEMA))


def read_aoi_shp(spark: SparkSession, path: str) -> DataFrame:
    """ESRI Shapefile (S2, download_imagery.py:22-27) → AOI schema.

    Driver-side struct parse of the .shp main file (100-byte big-endian
    header, per-record [num, length] headers, shape type 5 = Polygon:
    bbox, part index array, packed points; outer rings only). A sibling
    .dbf (dBase III) is read for fid/tile_id attributes when present;
    otherwise fid is the record number."""
    import os
    import struct as _s

    with open(path, "rb") as fh:
        shp = fh.read()
    (file_code,) = _s.unpack_from(">I", shp, 0)
    if file_code != 9994:
        raise ValueError(f"{path} is not a shapefile")
    attrs = _read_dbf(os.path.splitext(path)[0] + ".dbf")
    rows = []
    off = 100
    while off < len(shp):
        rec_num, content_len = _s.unpack_from(">II", shp, off)
        off += 8
        (shape_type,) = _s.unpack_from("<I", shp, off)
        if shape_type != 5:
            raise ValueError(f"only Polygon (5) supported, got {shape_type}")
        n_parts, n_points = _s.unpack_from("<II", shp, off + 36)
        parts = _s.unpack_from(f"<{n_parts}I", shp, off + 44)
        pts_off = off + 44 + 4 * n_parts
        pts = _s.unpack_from(f"<{2 * n_points}d", shp, pts_off)
        xy = list(zip(pts[0::2], pts[1::2]))
        # The spec distinguishes OUTER rings (clockwise) from holes
        # (counter-clockwise) by winding. Outers become members; each
        # hole is attached to the outer ring that contains its first
        # vertex (shapefiles guarantee holes lie inside an outer).
        bounds = list(parts) + [n_points]
        outers: list[list] = []
        holes: list[list] = []
        for pi in range(n_parts):
            ring = xy[bounds[pi] : bounds[pi + 1]]
            signed2 = sum(
                x1 * y2 - x2 * y1
                for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1])
            )
            (outers if signed2 <= 0 else holes).append(ring)
        if not outers:  # degenerate: keep part 0 rather than drop the record
            outers, holes = [xy[bounds[0] : bounds[1]]], []
        members = [[o] for o in outers]
        for hole in holes:
            hx, hy = hole[0]
            for member in members:
                if _point_in_ring(hx, hy, member[0]):
                    member.append(hole)
                    break
            # a hole matching no outer is dropped (malformed input)
        if len(members) == 1:
            wkt = f"POLYGON {_poly_txt(members[0])}"
        else:
            wkt = (
                "MULTIPOLYGON ("
                + ", ".join(_poly_txt(m) for m in members)
                + ")"
            )
        rec_attrs = attrs.get(rec_num, {})
        rows.append(
            (
                int(rec_attrs.get("fid", rec_num - 1)),
                rec_attrs.get("tile_id"),
                wkt,
            )
        )
        off += 2 * content_len  # content_len is in 16-bit words
    return _with_bbox(spark.createDataFrame(rows, schema=AOI_SCHEMA))


def _read_dbf(path: str) -> dict[int, dict]:
    """Minimal dBase III reader: record number (1-based, matching .shp
    record numbers) → {field: value}. Missing file → no attributes."""
    import struct as _s

    try:
        with open(path, "rb") as fh:
            buf = fh.read()
    except FileNotFoundError:
        return {}
    n_records, header_len, record_len = _s.unpack_from("<IHH", buf, 4)
    fields = []
    off = 32
    while buf[off] != 0x0D:
        name = buf[off : off + 11].split(b"\x00", 1)[0].decode("ascii")
        ftype = chr(buf[off + 11])
        flen = buf[off + 16]
        fields.append((name, ftype, flen))
        off += 32
    out: dict[int, dict] = {}
    off = header_len
    for rec in range(1, n_records + 1):
        vals: dict = {}
        pos = off + 1  # skip deletion flag
        for name, ftype, flen in fields:
            raw = buf[pos : pos + flen].decode("ascii", "replace").strip()
            vals[name] = int(raw) if ftype == "N" and raw.lstrip("-").isdigit() else (raw or None)
            pos += flen
        out[rec] = vals
        off += record_len
    return out


def read_aoi_geojson(spark: SparkSession, path: str) -> DataFrame:
    """GeoJSON FeatureCollection → (fid, tile_id, geometry WKT, bbox).

    Driver-side parse: AOI descriptors are tiny (the reference's sample
    is one feature); the distributed path for huge feature sets would be
    spark.read.json + explode(features)."""
    with open(path) as fh:
        fc = json.load(fh)
    rows = []
    for i, feat in enumerate(fc.get("features", [])):
        props = feat.get("properties") or {}
        rows.append(
            (
                int(props.get("fid", i)),
                props.get("tile_id"),
                _geojson_geom_to_wkt(feat["geometry"]),
            )
        )
    return _with_bbox(spark.createDataFrame(rows, schema=AOI_SCHEMA))
