"""Grid-indexed spatial join — point-in-polygon at corpus scale.

The reference's spatial work joins a handful of AOIs against product
footprints (one broadcast row, operators.selection); a general engine
also needs the many-points × many-polygons shape (geotag enrichment,
admin-region rollups), which Spark would otherwise plan as a broadcast
nested loop with a python predicate — the O(n·m) trap. This is the 2-D
analog of operators.asof.interval_join:

1. every polygon explodes to the grid cells its BBOX covers (the bbox
   comes from the JVM-side WKT parse, operators.selection.wkt_bbox —
   no python before the join);
2. every point carries its single containing cell;
3. the equi-join on (cell_x, cell_y) meets each candidate pair in
   EXACTLY ONE cell — the point's — so no post-join dedup;
4. the exact even-odd point-in-ring test (holes honored) runs only on
   grid-colocated candidates, vectorized per Arrow batch with a
   per-batch WKT parse memo (each polygon parses once per batch, not
   once per candidate row).

Pick ``cell_size`` near the typical polygon bbox edge: candidate count
per point ≈ polygons overlapping its cell. A polygon whose bbox covers
more than ``max_cells_per_polygon`` cells raises (non-prunable
assert_true filter) — a continent-sized polygon at street-level cells
is a plan bug, the same policy as interval_join's mega-interval guard.

Boundary semantics follow functions.geometry.point_in_polygon: points
exactly on an edge count as inside (each ring independently, so a point
on a hole's edge is inside the hole → excluded).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_sentinel_imagery_spark.functions.geometry import (
    parse_wkt_signed_rings,
    point_in_polygon,
)
from etl_sentinel_imagery_spark.operators.selection import wkt_bbox


def point_in_wkt(px: float, py: float, rings: list) -> bool:
    """Even-odd membership over parsed signed rings: inside the outer
    ring(s), outside the holes."""
    outer = any(
        point_in_polygon(px, py, ring) for ring, sign in rings if sign > 0
    )
    if not outer:
        return False
    return not any(
        point_in_polygon(px, py, ring) for ring, sign in rings if sign < 0
    )


def _point_in_ring_vec(
    px: np.ndarray, py: np.ndarray, ring: np.ndarray
) -> np.ndarray:
    """Vectorized :func:`functions.geometry.point_in_polygon` — the
    identical ray-casting arithmetic (same operations, same IEEE
    results per element, edges count as inside) over arrays of points.
    The loop is over the ring's EDGES (a handful), not the points."""
    inside = np.zeros(len(px), dtype=bool)
    on_edge = np.zeros(len(px), dtype=bool)
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        between_y = (min(y1, y2) <= py) & (py <= max(y1, y2))
        cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        on_edge |= (
            between_y
            & (cross == 0)
            & (min(x1, x2) <= px)
            & (px <= max(x1, x2))
        )
        straddles = (y1 > py) != (y2 > py)
        if y1 != y2:
            xin = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            inside ^= straddles & (px < xin)
    return on_edge | inside


def point_in_wkt_vec(
    px: np.ndarray, py: np.ndarray, rings: list
) -> np.ndarray:
    """Vectorized :func:`point_in_wkt`: even-odd membership for arrays
    of points against one parsed polygon. Row-for-row identical to the
    scalar kernel (pinned in tests/test_spatial_vec.py)."""
    outer = np.zeros(len(px), dtype=bool)
    for ring, sign in rings:
        if sign > 0:
            outer |= _point_in_ring_vec(px, py, ring)
    hole = np.zeros(len(px), dtype=bool)
    for ring, sign in rings:
        if sign < 0:
            hole |= _point_in_ring_vec(px, py, ring)
    return outer & ~hole


def grid_spatial_join(
    points: DataFrame,
    polygons: DataFrame,
    cell_size: float,
    x_col: str = "x",
    y_col: str = "y",
    wkt_col: str = "wkt",
    how: str = "inner",
    max_cells_per_polygon: int = 100_000,
) -> DataFrame:
    """Join each point to every polygon containing it. Polygon columns
    come back ``poly_``-prefixed; ``how="left"`` keeps matchless points
    with NULLs."""
    if how not in ("inner", "left"):
        raise ValueError(f"unsupported join type {how!r}")
    bb = wkt_bbox(wkt_col)
    n_cells = (
        (F.floor(bb["maxx"] / cell_size) - F.floor(bb["minx"] / cell_size) + 1)
        * (F.floor(bb["maxy"] / cell_size) - F.floor(bb["miny"] / cell_size) + 1)
    )
    cells = F.flatten(
        F.transform(
            F.sequence(
                F.floor(bb["minx"] / cell_size).cast("long"),
                F.floor(bb["maxx"] / cell_size).cast("long"),
            ),
            lambda cx: F.transform(
                F.sequence(
                    F.floor(bb["miny"] / cell_size).cast("long"),
                    F.floor(bb["maxy"] / cell_size).cast("long"),
                ),
                lambda cy: F.struct(cx.alias("cx"), cy.alias("cy")),
            ),
        )
    )
    poly = (
        polygons.where(
            F.assert_true(
                n_cells <= max_cells_per_polygon,
                F.format_string(
                    "polygon bbox covers more than %d cells; widen cell_size",
                    F.lit(max_cells_per_polygon),
                ),
            ).isNull()
        )
        .select(
            *[F.col(c).alias(f"poly_{c}") for c in polygons.columns],
            F.explode(cells).alias("_cell"),
        )
        .select("*", F.col("_cell.cx").alias("_pcx"), F.col("_cell.cy").alias("_pcy"))
        .drop("_cell")
    )
    pt = points.select(
        "*",
        F.floor(F.col(x_col) / cell_size).cast("long").alias("_cx"),
        F.floor(F.col(y_col) / cell_size).cast("long").alias("_cy"),
    )
    cond = (F.col("_cx") == F.col("_pcx")) & (F.col("_cy") == F.col("_pcy"))
    cand = pt.join(poly, cond)

    # exact test on grid-colocated candidates only; polygons parse once
    # per (batch, wkt) via the memo, not once per candidate row
    out_schema = cand.drop("_cx", "_cy", "_pcx", "_pcy").schema
    wkt_out = f"poly_{wkt_col}"

    def _exact(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # vectorized even-odd (round 12): the old pdf.apply ran the
        # ray-casting kernel per candidate ROW in Python; grouping the
        # batch by polygon runs it per (polygon, batch) over numpy
        # arrays — same arithmetic, same IEEE results, edges-inclusive
        # (row-parity pinned in tests/test_spatial_vec.py)
        for pdf in batches:
            if len(pdf):
                px = pdf[x_col].to_numpy(dtype="float64")
                py = pdf[y_col].to_numpy(dtype="float64")
                keep_mask = np.zeros(len(pdf), dtype=bool)
                grouped = pdf.groupby(wkt_out, sort=False).indices
                for w, idx in grouped.items():
                    rings = parse_wkt_signed_rings(w)
                    keep_mask[idx] = point_in_wkt_vec(px[idx], py[idx], rings)
                keep = pdf[keep_mask]
            else:
                keep = pdf
            yield keep.drop(columns=["_cx", "_cy", "_pcx", "_pcy"])

    matched = cand.mapInPandas(_exact, schema=out_schema)
    if how == "inner":
        return matched
    # left: anti-join the matched point ids back — needs a stable point
    # identity, so require the caller's point columns to be the identity
    pcols = points.columns
    missing = points.join(
        matched.select(*pcols).dropDuplicates(pcols), pcols, "anti"
    )
    null_polys = [
        F.lit(None).cast(polygons.schema[c].dataType).alias(f"poly_{c}")
        for c in polygons.columns
    ]
    return matched.unionByName(missing.select(*pcols, *null_polys))


def radius_join(
    points_a: DataFrame,
    points_b: DataFrame,
    radius: float,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """All (a, b) pairs with euclidean distance <= radius — the
    ST_DWithin shape, as a grid equi-join.

    Cells are radius-sized, so any qualifying pair sits within one cell
    of each other on both axes: the B side explodes to its 3x3 cell
    neighborhood, the A side carries its single cell, and every
    candidate pair meets EXACTLY ONCE (in A's cell — B emits each
    neighbor cell once). Exact distance filters the candidates; the
    fan-out is a constant 9, independent of data. B's columns come back
    ``b_``-prefixed with a ``dist`` column appended.
    """
    cx = F.floor(F.col(x_col) / radius).cast("long")
    cy = F.floor(F.col(y_col) / radius).cast("long")
    a = points_a.select(
        "*", cx.alias("_acx"), cy.alias("_acy")
    )
    off = F.sequence(F.lit(-1), F.lit(1))
    # neighbor cells computed from the ORIGINAL columns: referencing the
    # b_-aliases from the same select would be a lateral column alias
    # (Spark rejects it inside generators)
    b = points_b.select(
        *[F.col(c).alias(f"b_{c}") for c in points_b.columns],
        F.explode(
            F.flatten(
                F.transform(
                    off,
                    lambda dx: F.transform(
                        off,
                        lambda dy: F.struct(
                            (F.floor(F.col(x_col) / radius).cast("long") + dx).alias("cx"),
                            (F.floor(F.col(y_col) / radius).cast("long") + dy).alias("cy"),
                        ),
                    ),
                )
            )
        ).alias("_bc"),
    )
    dist = F.sqrt(
        F.pow(F.col(x_col) - F.col(f"b_{x_col}"), 2)
        + F.pow(F.col(y_col) - F.col(f"b_{y_col}"), 2)
    )
    return (
        a.join(
            b,
            (F.col("_acx") == F.col("_bc.cx"))
            & (F.col("_acy") == F.col("_bc.cy")),
        )
        .withColumn("dist", dist)
        .where(F.col("dist") <= radius)
        .drop("_acx", "_acy", "_bc")
    )
