"""Product-selection pipeline — the reference's core query, Spark-first.

Reference semantics (`/root/reference/code/imagery_store.py:205-273`):
OData-pushed filters (platform/productType/date-range/cloudCover/tileId)
→ footprint geometry → AOI-coverage ratio per product (overlay + area)
→ group-sum per product Id → sort by summed ratio desc → keep best Id →
latest-OriginDate tiebreak → single product record projection.

Here each stage is a DataFrame op: the filters are Catalyst predicates
(pushable to any source), coverage is bbox-intersection column arithmetic
(exact for the reference's effectively-rectangular tile footprints; the
exact polygon-overlay variant lives in functions.geometry). At scale: the
catalog is the big side (millions of products), the AOI is one broadcast
row — no shuffle until the terminal top-1, which TakeOrderedAndProject
handles without a full sort.

The coverage ratio, product group key, rank order and record projection
are each defined once below and shared by two plans: the single-AOI
top-1 (:func:`best_product_direct`, via plans.acquisition.select_product)
and the joined broadcast + per-fid window (:func:`select_best_per_aoi`).
Both plans stay because one AOI routed through the joined plan took 3×
the selection time of the top-1 plan (median 1.34 s vs 0.43 s).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def wkt_bbox(wkt: Column) -> dict[str, Column]:
    """Bounding box of a WKT POLYGON or MULTIPOLYGON, parsed entirely
    JVM-side (regexp + array transforms; F6/F7, dataset.py:38-40
    analog). Stripping the keyword and all parens leaves the flat
    'x y, x y, …' pair list regardless of ring/member nesting — the
    bbox is winding- and hole-insensitive by construction."""
    coords = F.regexp_replace(
        F.regexp_replace(wkt, r"[A-Za-z]+\s*", ""), r"[()]", ""
    )
    pairs = F.split(coords, ",\\s*")
    xs = F.transform(pairs, lambda p: F.split(p, " ").getItem(0).cast("double"))
    ys = F.transform(pairs, lambda p: F.split(p, " ").getItem(1).cast("double"))
    return {
        "minx": F.array_min(xs),
        "miny": F.array_min(ys),
        "maxx": F.array_max(xs),
        "maxy": F.array_max(ys),
    }


def filter_products(
    catalog: DataFrame,
    platform: str,
    product_type: str,
    date_start: str,
    date_end: str,
    cloud_max: float,
    tile_id: str | None = None,
) -> DataFrame:
    """P4-P8: the reference's `$filter` predicates as Catalyst filters.

    Date compare is STRICT gt/lt on ISO strings — lexical, exactly as the
    reference builds `ContentDate/Start gt {start} and lt {end}`
    (imagery_store.py:218; lexical == chronological for ISO strings)."""
    out = catalog.filter(
        (F.col("platform") == platform)
        & (F.col("productType") == product_type)
        & (F.col("ContentDate_Start") > date_start)
        & (F.col("ContentDate_Start") < date_end)
        & (F.col("cloudCover") <= cloud_max)
    )
    if tile_id is not None:
        out = out.filter(F.col("tileId") == tile_id)
    return out


_BBOX = ("minx", "miny", "maxx", "maxy")


def _coverage_ratio(p: dict[str, Column], a: dict[str, Column]) -> Column:
    """J1/P3: area(footprint ∩ AOI)/area(AOI) over bbox columns ``p``
    (footprint) and ``a`` (AOI). A zero-area AOI has no ratio (null): it
    covers nothing, so it gets no winner, like an off-catalog AOI, instead
    of a DIVIDE_BY_ZERO that would fail every AOI of a joined batch."""
    iw = F.greatest(
        F.least(p["maxx"], a["maxx"]) - F.greatest(p["minx"], a["minx"]), F.lit(0.0)
    )
    ih = F.greatest(
        F.least(p["maxy"], a["maxy"]) - F.greatest(p["miny"], a["miny"]), F.lit(0.0)
    )
    area = (a["maxx"] - a["minx"]) * (a["maxy"] - a["miny"])
    return F.when(area > 0, iw * ih / area)


def with_coverage_ratio(
    products: DataFrame,
    aoi_bbox: tuple[float, float, float, float],
    footprint_col: str = "GeoFootprint",
) -> DataFrame:
    """J1/P3: AOI-coverage ratio, bbox fast path (axis-aligned tiles).

    area(footprint ∩ AOI)/area(AOI) — what "how much of my AOI does this
    product cover" means. DIVERGES from the reference when candidate
    footprints differ in size: the reference's union-overlay groupby
    (imagery_store.py:249-251) effectively ranks by
    area(footprint)/area(AOI) INCLUDING footprint area outside the AOI, so
    a huge mostly-irrelevant footprint can outrank a tight fully-covering
    one. Divergence documented in COVERAGE.md §J1.

    The AOI is a handful of scalars — broadcast as literals, so this is a
    narrow map stage with no shuffle."""
    aoi = {k: F.lit(v) for k, v in zip(_BBOX, aoi_bbox)}
    return products.withColumn(
        "area_ratio", _coverage_ratio(wkt_bbox(F.col(footprint_col)), aoi)
    )


def covering(scored: DataFrame) -> DataFrame:
    """P7 (imagery_store.py:185): keep the rows whose footprint covers part
    of the AOI, so products disjoint from it (and every product of a
    zero-area AOI) never reach ranking."""
    return scored.filter(F.col("area_ratio") > 0.0)


def _coverage_order() -> list[Column]:
    """The reference's sort/tiebreak chain (imagery_store.py:252-259).
    Id asc is a UNIQUE final tiebreak → this is a total order, which
    global_rank requires."""
    return [F.desc("area_ratio"), F.desc("OriginDate"), F.asc("Id")]


def _coverage_agg(scored: DataFrame, *lead: str) -> DataFrame:
    """A1: group-sum ratio per product (imagery_store.py:250-251), per
    ``lead`` key (the AOI's fid in the joined plan)."""
    return scored.groupBy(
        *lead, "Id", "Name", "S3Path", "OriginDate", "tileId", "cloudCover",
        "relativeOrbitNumber",
    ).agg(F.sum("area_ratio").alias("area_ratio"))


def _product_record(
    best: DataFrame, fields: tuple[str, ...], bands: Sequence[str] = ()
) -> DataFrame:
    """P2 projection (imagery_store.py:259-269) of winning rows to the
    named record ``fields`` (product_date is OriginDate[:10])."""
    cols = {
        "fid": F.col("fid"),
        "uuid": F.col("Id"),
        "name": F.col("Name"),
        "s3path": F.col("S3Path"),
        "tile": F.col("tileId"),
        "product_date": F.substring(F.col("OriginDate"), 1, 10),
        "cloudcoverage": F.col("cloudCover"),
        "bands": F.array(*[F.lit(b) for b in bands]),
        "num_bands": F.lit(len(bands)),
        "orbit": F.col("relativeOrbitNumber"),
        "area_ratio": F.col("area_ratio"),
    }
    return best.select(*[cols[f].alias(f) for f in fields])


def global_rank(
    df: DataFrame, order_cols: list[Column], rank_col: str = "rank"
) -> DataFrame:
    """Distributed global ranking with NO single-partition window.

    `Window.orderBy(...)` with no partitionBy funnels every row through
    one task ("No Partition Defined for Window" warning) — fine for a
    handful of rows, a scale-killer on a 100×-broader catalog. Instead:
    range-repartition on the sort keys (a total order ACROSS partitions),
    rank locally within each partition, then shift by the partition
    prefix counts. The only unpartitioned window left runs over the
    per-partition count table — at most `spark.sql.shuffle.partitions`
    rows, bounded regardless of data size — and the offset join
    broadcasts that same tiny table.

    Requires ``order_cols`` to be a TOTAL order (unique final tiebreak):
    range boundaries may split ties, which would make ranks of tied rows
    partition-dependent.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    local_w = Window.partitionBy("_pid").orderBy(*order_cols)
    local = (
        df.repartitionByRange(n, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_lrank", F.row_number().over(local_w))
    )
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    off_w = (
        Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(off_w), F.lit(0)).alias("_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, (F.col("_lrank") + F.col("_off")).cast("int"))
        .drop("_pid", "_lrank")
    )


def rank_by_coverage(products_with_ratio: DataFrame) -> DataFrame:
    """A1+W1: group-sum ratio per product, rank by (ratio desc,
    OriginDate desc, Id asc) — the full ranking, via the two-phase
    distributed :func:`global_rank` (no single-partition window)."""
    return global_rank(_coverage_agg(products_with_ratio), _coverage_order())


def select_best_per_aoi(
    products: DataFrame,
    aoi_df: DataFrame,
    footprint_col: str = "GeoFootprint",
) -> DataFrame:
    """Multi-AOI selection as ONE joined plan — the scale form of the
    per-AOI driver loop (plans/main.py): broadcast the AOI table (small
    control-plane side), join on bbox intersection, compute coverage per
    (aoi, product), window top-1 per AOI.

    aoi_df needs (fid, bbox struct<minx,miny,maxx,maxy>) — the shape the
    geo readers produce. One shuffle total (the per-AOI window over
    already-aggregated rows) regardless of AOI count."""
    bb = wkt_bbox(F.col(footprint_col))
    p = products.withColumns({f"p_{k}": bb[k] for k in _BBOX})
    a = F.broadcast(
        aoi_df.select("fid", *[F.col(f"bbox.{k}").alias(f"a_{k}") for k in _BBOX])
    )
    pb = {k: F.col(f"p_{k}") for k in _BBOX}
    ab = {k: F.col(f"a_{k}") for k in _BBOX}
    joined = p.join(
        a,
        (pb["minx"] < ab["maxx"])
        & (pb["maxx"] > ab["minx"])
        & (pb["miny"] < ab["maxy"])
        & (pb["maxy"] > ab["miny"]),
    )
    # P7 after the sum: pushed below it, the predicate would lead the join
    # condition and be evaluated for every (AOI, product) pair
    per = covering(
        _coverage_agg(joined.withColumn("area_ratio", _coverage_ratio(pb, ab)), "fid")
    )
    w = Window.partitionBy("fid").orderBy(*_coverage_order())
    top = per.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return _product_record(
        top, ("fid", "uuid", "name", "tile", "product_date", "cloudcoverage", "area_ratio")
    )


def best_product_direct(
    products_with_ratio: DataFrame, bands: list[str]
) -> DataFrame:
    """The top-1 selection WITHOUT materializing a full ranking:
    aggregate per product, then orderBy(...).limit(1) — Catalyst plans
    TakeOrderedAndProject (per-partition top-1 + driver merge of single
    rows), no global sort, no window. This is the 100 TB path for the
    single-AOI selection; :func:`rank_by_coverage` exists for when the
    whole ranking is the product."""
    best = _coverage_agg(products_with_ratio).orderBy(*_coverage_order()).limit(1)
    record = (
        "uuid", "name", "s3path", "tile", "product_date", "cloudcoverage", "bands",
        "num_bands", "orbit", "area_ratio",
    )
    return _product_record(best, record, bands)
