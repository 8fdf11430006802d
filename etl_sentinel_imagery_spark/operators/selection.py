"""Product-selection pipeline — the reference's core query, Spark-first.

Reference semantics (`/root/reference/code/imagery_store.py:205-273`):
OData-pushed filters (platform/productType/date-range/cloudCover/tileId)
→ footprint geometry → AOI-coverage ratio per product (overlay + area)
→ group-sum per product Id → sort by summed ratio desc → keep best Id →
latest-OriginDate tiebreak → single product record projection.

Each decision is written once, as Spark SQL text: the WKT → bbox parse
(:func:`bbox_sql`), the filters (``_FILTER_SQL``), the coverage ratio
(:func:`_ratio_sql`), the P7 covering predicate (``_COVERS_SQL``), the
product group key (``_GROUP_KEY``), the rank order (``_RANK``) and the
record projection (``_RECORD``). Coverage is bbox-intersection
arithmetic (exact for the reference's effectively-rectangular tile
footprints; the exact polygon-overlay variant lives in
functions.geometry). At scale: the catalog is the big side (millions of
products), the AOI is one broadcast row — no shuffle until the terminal
top-1, which TakeOrderedAndProject handles without a full sort.

Two plans are composed from the fragments, each ONE parameterized
``spark.sql`` statement that takes its input frames as DataFrame
arguments and every user value as a parameter marker: the single-AOI
top-1 (:func:`best_product`, via plans.acquisition.select_product) and
the joined broadcast + per-fid window (:func:`select_best_per_aoi`). A
plan built from text costs tens of py4j calls instead of the hundreds a
Column tree takes. Both plans stay because one AOI routed through the
joined plan took 3× the selection time of the top-1 plan (median 1.34 s
vs 0.43 s). The step-by-step helpers (:func:`filter_products`,
:func:`with_coverage_ratio`, :func:`best_product_direct`,
:func:`rank_by_coverage`, :func:`wkt_bbox`) run the same fragments.

Literals in the fragments are typed: Spark SQL reads ``0.0`` as DECIMAL,
so double constants are written ``0D``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BBOX = ("minx", "miny", "maxx", "maxy")


def bbox_sql(wkt: str) -> dict[str, str]:
    """F6/F7 (dataset.py:38-40 analog): SQL for the bounding box of the
    WKT POLYGON or MULTIPOLYGON held by the SQL expression ``wkt``,
    parsed JVM-side (regexp + array transforms). Stripping the keyword
    and all parens leaves the flat 'x y, x y, …' pair list regardless of
    ring/member nesting — the bbox is winding- and hole-insensitive by
    construction."""
    pairs = (
        rf"split(regexp_replace(regexp_replace({wkt}, '[A-Za-z]+\\s*', ''), "
        rf"'[()]', ''), ',\\s*')"
    )
    xs = f"transform({pairs}, p -> CAST(split(p, ' ')[0] AS DOUBLE))"
    ys = f"transform({pairs}, p -> CAST(split(p, ' ')[1] AS DOUBLE))"
    return {
        "minx": f"array_min({xs})",
        "miny": f"array_min({ys})",
        "maxx": f"array_max({xs})",
        "maxy": f"array_max({ys})",
    }


def wkt_bbox(wkt: str) -> dict[str, Column]:
    """:func:`bbox_sql` as Columns over the SQL expression ``wkt`` (a
    column name)."""
    return {k: F.expr(v) for k, v in bbox_sql(wkt).items()}


#: P4-P8: the reference's `$filter` predicates. Date compare is STRICT
#: gt/lt on ISO strings — lexical, exactly as the reference builds
#: `ContentDate/Start gt {start} and lt {end}` (imagery_store.py:218;
#: lexical == chronological for ISO strings).
_FILTER_SQL = (
    "platform = :platform AND productType = :product_type"
    " AND ContentDate_Start > :date_start AND ContentDate_Start < :date_end"
    " AND cloudCover <= :cloud_max"
)
_FILTER_KEYS = ("platform", "product_type", "date_start", "date_end", "cloud_max")


def _filter(filters: dict, tile_id: str | None) -> tuple[str, dict]:
    """The WHERE text and its parameters; the optional tileId predicate
    joins only when a tile is asked for."""
    args = {k: filters[k] for k in _FILTER_KEYS}
    if tile_id is None:
        return _FILTER_SQL, args
    return _FILTER_SQL + " AND tileId = :tile_id", {**args, "tile_id": tile_id}


def _ratio_sql(p: dict[str, str], a: dict[str, str]) -> str:
    """J1/P3: area(footprint ∩ AOI)/area(AOI) over bbox expressions ``p``
    (footprint) and ``a`` (AOI). A zero-area AOI has no ratio (null): it
    covers nothing, so it gets no winner, like an off-catalog AOI, instead
    of a DIVIDE_BY_ZERO that would fail every AOI of a joined batch."""
    iw = f"greatest(least({p['maxx']}, {a['maxx']}) - greatest({p['minx']}, {a['minx']}), 0D)"
    ih = f"greatest(least({p['maxy']}, {a['maxy']}) - greatest({p['miny']}, {a['miny']}), 0D)"
    area = f"(({a['maxx']} - {a['minx']}) * ({a['maxy']} - {a['miny']}))"
    return f"CASE WHEN {area} > 0D THEN {iw} * {ih} / {area} END"


#: The single AOI's bbox as parameter markers.
_AOI_MARKERS = {k: f":a_{k}" for k in _BBOX}


def _aoi_args(aoi_bbox: tuple[float, float, float, float]) -> dict:
    return {f"a_{k}": v for k, v in zip(_BBOX, aoi_bbox)}


def _scored_sql(footprint_col: str) -> str:
    """The ``{products}`` rows plus ``area_ratio`` against the single
    AOI's markers."""
    ratio = _ratio_sql(bbox_sql(footprint_col), _AOI_MARKERS)
    return f"SELECT *, {ratio} AS area_ratio FROM {{products}}"


#: P7 (imagery_store.py:185): a footprint that covers part of the AOI, so
#: products disjoint from it (and every product of a zero-area AOI)
#: never reach ranking.
_COVERS_SQL = "area_ratio > 0D"

#: A1: the product group key of the group-sum (imagery_store.py:250-251).
_GROUP_KEY = (
    "Id", "Name", "S3Path", "OriginDate", "tileId", "cloudCover", "relativeOrbitNumber",
)


def _agg_sql(relation: str, *lead: str) -> str:
    """A1: group-sum ratio per product over ``relation`` (a frame marker
    or a parenthesized query), per ``lead`` key (the AOI's fid in the
    joined plan)."""
    key = ", ".join([*lead, *_GROUP_KEY])
    return f"SELECT {key}, sum(area_ratio) AS area_ratio FROM {relation} GROUP BY {key}"


#: The reference's sort/tiebreak chain (imagery_store.py:252-259). Id asc
#: is a UNIQUE final tiebreak → a total order, which global_rank requires.
_RANK = (("area_ratio", "DESC"), ("OriginDate", "DESC"), ("Id", "ASC"))
_RANK_SQL = ", ".join(f"{c} {d}" for c, d in _RANK)

#: P2 projection (imagery_store.py:259-269): record field → expression
#: (product_date is OriginDate[:10]); the bands ride in as one parameter.
_RECORD = {
    "fid": "fid",
    "uuid": "Id",
    "name": "Name",
    "s3path": "S3Path",
    "tile": "tileId",
    "product_date": "substring(OriginDate, 1, 10)",
    "cloudcoverage": "cloudCover",
    "bands": ":bands",
    "num_bands": "size(:bands)",
    "orbit": "relativeOrbitNumber",
    "area_ratio": "area_ratio",
}
_TOP1_FIELDS = (
    "uuid", "name", "s3path", "tile", "product_date", "cloudcoverage", "bands",
    "num_bands", "orbit", "area_ratio",
)
_PER_AOI_FIELDS = (
    "fid", "uuid", "name", "tile", "product_date", "cloudcoverage", "area_ratio",
)


def _record_sql(fields: tuple[str, ...]) -> str:
    return ", ".join(f"{_RECORD[f]} AS {f}" for f in fields)


def _top1_sql(relation: str) -> str:
    """The top-1 record over scored ``relation``: aggregate per product,
    then ORDER BY … LIMIT 1 — Catalyst plans TakeOrderedAndProject
    (per-partition top-1 + driver merge of single rows), no global sort,
    no window."""
    return (
        f"SELECT {_record_sql(_TOP1_FIELDS)} FROM ({_agg_sql(relation)}) "
        f"ORDER BY {_RANK_SQL} LIMIT 1"
    )


def filter_products(
    catalog: DataFrame,
    platform: str,
    product_type: str,
    date_start: str,
    date_end: str,
    cloud_max: float,
    tile_id: str | None = None,
) -> DataFrame:
    """P4-P8: the reference's `$filter` predicates (``_FILTER_SQL``)."""
    where, args = _filter(
        {"platform": platform, "product_type": product_type, "date_start": date_start,
         "date_end": date_end, "cloud_max": cloud_max},
        tile_id,
    )
    return catalog.sparkSession.sql(
        f"SELECT * FROM {{catalog}} WHERE {where}", args, catalog=catalog
    )


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

    The AOI is a handful of scalar parameters, so this is a narrow map
    stage with no shuffle."""
    return products.sparkSession.sql(
        _scored_sql(footprint_col), _aoi_args(aoi_bbox), products=products
    )


def best_product(
    catalog: DataFrame,
    aoi_bbox: tuple[float, float, float, float],
    filters: dict,
    bands: Sequence[str],
    tile_id: str | None = None,
    footprint_col: str = "GeoFootprint",
) -> DataFrame:
    """The single-AOI selection as ONE statement: filters (``filters``
    holds the :data:`_FILTER_KEYS`) → coverage → P7 → group-sum → top-1
    record (:func:`_top1_sql`)."""
    where, args = _filter(filters, tile_id)
    covered = (
        f"(SELECT * FROM ({_scored_sql(footprint_col)} WHERE {where}) "
        f"WHERE {_COVERS_SQL})"
    )
    return catalog.sparkSession.sql(
        _top1_sql(covered),
        {**args, **_aoi_args(aoi_bbox), "bands": list(bands)},
        products=catalog,
    )


def best_product_direct(
    products_with_ratio: DataFrame, bands: Sequence[str]
) -> DataFrame:
    """The top-1 record of already-scored rows WITHOUT materializing a
    full ranking (:func:`_top1_sql`). This is the 100 TB path for the
    single-AOI selection; :func:`rank_by_coverage` exists for when the
    whole ranking is the product."""
    return products_with_ratio.sparkSession.sql(
        _top1_sql("{scored}"), {"bands": list(bands)}, scored=products_with_ratio
    )


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
    """A1+W1: group-sum ratio per product (:func:`_agg_sql`), ranked by
    ``_RANK`` — the full ranking, via the two-phase distributed
    :func:`global_rank` (no single-partition window)."""
    summed = products_with_ratio.sparkSession.sql(
        _agg_sql("{scored}"), scored=products_with_ratio
    )
    order = [F.col(c).desc() if d == "DESC" else F.col(c).asc() for c, d in _RANK]
    return global_rank(summed, order)


def select_best_per_aoi(
    products: DataFrame,
    aoi_df: DataFrame,
    footprint_col: str = "GeoFootprint",
) -> DataFrame:
    """Multi-AOI selection as ONE joined statement — the scale form of
    the per-AOI driver loop (plans/main.py): broadcast the AOI table
    (small control-plane side), join on bbox intersection, compute
    coverage per (aoi, product), window top-1 per AOI.

    aoi_df needs (fid, bbox struct<minx,miny,maxx,maxy>) — the shape the
    geo readers produce. Two shuffles (the group-sum, and the per-AOI
    window over already-aggregated rows) regardless of AOI count."""
    fp = bbox_sql(footprint_col)
    p = {k: f"p_{k}" for k in _BBOX}
    a = {k: f"a_{k}" for k in _BBOX}
    joined = (
        f"(SELECT /*+ BROADCAST(a) */ *, {_ratio_sql(p, a)} AS area_ratio FROM "
        f"(SELECT *, {', '.join(f'{fp[k]} AS {p[k]}' for k in _BBOX)} FROM {{products}}) p "
        f"JOIN (SELECT fid, {', '.join(f'bbox.{k} AS {a[k]}' for k in _BBOX)} FROM {{aois}}) a "
        f"ON p_minx < a_maxx AND p_maxx > a_minx AND p_miny < a_maxy AND p_maxy > a_miny)"
    )
    # P7 after the sum: pushed below it, the predicate would lead the join
    # condition and be evaluated for every (AOI, product) pair
    ranked = (
        f"SELECT *, row_number() OVER (PARTITION BY fid ORDER BY {_RANK_SQL}) AS rn "
        f"FROM ({_agg_sql(joined, 'fid')}) WHERE {_COVERS_SQL}"
    )
    return products.sparkSession.sql(
        f"SELECT {_record_sql(_PER_AOI_FIELDS)} FROM ({ranked}) WHERE rn = 1",
        products=products, aois=aoi_df,
    )
