"""Mergeable HyperLogLog sketches as first-class DataFrame values.

`approx_count_distinct` answers one query; a 100 TB pipeline wants the
SKETCH itself — persisted per (day, segment) partition, merged across
arbitrary slices later without touching raw data (the rollup-table
pattern: daily sketch parquet → any date-range distinct-users query is a
register-wise max + one estimate, not a re-scan).

Registers are plain `array<int>` columns built from JVM expressions
(md5-based 60-bit hash — the same engine-portable family as
operators.sampling, so a DuckDB oracle could restate the registers
bit-for-bit), merge is an element-wise max (`zip_with`), and the
estimator is the standard HLL harmonic mean with the linear-counting
small-range correction. Merge is EXACT: sketch(A ∪ B) ==
merge(sketch(A), sketch(B)) register-for-register, which is what makes
pre-aggregation sound.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Default precision: 2^9 = 512 registers, standard error 1.04/√512 ≈ 4.6%.
HLL_P = 9
HLL_M = 1 << HLL_P
#: Hash width: 15 md5 hex chars = 60 bits (fits int64); P index bits +
#: (60-P) substream bits.
_HASH_BITS = 60
_SUB_BITS = _HASH_BITS - HLL_P
_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)


def _alpha(m: int) -> float:
    """Standard HLL bias constant for m registers (Flajolet et al. §4)."""
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _hash60(key: Column) -> Column:
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def _per_register_max(
    df: DataFrame, group_cols: list[str], key_col: str, p: int
) -> DataFrame:
    """Shared phase 1: (group_cols..., _idx, _mx) max-of-rho rows.

    Map-side combinable — the heavy shuffle carries ≤ m rows per group."""
    m = 1 << p
    sub_bits = _HASH_BITS - p
    h = _hash60(F.col(key_col))
    idx = h.bitwiseAND(F.lit(m - 1))
    w = F.shiftright(h, p)
    # rho = leading-zero count of the (60-p)-bit substream + 1. Bit length
    # comes from the BINARY-STRING length (conv base 10→2) — an exact
    # integer path; floor(log2(w)) computed as ln(w)/ln(2) in doubles
    # can be off by one at exact powers of two, and differently so per
    # engine, which would silently skew registers.
    rho = (
        F.when(w == 0, F.lit(sub_bits + 1))
        .otherwise(F.lit(sub_bits + 1) - F.length(F.conv(w, 10, 2)))
        .cast("int")
    )
    return (
        df.select(*group_cols, idx.alias("_idx"), rho.alias("_rho"))
        .groupBy(*group_cols, "_idx")
        .agg(F.max("_rho").alias("_mx"))
    )


def hll_sketch(
    df: DataFrame, group_cols: list[str], key_col: str, p: int = HLL_P
) -> DataFrame:
    """Per-group HLL registers: (group_cols..., hll array<int>).

    Two-phase shape: per-(group, register-index) max-of-rho, then one
    small per-group assembly of the dense register array. ``p`` sets the
    precision/size trade: 2^p registers, relative error ≈ 1.04/√(2^p)."""
    m = 1 << p
    per_reg = _per_register_max(df, group_cols, key_col, p)
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda i: F.coalesce(F.element_at(F.col("_regmap"), i.cast("int")), F.lit(0)),
    )
    return (
        per_reg.groupBy(*group_cols)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("_idx").cast("int"), F.col("_mx")))
            ).alias("_regmap")
        )
        .select(*group_cols, dense.alias("hll"))
    )


def hll_sketch_sparse(
    df: DataFrame, group_cols: list[str], key_col: str, p: int = HLL_P
) -> DataFrame:
    """Sparse HLL: (group_cols..., hll map<int,int>) holding only the
    NONZERO registers. For fine-grain rollup sketches (per day × segment)
    whose groups see far fewer than m distinct keys, storage drops from m
    ints to (#used) entries — the ROADMAP's sparse-below-m/4 case — while
    merge and estimate stay exact versus the dense form: the map IS the
    dense array minus its zeros, bit-for-bit."""
    per_reg = _per_register_max(df, group_cols, key_col, p)
    return (
        per_reg.groupBy(*group_cols)
        .agg(
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(F.struct(F.col("_idx").cast("int"), F.col("_mx")))
                )
            ).alias("hll")
        )
    )


def hll_sparse_to_dense(col: Column | str, p: int = HLL_P) -> Column:
    """Densify a sparse sketch — registers absent from the map are 0."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        F.sequence(F.lit(0), F.lit((1 << p) - 1)),
        lambda i: F.coalesce(F.element_at(c, i.cast("int")), F.lit(0)),
    )


def hll_sparse_merge_cols(a: Column, b: Column) -> Column:
    """Key-wise max over the union of nonzero registers — exact, and the
    result is again sparse (a zero register never enters either map)."""
    return F.map_zip_with(
        a,
        b,
        lambda _, x, y: F.greatest(F.coalesce(x, F.lit(0)), F.coalesce(y, F.lit(0))),
    )


def hll_sparse_merge_agg(col: Column | str) -> Column:
    """Aggregate many sparse sketch rows into one — use inside
    groupBy().agg() to roll fine-grain sparse sketches to any slice."""
    c = F.col(col) if isinstance(col, str) else col
    empty = F.expr("cast(map() as map<int,int>)")
    return F.aggregate(F.collect_list(c), empty, hll_sparse_merge_cols)


def hll_estimate_sparse(col: Column | str, p: int = HLL_P) -> Column:
    """Estimate straight from the sparse map: absent registers contribute
    2^0 = 1 to the harmonic sum and count as zeros for linear counting —
    the same math as hll_estimate on the densified array, without
    materializing m entries.

    Summation order is PINNED so the double result is deterministic for
    a given register set regardless of map entry order (map_zip_with
    merges can reorder keys): the zeros term is added first, then the
    nonzero registers fold in ascending register-index order. This is
    equal to the dense estimate within float tolerance, not bit-for-bit
    — the dense fold interleaves its 1.0 terms at the zero positions,
    and double addition is order-sensitive at the ulp level."""
    m = 1 << p
    c = F.col(col) if isinstance(col, str) else col
    # sort entries by register index so the fold order is canonical
    vals = F.transform(
        F.array_sort(F.map_entries(c)), lambda e: e.getField("value")
    )
    nnz = F.size(vals)
    zeros = F.lit(m) - nnz
    inv_sum = zeros.cast("double") + F.aggregate(
        vals, F.lit(0.0), lambda acc, r: acc + F.lit(2.0) ** (-r.cast("double"))
    )
    raw = F.lit(_alpha(m) * m * m) / inv_sum
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    return F.when((raw <= F.lit(2.5 * m)) & (zeros > 0), linear).otherwise(raw)


def hll_merge_cols(a: Column, b: Column) -> Column:
    """Register-wise max — the exact, associative, commutative merge."""
    return F.zip_with(a, b, lambda x, y: F.greatest(x, y))


def hll_merge_agg(col: Column | str, p: int = HLL_P) -> Column:
    """Aggregate many sketch rows into one (fold of register-wise max) —
    use inside groupBy().agg() to roll daily sketches up to any slice."""
    c = F.col(col) if isinstance(col, str) else col
    return F.aggregate(
        F.collect_list(c),
        F.transform(F.sequence(F.lit(0), F.lit((1 << p) - 1)), lambda _: F.lit(0)),
        hll_merge_cols,
    )


def hll_estimate(col: Column | str, p: int = HLL_P) -> Column:
    """Cardinality estimate from a register array (harmonic mean +
    linear-counting small-range correction), as a JVM expression. The
    harmonic sum is a sequential fold, so the double result is
    deterministic for given registers."""
    m = 1 << p
    c = F.col(col) if isinstance(col, str) else col
    inv_sum = F.aggregate(
        c,
        F.lit(0.0),
        lambda acc, r: acc + F.lit(2.0) ** (-r.cast("double")),
    )
    raw = F.lit(_alpha(m) * m * m) / inv_sum
    zeros = F.size(F.filter(c, lambda r: r == 0))
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    return F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0), linear
    ).otherwise(raw)


def distinct_rollup(
    df: DataFrame,
    fine_cols: list[str],
    key_col: str,
) -> DataFrame:
    """The end-to-end rollup pattern: sketch at the FINE grain once
    (e.g. per day × segment); callers then merge to any coarser slice
    with ``groupBy(coarse).agg(hll_merge_agg('hll'))`` + hll_estimate —
    never re-reading raw data. Returns (fine_cols..., hll)."""
    return hll_sketch(df, fine_cols, key_col)


def exact_error_bound(n_distinct: int, p: int = HLL_P) -> float:
    """±3σ relative error bound for a given precision (for tests/monitors)."""
    return 3 * 1.04 / math.sqrt(1 << p)


# --- Mergeable top-k heavy hitters ---------------------------------------
#
# The rollup-table companion to the HLL sketch: persist per-fine-grain
# (day × segment) top-k item maps, then answer "top items over any date
# range" by merging sketches — never re-scanning raw data. The summary is
# the Mergeable-Summaries (Agarwal et al., PODS'12) truncation form:
# a map of ≤ k (item → count) plus an `off` error offset. Invariants:
#
#   true_count(x) ≤ estimate(x) ≤ true_count(x) + off   for stored x
#   true_count(x) ≤ off                                 for absent x
#
# At build time counts are exact (one map-side-combinable groupBy) and
# off = the (k+1)-th count, so any dropped item's true count ≤ off.
# Merge adds estimates key-wise (absent key in one side := that side's
# off, the upper bound), re-truncates to k, and the offsets compose:
# the merged off is the (k+1)-th merged estimate (≥ sum of parts' offs).


def topk_sketch(
    df: DataFrame, group_cols: list[str], item_col: str, k: int
) -> DataFrame:
    """Per-group top-k sketch: (group_cols..., items map<string,long>, off).

    Phase 1 is an exact per-(group, item) count — shuffle is map-side
    combinable and linear in distinct items. Phase 2 keeps only k+1 rows
    per group through the window (bounded), assembles the map from the
    top k, and records the (k+1)-th count as the truncation offset."""
    counts = (
        df.select(*group_cols, F.col(item_col).cast("string").alias("_item"))
        .groupBy(*group_cols, "_item")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("_cnt").desc(), F.col("_item").asc()
    )
    ranked = counts.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k + 1
    )
    return ranked.groupBy(*group_cols).agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rn") <= k, F.struct("_item", "_cnt"))
                ),
            )
        ).alias("items"),
        F.coalesce(
            F.max(F.when(F.col("_rn") == k + 1, F.col("_cnt"))), F.lit(0)
        ).alias("off"),
    )


def _topk_truncate(est_map: Column, off: Column, k: int) -> Column:
    """Keep the k largest (count desc, item asc) entries of est_map;
    off becomes the (k+1)-th estimate when truncation happened."""
    # sort_array orders struct fields lexicographically — encode the
    # (count desc, item asc) order as (-count, item).
    ordered = F.sort_array(
        F.transform(
            F.map_entries(est_map),
            lambda e: F.struct((-e["value"]).alias("nc"), e["key"].alias("item")),
        )
    )
    kept = F.map_from_entries(
        F.sort_array(
            F.transform(
                F.slice(ordered, 1, k),
                lambda e: F.struct(e["item"].alias("key"), (-e["nc"]).alias("value")),
            )
        )
    )
    new_off = F.when(
        F.size(ordered) > k, -F.element_at(ordered, k + 1)["nc"]
    ).otherwise(off)
    return F.struct(kept.alias("items"), new_off.alias("off"))


def topk_merge_agg(items_col: str, off_col: str, k: int) -> Column:
    """Merge many (items, off) sketch rows inside groupBy().agg():
    key-wise estimate addition over the entry union (a key absent from
    one side contributes that side's off — its upper bound), then
    re-truncation to k. Returns struct<items, off>."""
    rows = F.collect_list(
        F.struct(F.col(items_col).alias("items"), F.col(off_col).alias("off"))
    )
    empty = F.expr("cast(map() as map<string,bigint>)")
    seed = F.struct(empty.alias("items"), F.lit(0).cast("long").alias("off"))

    def merge(acc, s):
        est = F.map_zip_with(
            acc["items"],
            s["items"],
            lambda _, x, y: F.coalesce(x, acc["off"]) + F.coalesce(y, s["off"]),
        )
        return _topk_truncate(est, acc["off"] + s["off"], k)

    return F.aggregate(rows, seed, merge)


# --- Mergeable fixed-edge histogram --------------------------------------


def histogram_sketch(
    df: DataFrame, group_cols: list[str], value_col: str, edges: list[float]
) -> DataFrame:
    """Per-group fixed-edge histogram: (group_cols..., hist array<long>)
    with len(edges)+1 bins — (-inf, e0), [e0, e1), …, [e_last, +inf).

    Counts are EXACT and the merge (element-wise sum) is exact, so unlike
    HLL/top-k this sketch is fully oracle-checkable; its job is the same
    rollup pattern — persist per-partition histograms, answer any-slice
    distribution queries (quantile estimates, monitoring bands) without
    re-scanning. Fixed edges are the monitoring-pipeline trade: pick them
    once from a reference window; cross-run comparability beats adaptive
    bins. Bin index via a sorted-edges membership count — one JVM
    expression, no UDF."""
    if sorted(edges) != list(edges):
        raise ValueError("histogram edges must be sorted ascending")
    n_bins = len(edges) + 1
    edge_arr = F.array(*[F.lit(float(e)) for e in edges])
    v = F.col(value_col).cast("double")
    idx = F.size(F.filter(edge_arr, lambda e: v >= e))
    per_bin = (
        # NULL values are EXCLUDED (COUNT(value) semantics) — without the
        # filter, `v >= e` is NULL for every edge, the size() lands on 0,
        # and NULLs would silently inflate the (-inf, e0) bin
        df.filter(v.isNotNull())
        .select(*group_cols, idx.alias("_idx"))
        .groupBy(*group_cols, "_idx")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_bins - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("_binmap"), i.cast("int")), F.lit(0).cast("long")
        ),
    )
    return (
        per_bin.groupBy(*group_cols)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("_idx").cast("int"), F.col("_cnt")))
            ).alias("_binmap")
        )
        .select(*group_cols, dense.alias("hist"))
    )


def histogram_merge_agg(col: Column | str, n_bins: int) -> Column:
    """Element-wise-sum fold of many histogram rows — exact merge."""
    c = F.col(col) if isinstance(col, str) else col
    zeros = F.transform(
        F.sequence(F.lit(0), F.lit(n_bins - 1)), lambda _: F.lit(0).cast("long")
    )
    return F.aggregate(
        F.collect_list(c), zeros, lambda a, b: F.zip_with(a, b, lambda x, y: x + y)
    )


def histogram_quantile_est(
    col: Column | str, edges: list[float], q: float
) -> Column:
    """Quantile estimate from a histogram: walk the cumulative counts to
    the bin holding rank q·n, then interpolate linearly inside it (the
    unbounded edge bins clamp to their finite edge). Error is bounded by
    one bin width — the fixed-edge trade."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.aggregate(c, F.lit(0).cast("long"), lambda a, x: a + x)
    target = F.lit(q) * n.cast("double")
    # cum[i] = count of values below bin i's upper edge
    cum = F.transform(
        F.sequence(F.lit(1), F.lit(len(edges) + 1)),
        lambda i: F.aggregate(
            F.slice(c, 1, i.cast("int")), F.lit(0).cast("long"), lambda a, x: a + x
        ),
    )
    # first bin whose cumulative count reaches the target rank
    bin_idx = F.size(F.filter(cum, lambda s: s.cast("double") < target))
    lo = F.when(bin_idx == 0, F.lit(float(edges[0]))).otherwise(
        F.element_at(F.array(*[F.lit(float(e)) for e in edges]), bin_idx)
    )
    hi = F.when(bin_idx == len(edges), F.lit(float(edges[-1]))).otherwise(
        F.element_at(F.array(*[F.lit(float(e)) for e in edges]), bin_idx + 1)
    )
    below = F.when(bin_idx == 0, F.lit(0).cast("long")).otherwise(
        F.element_at(cum, bin_idx)
    )
    in_bin = F.element_at(cum, bin_idx + 1) - below
    frac = F.when(
        in_bin > 0, (target - below.cast("double")) / in_bin.cast("double")
    ).otherwise(F.lit(0.0))
    return lo + (hi - lo) * F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))


# --- Count-Min sketch (Cormode & Muthukrishnan 2005) ----------------------
#: Depth: error probability e^-d ≈ 1.8% at 4; width w gives additive
#: error ε·N with ε = e/w (N = total weight).
CM_D = 4


def _cm_hash(key: Column, j: int, w: int) -> Column:
    """Row-j cell index: salted md5 → 60-bit int → mod w. A distinct
    salt per row gives the d independent hash functions the CM
    guarantee needs; md5 keeps it engine-portable like _hash60."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"cm{j}:"), key.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(w)).cast("int")


def cm_sketch(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    weight_col: str | None = None,
    w: int = 1024,
    d: int = CM_D,
) -> DataFrame:
    """One Count-Min sketch per group: ``cm array<array<long>>`` (d rows
    × w counters). Point-queries any key's frequency (``cm_estimate``)
    with a one-sided guarantee: estimate ≥ true count, and
    ≤ true + (e/w)·N with probability 1 − e^(−d) — the classic
    turnstile frequency sketch, complementing HLL (distinct) and top-k
    (heavy hitters with identities) in the rollup family.

    Build shape mirrors the bloom/HLL builders: each input row explodes
    to d (row, cell) increments, the per-(group,row,cell) sum is
    MAP-SIDE COMBINABLE (the shuffle carries ≤ d·w rows per group
    however large the input), then two cheap assemblies densify. Merge
    = element-wise add (associative, commutative — build per day, add
    to any slice)."""
    weight = (
        F.col(weight_col).cast("long")
        if weight_col
        else F.lit(1).cast("long")
    )
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("r"),
                _cm_hash(F.col(key_col), j, w).alias("i"),
            )
            for j in range(d)
        ]
    )
    per_cell = (
        df.select(*group_cols, weight.alias("_w"), F.explode(cells).alias("_c"))
        .select(
            *group_cols,
            "_w",
            F.col("_c.r").alias("_r"),
            F.col("_c.i").alias("_i"),
        )
        .groupBy(*group_cols, "_r", "_i")
        .agg(F.sum("_w").alias("_s"))
    )
    dense_row = F.transform(
        F.sequence(F.lit(0), F.lit(w - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("_m"), i.cast("int")), F.lit(0).cast("long")
        ),
    )
    rows = (
        per_cell.groupBy(*group_cols, "_r")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("_i"), F.col("_s")))
            ).alias("_m")
        )
        .select(*group_cols, "_r", dense_row.alias("_row"))
    )
    zero_row = F.array_repeat(F.lit(0).cast("long"), w)
    return (
        rows.groupBy(*group_cols)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("_r"), F.col("_row")))
            ).alias("_rm")
        )
        .select(
            *group_cols,
            F.transform(
                F.sequence(F.lit(0), F.lit(d - 1)),
                lambda r: F.coalesce(
                    F.element_at(F.col("_rm"), r.cast("int")), zero_row
                ),
            ).alias("cm"),
        )
    )


def cm_merge_cols(a: Column, b: Column) -> Column:
    """Element-wise sum of two sketches (must share w and d)."""
    return F.zip_with(
        a, b, lambda ra, rb: F.zip_with(ra, rb, lambda x, y: x + y)
    )


def cm_merge_agg(col: Column | str, w: int, d: int = CM_D) -> Column:
    """Aggregate-merge a sketch column (groupBy().agg(...) shape)."""
    c = F.col(col) if isinstance(col, str) else col
    zero = F.array_repeat(F.array_repeat(F.lit(0).cast("long"), w), d)
    return F.aggregate(F.collect_list(c), zero, cm_merge_cols)


def cm_estimate(
    cm: Column, key: Column, w: int, d: int = CM_D
) -> Column:
    """Point frequency estimate: min over the d rows' counters at the
    key's cells — pure JVM expression, usable inside any projection."""
    return F.array_min(
        F.array(
            *[
                F.element_at(
                    F.element_at(cm, j + 1), _cm_hash(key, j, w) + 1
                )
                for j in range(d)
            ]
        )
    )


def cm_inner_product(a: Column, b: Column) -> Column:
    """Equi-join SIZE estimate from two Count-Min sketches built over
    the two sides' join keys (same w, d): min over the d rows of the
    row dot-product — the CM inner-product estimator (Cormode &
    Muthukrishnan 2005, §4.2). Always ≥ the true output cardinality
    |A ⋈ B| = Σ_k fA(k)·fB(k); overshoot bounded by (e/w)·N_A·N_B per
    row with probability 1 − e^(−d).

    This is the planning primitive: persist a per-partition/day CM
    sketch of every fact table's join keys (they merge additively),
    and any candidate join's output size is ONE pure-JVM expression
    over two counter grids — no scan of either side. Use it to decide
    broadcast vs sort-merge, to order multi-way joins, or to veto a
    runaway fan-out before submitting it."""
    dot = F.zip_with(
        a,
        b,
        lambda ra, rb: F.aggregate(
            F.zip_with(ra, rb, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    return F.array_min(dot)
