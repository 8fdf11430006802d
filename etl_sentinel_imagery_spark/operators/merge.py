"""MERGE / SCD2 emulation — cache maintenance without a lakehouse format.

The reference's cache is overwrite-by-uuid files (`dataset.py:54`,
tx.py:92-96); its Spark analogue (operators.raster_io.write_cache) is
dynamic partition overwrite. These operators add the two classic
mutation patterns a plain-parquet pipeline needs when upstream rows
CHANGE rather than just appear:

- merge_upsert: Delta-style MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED
  INSERT, as anti-join + union. One shuffle per side on the merge keys;
  at scale the write is partitioned by a stable key prefix and lands via
  dynamic partition overwrite so only touched partitions rewrite.
- scd2_apply: slowly-changing-dimension type 2 — changed keys close
  their current version (valid_to set, is_current false) and append a
  new open version. History stays queryable by as-of predicates.

Both are pure DataFrame expressions (no lakehouse dependency), and both
are deterministic given deduplicated sources — enforced, not assumed:
a source with duplicate merge keys raises rather than writing
last-writer-wins nondeterminism into the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _assert_unique(source: DataFrame, keys: list[str], what: str) -> None:
    dup = (
        source.groupBy(*keys)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"{what} has duplicate merge keys (e.g. "
            f"{[dup[0][k] for k in keys]}); deduplicate upstream — "
            "merging duplicates is shuffle-order-dependent"
        )


def merge_upsert(
    target: DataFrame, source: DataFrame, keys: list[str]
) -> DataFrame:
    """MERGE: source rows replace matching target rows, new keys append.

    Equivalent SQL: MERGE INTO target USING source ON <keys> WHEN
    MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *. The kept
    side is a left_anti join (target rows with no source match) — a
    single shuffle on the keys, broadcast when source is small."""
    if set(target.columns) != set(source.columns):
        raise ValueError(
            f"schema mismatch: target {sorted(target.columns)} vs "
            f"source {sorted(source.columns)}"
        )
    _assert_unique(source, keys, "merge source")
    kept = target.join(source, keys, "left_anti")
    return kept.unionByName(source.select(*target.columns))


SCD2_COLS = ("valid_from", "valid_to", "is_current")


def scd2_init(snapshot: DataFrame, effective: str) -> DataFrame:
    """Bootstrap an SCD2 dimension from a first snapshot: every row is
    the open current version effective at ``effective`` (ISO string)."""
    return snapshot.select(
        "*",
        F.lit(effective).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    keys: list[str],
    effective: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Apply an update batch to an SCD2 dimension as of ``effective``.

    Only rows whose ``compare_cols`` actually changed (default: all
    non-key payload columns) produce a new version; unchanged updates
    are no-ops, so reprocessing the same batch is idempotent. Output =
    untouched history ∪ closed-out old versions ∪ new open versions."""
    payload = [c for c in updates.columns if c not in keys]
    compare = compare_cols if compare_cols is not None else payload
    if not payload:
        raise ValueError(
            "SCD2 update batch has no payload columns beyond the keys — "
            "nothing to version"
        )
    if not compare:
        raise ValueError("compare_cols must name at least one column")
    _assert_unique(updates, keys, "SCD2 update batch")

    current = dim.filter(F.col("is_current"))
    rest = dim.filter(~F.col("is_current"))

    u = updates.select(
        *[F.col(k).alias(f"_u_{k}") for k in keys],
        *[F.col(c).alias(f"_u_{c}") for c in payload],
    )
    cond = [F.col(k) == F.col(f"_u_{k}") for k in keys]
    joined = current.join(u, _and(cond), "left")
    changed = _any([~F.col(c).eqNullSafe(F.col(f"_u_{c}")) for c in compare])
    matched_changed = F.col(f"_u_{keys[0]}").isNotNull() & changed

    closed = (
        joined.filter(matched_changed)
        .select(*dim.columns)
        .withColumn("valid_to", F.lit(effective).cast("timestamp"))
        .withColumn("is_current", F.lit(False))
    )
    untouched_current = joined.filter(~matched_changed).select(*dim.columns)
    new_versions = (
        joined.filter(matched_changed)
        .select(
            *[F.col(k) for k in keys],
            *[F.col(f"_u_{c}").alias(c) for c in payload],
        )
        .select(
            "*",
            F.lit(effective).cast("timestamp").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        .select(*dim.columns)
    )
    inserts = (
        updates.join(dim.select(*keys).distinct(), keys, "left_anti")
        .select(
            "*",
            F.lit(effective).cast("timestamp").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        .select(*dim.columns)
    )
    return (
        rest.unionByName(closed)
        .unionByName(untouched_current)
        .unionByName(new_versions)
        .unionByName(inserts)
    )


def _and(conds):
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _any(conds):
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def scd2_as_of(dim: DataFrame, ts: str) -> DataFrame:
    """Point-in-time view: the version of each key valid at ``ts``."""
    t = F.lit(ts).cast("timestamp")
    return dim.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).drop(*SCD2_COLS)
