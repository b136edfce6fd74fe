"""Snapshot diff — keyed change capture between two table states.

The batch stand-in for Iceberg's changelog scan (`table_changes` /
CDC read): given two states of the same table, emit one row per
changed key with ``change`` in {insert, delete, update} and, for
updates, the names of the columns that differ. The reference has no
analog (its tables are queues), but every pipeline built on snapshots
needs this the moment two runs must be reconciled — it is the
table-level complement of the per-run ``_lineage`` metrics and the
inverse of ``Catalog.replace_keys`` (which WRITES keyed changes;
this READS them back out).

Scale shape: ONE full-outer hash equi-join on the key columns — both
sides shuffle on the key, AQE skew-split applies, and
the per-column comparison is pure codegen (null-safe equality into an
array of changed names). Nothing is collected; output is bounded by
the number of changed keys, not table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_META_COLS = ("change", "changed_cols")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    include_values: bool = False,
) -> DataFrame:
    """Keyed diff of two table states.

    Output: ``key_cols`` + ``change`` ('insert' | 'delete' | 'update')
    + ``changed_cols`` (comma-joined sorted names of differing compare
    columns; '' for inserts/deletes). Keys present in both states with
    every compare column null-safe-equal produce NO row. ``key_cols``
    must uniquely identify rows in each state (the usual CDC
    primary-key contract); key matching is NULL-SAFE, so a null key
    value is one identity, not a never-matching hole.

    ``compare_cols`` defaults to every non-key column the two states
    share; columns only one side has are ignored (schema evolution:
    an added column makes every carried-over row an update only if
    listed explicitly).

    ``include_values=True`` additionally carries each compare column's
    NEW value (null on deletes) — the full change record, making the
    diff APPLYABLE: ``apply_changes(old, diff) == new`` exactly (the
    CDC round-trip; an Iceberg changelog row's after-image).
    """
    if not key_cols:
        raise ValueError("snapshot_diff: key_cols must be non-empty")
    if compare_cols is None:
        compare_cols = sorted(
            (set(old.columns) & set(new.columns)) - set(key_cols)
        )
    reserved = {"change", "changed_cols", "_sd_in_old", "_sd_in_new"}
    clash = (set(key_cols) | set(compare_cols)) & reserved | {
        c for c in list(old.columns) + list(new.columns)
        if c.startswith(("_sd_old_", "_sd_new_", "_sd_ko_", "_sd_kn_"))
    }
    if clash:
        raise ValueError(
            f"snapshot_diff: reserved column name(s) {sorted(clash)}"
        )
    o = old.select(
        *[F.col(k).alias(f"_sd_ko_{k}") for k in key_cols],
        F.lit(True).alias("_sd_in_old"),
        *[F.col(c).alias(f"_sd_old_{c}") for c in compare_cols],
    )
    n = new.select(
        *[F.col(k).alias(f"_sd_kn_{k}") for k in key_cols],
        F.lit(True).alias("_sd_in_new"),
        *[F.col(c).alias(f"_sd_new_{c}") for c in compare_cols],
    )
    cond = None
    for k in key_cols:
        c = F.col(f"_sd_ko_{k}").eqNullSafe(F.col(f"_sd_kn_{k}"))
        cond = c if cond is None else cond & c
    joined = o.join(n, cond, "full_outer")
    changed = F.array_compact(
        F.array(
            *[
                F.when(
                    ~F.col(f"_sd_old_{c}").eqNullSafe(F.col(f"_sd_new_{c}")),
                    F.lit(c),
                )
                for c in sorted(compare_cols)
            ]
        )
    ) if compare_cols else F.array().cast("array<string>")
    keys_out = [
        F.when(
            F.col("_sd_in_new").isNotNull(), F.col(f"_sd_kn_{k}")
        ).otherwise(F.col(f"_sd_ko_{k}")).alias(k)
        for k in key_cols
    ]
    out = (
        joined.withColumn(
            "change",
            F.when(F.col("_sd_in_old").isNull(), F.lit("insert"))
            .when(F.col("_sd_in_new").isNull(), F.lit("delete"))
            .when(F.size(changed) > 0, F.lit("update")),
        )
        .filter(F.col("change").isNotNull())
        .withColumn(
            "changed_cols",
            F.when(
                F.col("change") == "update", F.array_join(changed, ",")
            ).otherwise(F.lit("")),
        )
    )
    values = (
        [F.col(f"_sd_new_{c}").alias(c) for c in compare_cols]
        if include_values
        else []
    )
    return out.select(*keys_out, "change", "changed_cols", *values)


def apply_changes(
    base: DataFrame, changes: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Apply a value-carrying diff (``snapshot_diff(...,
    include_values=True)``) to a table state: delete the 'delete' keys,
    upsert the 'insert'/'update' rows' after-images — the read side's
    MERGE INTO. Round-trip law (tested, null keys included):

        apply_changes(old, snapshot_diff(old, new, keys,
                      include_values=True), keys) == new

    Key matching is null-safe, mirroring ``snapshot_diff``. A diff
    produced WITHOUT ``include_values`` carries no after-images and is
    rejected (applying it would silently strip every value column).

    Scale shape: one left-anti join on the key (drop deleted/updated
    base rows) + one union with the change set — both key-partitioned;
    the change set is bounded by
    changed keys, not table size. Columns produced are the keys + the
    diff's compare columns (the after-image schema).
    """
    cols = [c for c in changes.columns if c not in _META_COLS]
    if not [c for c in cols if c not in key_cols]:
        raise ValueError(
            "apply_changes: the diff carries no value columns — produce "
            "it with snapshot_diff(..., include_values=True)"
        )
    upserts = changes.filter(F.col("change") != "delete").select(*cols)
    ch_keys = changes.select(
        *[F.col(k).alias(f"_ac_{k}") for k in key_cols]
    )
    cond = None
    for k in key_cols:
        c = F.col(k).eqNullSafe(F.col(f"_ac_{k}"))
        cond = c if cond is None else cond & c
    keep = base.select(*cols).join(ch_keys, cond, "left_anti")
    return keep.unionByName(upserts)
