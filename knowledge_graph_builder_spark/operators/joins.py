"""Keyed snapshot diff: the change set between two versions of a table.

``plans/incremental.py`` diffs two transcript snapshots with it and
re-extracts only the conversations that were added, changed or removed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame, new: DataFrame, key_cols: list[str]
) -> DataFrame:
    """CDC-style diff of two snapshots of the same table: one row per key
    whose state differs, labeled ``change`` in ('added', 'removed',
    'changed'); unchanged keys are dropped. Value comparison is null-safe
    per column (a NULL->value transition counts as changed). The
    maintenance primitive for incremental re-processing: feed the 'added'
    + 'changed' keys back into the pipeline instead of recomputing 100 TB.

    One full-outer shuffle join on the key — the minimum possible for a
    keyed diff; value columns travel once per side and the comparison is
    column expressions (no UDF, no row serialization).
    """
    val_cols = [c for c in new.columns if c not in key_cols]
    o = old.select(
        *[F.col(c).alias(f"_ok_{c}") for c in key_cols],
        *[F.col(c).alias(f"_ov_{c}") for c in val_cols],
        F.lit(1).alias("_in_old"),
    )
    n = new.select(
        *key_cols, *[F.col(c).alias(f"_nv_{c}") for c in val_cols], F.lit(1).alias("_in_new")
    )
    cond = None
    for c in key_cols:
        eq = n[c].eqNullSafe(F.col(f"_ok_{c}"))
        cond = eq if cond is None else cond & eq
    j = n.join(o, cond, "full_outer")
    changed = F.lit(False)
    for c in val_cols:
        changed = changed | ~F.col(f"_nv_{c}").eqNullSafe(F.col(f"_ov_{c}"))
    change = (
        F.when(F.col("_in_old").isNull(), "added")
        .when(F.col("_in_new").isNull(), "removed")
        .when(changed, "changed")
    )
    keys_out = [F.coalesce(n[c], F.col(f"_ok_{c}")).alias(c) for c in key_cols]
    return j.select(*keys_out, change.alias("change")).filter(F.col("change").isNotNull())
