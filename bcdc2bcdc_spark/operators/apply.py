"""Apply a change set to a snapshot — MERGE semantics as one join.

Reference applies deltas as sorted sequential create/update/delete API
calls (/root/reference/bcdc2bcdc/CKANUpdate.py:67-83, 395-460) with the
"exists in deleted state → update instead of add" fallback
(CKAN.py:701-723). Those branch semantics are exactly MERGE INTO:

  WHEN MATCHED AND op='DELETE'  THEN DELETE
  WHEN MATCHED                  THEN UPDATE SET *   (ADD on existing = update)
  WHEN NOT MATCHED AND op<>'DELETE' THEN INSERT *   (UPDATE on missing = insert)

This module is the engine-side formulation (full-outer join + CASE) used by
the parquet lake backend and by tests; the Iceberg backend emits the real
MERGE INTO statement (sources/lake.py).

No-op suppression (M2): an ADD/UPDATE whose canonical digest equals the
current row's digest leaves the base row untouched — including its
``commit`` — reproducing the reference's "empty diff ⇒ not an update"
(CKANData.py:1455, Diff.py:48-67). This is what makes replays idempotent
at the row level.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from bcdc2bcdc_spark.functions.digest import with_row_digest
from bcdc2bcdc_spark.operators.diff import COMPARE_COLS
from bcdc2bcdc_spark.schema import KEY_COLS, OP_DELETE


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str] = KEY_COLS,
    compare_cols: Sequence[str] = COMPARE_COLS,
    suppress_noops: bool = True,
    base_digest_col: str | None = None,
    changes_digest_col: str | None = None,
    out_digest_col: str | None = None,
) -> DataFrame:
    """Return the post-apply snapshot. ``changes`` must be key-unique
    (run lww_dedup first) and canonicalized; output columns == base's.

    ADD and UPDATE are both upserts; DELETE on a missing key is a no-op —
    branch-complete MERGE semantics, so replaying a change set is
    idempotent: apply(apply(B, C), C) == apply(B, C).

    ``base_digest_col``/``changes_digest_col`` name PRE-COMPUTED digest
    columns (the lake table persists one) — at scale this turns the merge's
    digest work from O(touched rows) per epoch into zero.
    """
    if base_digest_col:
        base = base.withColumnRenamed(base_digest_col, "_b_digest")
    if changes_digest_col:
        changes = changes.withColumnRenamed(changes_digest_col, "_c_digest")
    base_cols = [c for c in base.columns if c != "_b_digest"]
    payload_cols = [c for c in base_cols if c not in key_cols]

    b = (
        base
        if base_digest_col
        else with_row_digest(base, list(compare_cols), "_b_digest", impl="jvm")
    )
    c = (
        changes
        if changes_digest_col
        else with_row_digest(changes, list(compare_cols), "_c_digest", impl="jvm")
    )
    out_cols = list(payload_cols)
    b_fields = [F.col(f"b.{p}").alias(p) for p in payload_cols]
    c_fields = [F.col(f"c.{p}").alias(p) for p in payload_cols]
    if out_digest_col:
        out_cols.append(out_digest_col)
        b_fields.append(F.col("_b_digest").alias(out_digest_col))
        c_fields.append(F.col("_c_digest").alias(out_digest_col))
    b_struct = F.struct(*b_fields)
    c_struct = F.struct(*c_fields)

    joined = b.alias("b").join(c.alias("c"), list(key_cols), "full_outer")
    matched = F.col("_b_digest").isNotNull()
    has_change = F.col("c.op").isNotNull()
    is_delete = has_change & (F.col("c.op") == OP_DELETE)
    noop = (
        matched & has_change & (F.col("_b_digest") == F.col("_c_digest"))
        if suppress_noops
        else F.lit(False)
    )

    chosen = (
        F.when(~has_change, b_struct)  # untouched base row
        .when(is_delete & matched, F.lit(None))  # delete existing
        .when(is_delete & ~matched, F.lit(None))  # delete missing: no row
        .when(noop, b_struct)  # no-op upsert keeps base
        .otherwise(c_struct)  # upsert (insert or replace)
    )
    return (
        joined.withColumn("_row", chosen)
        .filter(F.col("_row").isNotNull())
        .select(*key_cols, *[F.col(f"_row.{p}").alias(p) for p in out_cols])
    )
