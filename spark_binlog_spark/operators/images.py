"""Latest-image and CDC-apply — the reference's downstream value proposition.

The reference delegates these to delta-plus (README.md:88-99 ``idCols``,
``syncType=binlog``); they are the D3/D4 operators of SURVEY.md §2.B and
the heart of "binlog -> queryable table".

Scale notes:
- ``latest_image`` is one shuffle on the primary key (window w/
  partitionBy); with AQE on, skewed keys are split automatically.
- ``cdc_apply`` is one aggregate over ``base ∪ changes`` on the primary
  key: the base is scanned once and shuffled once.  A copy-on-write
  sink rewrites the whole base every batch anyway, and at micro-batch
  sizes the cost is set by Spark jobs per call (planning and
  scheduling), not by bytes: this plan runs as one shuffle stage plus
  the consumer's stage.  Measured on the sf0.1 fixture and the 30k-row
  streaming benchmark; sf1/sf10 are unmeasured (those fixtures are not
  generated by default).  A base far larger than each batch's changes
  is the merge-on-read sink's case (streaming/mor.py), which never
  shuffles the base.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_image(
    df: DataFrame,
    key_cols: list[str],
    offset_col: str | list[str] = "cdc_offset",
) -> DataFrame:
    """D3 — keep the last change event per primary key, by offset order.

    Offset total order per protocols.scala:24-26 makes ``row_number``
    over (key, offset desc) deterministic — offsets are unique.

    ``offset_col`` may be a LIST of columns for a lexicographic order
    (e.g. ``["batch_id", "cdc_offset"]``): packing multiple dimensions
    into one integer (``a * 2^40 + b``) silently inverts the order once
    ``b`` outgrows the shift, so compound orders are expressed as
    compound sort keys instead.
    """
    order_cols = [offset_col] if isinstance(offset_col, str) else list(offset_col)
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def cdc_apply(
    base: DataFrame,
    changes: DataFrame,
    key_col: str,
    change_key_col: str = "pk",
    op_col: str = "op",
    set_cols: dict[str, str] | None = None,
) -> DataFrame:
    """D4 — apply a change stream onto a base snapshot (upsert + delete).

    Semantics of the delta-plus contract (README.md:45,88-99): reduce
    changes to latest-image per key first; keys whose last op is
    ``delete`` disappear; other keys are upserted.  Updates carry
    after-images only (UpdateRowsWriter.java:54-57) so an upsert row is
    the change row's payload joined with the base row for columns the
    change does not set.

    ``set_cols`` maps base-column -> changes-column for the payload the
    stream overwrites; unset base columns are carried from the snapshot
    (NULL for brand-new keys).  ``key_col`` is the base's primary key:
    unique and non-null.

    Plan: ONE aggregate over ``base ∪ changes`` keyed on the primary
    key — the key's base row and its highest-offset change (``max``
    over a struct led by the offset) — so the base is scanned once and
    shuffled once, with no window, join, broadcast or cache (see the
    module's scale notes).
    """
    set_cols = set_cols or {}
    change_fields = list(dict.fromkeys(["cdc_offset", op_col, *set_cols.values()]))
    keyed = base.select(
        F.col(key_col).alias("__k"), F.struct(*base.columns).alias("__b")
    ).unionByName(
        changes.select(F.col(change_key_col).alias("__k"), F.struct(*change_fields).alias("__c")),
        allowMissingColumns=True,
    )
    per_key = keyed.groupBy("__k").agg(
        F.first("__b", ignorenulls=True).alias("__b"),  # at most one base row
        F.max("__c").alias("__c"),  # struct order = offset order: the latest change
    )
    b, c = F.col("__b"), F.col("__c")
    out_cols = []
    for f in base.schema.fields:
        if f.name == key_col:
            out_cols.append(F.col("__k").cast(f.dataType).alias(f.name))
        elif f.name in set_cols:
            out_cols.append(
                F.when(c.isNotNull(), c[set_cols[f.name]]).otherwise(b[f.name]).alias(f.name)
            )
        else:
            out_cols.append(b[f.name].alias(f.name))
    return per_key.filter(c.isNull() | (c[op_col] != "delete")).select(*out_cols)


def scd2_history(
    df: DataFrame,
    key_col: str = "pk",
    offset_col: str = "cdc_offset",
    value_cols: list[str] | None = None,
    op_col: str = "op",
) -> DataFrame:
    """Slowly-changing-dimension (type 2) materialization of a change
    stream: one VERSION row per non-delete change, valid over the
    offset interval [its own offset, the key's next change of any
    kind); the open-ended latest version is flagged ``is_current``.
    A delete event emits no version — it only closes the previous one
    (its offset becomes that version's ``valid_to``).

    The audit-trail counterpart of ``latest_image`` (which this
    generalizes: the is_current rows ARE the latest non-deleted
    images) — the downstream "how did this row look at offset X"
    surface CDC users materialize next to the live table.

    Scale: ONE shuffle on the key (the lead window partitions by
    ``key_col``, never globally) — the same plan shape and skew story
    as latest_image.
    """
    value_cols = value_cols or ["value"]
    w = Window.partitionBy(key_col).orderBy(offset_col)
    return (
        df.withColumn("valid_to", F.lead(offset_col).over(w))
        .filter(F.col(op_col) != "delete")
        .select(
            key_col,
            *value_cols,
            F.col(offset_col).alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )
