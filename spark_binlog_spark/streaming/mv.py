"""Incremental materialized-view maintenance over a CDC stream.

The downstream use the reference's README sells (binlog -> continuously
queryable table) extended one step: keep an AGGREGATE of the maintained
table up to date per micro-batch WITHOUT recomputing it.  At 100 TB the
applied table is huge and the aggregate is tiny; recomputing the group
totals per batch would re-scan the world, while the delta form touches
only the batch's keys:

  per batch B (latest-image rows (pk, op, value)):
    old     = state ⋈ B.keys           (broadcast the batch keys)
    removal = old rows     -> (group_old, dn=-1, dv=-old_value)
    addition= non-deletes  -> (group,     dn=+1, dv=+new_value)
    agg'    = agg ⊕ Σ deltas per group  (tiny full-outer merge)

An existing-key upsert nets dn=0, dv=new-old; a delete of an absent key
contributes nothing; a new key lands in the NULL group (its dimension
columns are unknown until enrichment — exactly what the batch
``cdc_apply`` + groupBy produces, so the invariant
``agg == groupBy(state)`` holds at every batch boundary).

Exactly-once: foreachBatch is at-least-once under hard crashes, and the
delta apply is NOT idempotent — so the aggregate parquet carries the
last applied batch_id, and a replayed batch is skipped for the agg
while the idempotent state MERGE reapplies harmlessly (the same
split-brain-safe ordering as the reference's monotonic offset guard,
OriginalSourceServerInExecutor.scala:164-171).

All arithmetic in DECIMAL(18,2): incremental ⊕ and batch recompute then
agree bit-for-bit (float addition would drift with application order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DecimalType,
    LongType,
    StructField,
    StructType,
)

from spark_binlog_spark.operators import cdc_apply, latest_image
from spark_binlog_spark.streaming.store import last_batch_id
from spark_binlog_spark.streaming.swap import recover_dir, safe_swap

DEC = "decimal(18,2)"


class IncrementalAggSink:
    """foreachBatch sink maintaining the applied table AND a grouped
    (count, sum) aggregate via per-key deltas.

    ``current()`` is the maintained table, ``current_agg()`` the
    maintained aggregate (group_col, n_rows, total).
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        agg_dir: str,
        base: DataFrame,
        key_col: str,
        group_col: str,
        val_col: str,
        resume: bool = False,
    ):
        import os

        self.spark = spark
        self.state_dir = state_dir
        self.agg_dir = agg_dir
        self.key_col = key_col
        self.group_col = group_col
        self.val_col = val_col
        self._schema = base.schema
        group_field = base.schema[group_col].dataType
        self._agg_schema = StructType(
            [
                StructField(group_col, group_field),
                StructField("n_rows", LongType()),
                StructField("total", DecimalType(18, 2)),
                StructField("batch_id", LongType()),
            ]
        )
        self.applied_batches: list[tuple[int, int]] = []
        # repair an interrupted swap BEFORE deciding whether to bootstrap:
        # a crash inside a naive rmtree/move window would otherwise look
        # like a missing dir and silently re-bootstrap from the snapshot
        # while the checkpoint already marks batches committed
        state_ok = recover_dir(state_dir)
        agg_ok = recover_dir(agg_dir)
        if not (resume and state_ok and agg_ok):
            base.write.mode("overwrite").parquet(state_dir)
            # the ONE full scan: bootstrap the aggregate (S4-style)
            boot = base.groupBy(group_col).agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col(val_col).cast(DEC)).cast(DEC).alias("total"),
            ).withColumn("batch_id", F.lit(-1).cast("long"))
            boot.write.mode("overwrite").parquet(agg_dir)

    @property
    def applied_rows(self) -> int:
        return sum(n for _, n in self.applied_batches)

    def current(self) -> DataFrame:
        return self.spark.read.schema(self._schema).parquet(self.state_dir)

    def current_agg(self) -> DataFrame:
        return (
            self.spark.read.schema(self._agg_schema)
            .parquet(self.agg_dir)
            .select(self.group_col, "n_rows", "total")
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        g, v, k = self.group_col, self.val_col, self.key_col
        batch_df = batch_df.persist()
        n = batch_df.count()
        if n == 0:
            batch_df.unpersist()
            return
        state = self.current()
        latest = F.broadcast(latest_image(batch_df, ["pk"]).select("pk", "op", "value"))

        if batch_id > last_batch_id(self.agg_dir):
            # old values for the touched keys only.  Two broadcast-able
            # steps (a right-outer against a broadcast build side would
            # be unsupported and silently shuffle the full state):
            #   1. state ⋈ broadcast(batch keys)  — inner probe, state
            #      scanned in place, never shuffled
            #   2. latest ⟕ broadcast(old)        — both batch-sized
            old = state.select(
                F.col(k).alias("pk_old"),
                F.col(g).alias("g_old"),
                F.col(v).cast(DEC).alias("v_old"),
            ).join(
                F.broadcast(latest.select(F.col("pk").alias("pk_probe"))),
                F.col("pk_old") == F.col("pk_probe"),
                "inner",
            ).drop("pk_probe")
            touched = latest.join(F.broadcast(old), F.col("pk") == F.col("pk_old"), "left")
            removal = F.when(
                F.col("pk_old").isNotNull(),
                F.struct(
                    F.col("g_old").alias("grp"),
                    F.lit(-1).cast("long").alias("dn"),
                    (-F.col("v_old")).alias("dv"),
                ),
            )
            addition = F.when(
                F.col("op") != "delete",
                F.struct(
                    # existing key keeps its group; new key's dims are
                    # unknown -> NULL group (== cdc_apply + groupBy)
                    F.col("g_old").alias("grp"),
                    F.lit(1).cast("long").alias("dn"),
                    F.col("value").cast(DEC).alias("dv"),
                ),
            )
            deltas = (
                touched.select(F.explode(F.array(removal, addition)).alias("d"))
                .filter(F.col("d").isNotNull())
                .groupBy(F.col("d.grp").alias("grp"))
                .agg(
                    F.sum("d.dn").alias("dn"),
                    F.sum("d.dv").cast(DEC).alias("dv"),
                )
            )
            agg = self.spark.read.schema(self._agg_schema).parquet(self.agg_dir)
            merged_agg = (
                agg.join(deltas, agg[g].eqNullSafe(deltas["grp"]), "full_outer")
                .select(
                    F.coalesce(agg[g], deltas["grp"]).alias(g),
                    (F.coalesce(agg["n_rows"], F.lit(0)) + F.coalesce(deltas["dn"], F.lit(0)))
                    .cast("long")
                    .alias("n_rows"),
                    (
                        F.coalesce(agg["total"], F.lit(0).cast(DEC))
                        + F.coalesce(deltas["dv"], F.lit(0).cast(DEC))
                    )
                    .cast(DEC)
                    .alias("total"),
                )
                # a fully-emptied group disappears, as a recompute would
                .filter(F.col("n_rows") > 0)
                .withColumn("batch_id", F.lit(batch_id).cast("long"))
            )
            agg_tmp = self.agg_dir + f".b{batch_id}"
            merged_agg.write.mode("overwrite").parquet(agg_tmp)
        else:
            agg_tmp = None  # replayed batch: agg already reflects it

        merged_state = cdc_apply(state, batch_df, key_col=k, set_cols={v: "value"})
        state_tmp = self.state_dir + f".b{batch_id}"
        merged_state.write.mode("overwrite").parquet(state_tmp)

        # swap agg first: if we crash between the swaps, replay skips the
        # agg (batch_id recorded) and the state merge is idempotent.
        # safe_swap keeps a complete copy at every instant; recover_dir
        # in __init__ repairs any crash point (a finished .b{N} tmp wins
        # over .old — both tmps are fully written before either swap, so
        # recovery can only land on (old,old), (new,old) or (new,new),
        # each reconciled by replay)
        if agg_tmp is not None:
            safe_swap(self.agg_dir, agg_tmp)
        safe_swap(self.state_dir, state_tmp)
        batch_df.unpersist()
        self.applied_batches.append((batch_id, n))
