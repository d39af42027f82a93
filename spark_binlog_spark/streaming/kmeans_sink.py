"""Streaming k-means model maintenance: embedding-space cluster
centroids kept live as vectors are ingested (the mini-batch k-means
family, Sculley 2010, "Web-Scale K-Means Clustering", in its
deterministic batch-mean form).

Per micro-batch: assign the batch's vectors to the CURRENT centroids
(broadcast, one pass), then fold the batch's per-(cell, dim) integer
component sums and counts into the model store — centroids are derived
as floor(sum/count) whenever served, so the store is PURELY ADDITIVE
and bounded at k·dim rows forever.  Sculley's per-point learning-rate
update is order-dependent inside a batch; the batch-mean form is the
order-free equivalent a distributed engine can compute exactly (one
tiny aggregation per batch), and it is bit-reproducible across engines
— the DuckDB oracle replays the same batch sequence.

Seeds: the k smallest vec_ids of the FIRST batch (TakeOrderedAndProject
— top-k per partition, never a global sort).  A cell that loses all
members never arises (counts only grow); a duplicate-seed cell that
attracts no members simply drops from the model, exactly as
``kmeans_train`` drops empty cells.  Replay and crash safety come from
``MergeableStore`` (streaming/store.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_binlog_spark.functions.similarity import (
    assign_to_centroids,
    int_dot,
    with_quantized,
)
from spark_binlog_spark.streaming.store import MergeableStore


class MiniBatchKmeansSink(MergeableStore):
    """foreachBatch sink maintaining per-(cell, dim) centroid sums of
    the ``embedding`` column.

    ``model()`` -> (centroid_id, dim, n_members, mean_q);
    ``centroids()`` -> (centroid_id, cq, cnorm) ready for
    ``assign_to_centroids`` — both derived from the live store.
    """

    schema = "centroid_id long, dim long, s long, n long"
    keys = ("centroid_id", "dim")
    merge = "sum"

    def __init__(
        self, spark: SparkSession, stats_dir: str, n_clusters: int = 8, resume: bool = True
    ):
        self.n_clusters = n_clusters
        super().__init__(spark, stats_dir, resume)

    def model(self) -> DataFrame:
        """(centroid_id, dim, n_members, mean_q): the live model table —
        k·dim rows, mean_q = floor(sum/count) (one floored double
        division, the cross-engine convention)."""
        return self._stats().select(
            "centroid_id",
            "dim",
            F.col("n").alias("n_members"),
            F.floor(F.col("s").cast("double") / F.col("n").cast("double"))
            .cast("long")
            .alias("mean_q"),
        )

    def centroids(self) -> DataFrame:
        """(centroid_id, cq, cnorm) rebuilt from the store — the shape
        ``assign_to_centroids`` consumes; k rows."""
        vecs = (
            self.model()
            .groupBy("centroid_id")
            .agg(
                F.sort_array(F.collect_list(F.struct("dim", "mean_q"))).alias("dm")
            )
            .select(
                "centroid_id",
                F.transform(F.col("dm"), lambda x: x["mean_q"]).alias("cq"),
            )
        )
        return vecs.select(
            "centroid_id", "cq", int_dot(F.col("cq"), F.col("cq")).alias("cnorm")
        )

    def _delta(self, batch_df, batch_id):
        if batch_df.isEmpty():
            # Skip empty batches EXPLICITLY (ADVICE r8): seeding below
            # keys on store emptiness, so without this an empty batch 0
            # would silently shift the seeding role to batch 1.  The
            # contract is deterministic: the FIRST NON-EMPTY batch seeds
            # (its k smallest vec_ids), regardless of how many empty
            # triggers precede it.  The ratchet intentionally stays
            # unrecorded — replaying an empty batch re-skips, idempotent.
            return None
        qb = with_quantized(batch_df)
        if self._stats().limit(1).count() == 0:
            # first batch: seeds = its k smallest vec_ids
            # (TakeOrderedAndProject — never a global sort)
            cents = (
                qb.orderBy("vec_id")
                .limit(self.n_clusters)
                .select(
                    F.col("vec_id").alias("centroid_id"),
                    F.col("q").alias("cq"),
                    F.col("norm").alias("cnorm"),
                )
            )
        else:
            cents = self.centroids()
        return (
            assign_to_centroids(qb, cents)
            .select("centroid_id", F.posexplode(F.col("q")).alias("dim", "val"))
            .select("centroid_id", F.col("dim").cast("long").alias("dim"), "val")
            .groupBy("centroid_id", "dim")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        )
