"""Streaming EMBEDDING near-duplicate admission sink: per micro-batch,
sign-LSH band join the batch's vectors against a banded index of
everything admitted so far; drop batch vectors whose exact quantized
cosine with any admitted vector (or any smaller-vec_id vector in their
own batch that shares a bucket) reaches ``min_cosine4``; append the
survivors' bucket rows + quantized payload to the index.

The streaming counterpart of the batch ``embedding_near_dup_pairs``
(functions/similarity.py) — same multi-table sign-bucket construction
(disjoint leading dims per table, so a pair is a candidate if it
collides in ANY table, the band trick that restores recall) and the
same exact integer-quantized cosine (floor(x*10^6) components; integer
dot products are order-independent, so Spark and the DuckDB oracle
agree bit-for-bit).  The vector sibling of ``NearDupIngestSink``.

Admission semantics (the spec the oracle mirrors) — batch-sequential:
  * the index holds ONLY previously-ADMITTED vectors' bucket rows
    (with their quantized payload, so scoring needs no corpus lookup);
  * a batch vector is rejected iff (a) some index vector shares a
    (table, sign-bucket) with it and their exact cosine4 >=
    min_cosine4, or (b) some smaller-vec_id vector IN ITS OWN BATCH
    does (deterministic in-batch tie rule);
  * survivors' rows are appended, becoming the index for the next
    batch.

Exactly-once: foreachBatch is at-least-once.  Publication is atomic
per batch via the shared ``BucketedDeltaStore``; a replayed
already-published batch finds each of its own vectors in the index
with a self cosine4 of 10000 (occasionally 9999 when the quantized
norm^2 exceeds 2^53 and the float sqrt rounds above the exact norm)
>= min_cosine4 and admits nothing — which is why ``min_cosine4 <
10000`` (strictly below the self-cosine) is enforced.

Scale — same as the MinHash sink: rows live under ``d_*/bucket=K``
with ``K = (31*sbucket + tbl) % n_buckets`` (the probe key IS the
bucket key), so per-batch read I/O is O(index ∩ batch buckets) and
write I/O O(admitted batch).  The batch side of the band join is
broadcast; the index slice is never shuffled; compaction is a
distributed Spark job (banded_store.py).
``planes=None`` derives the plane count from the corpus via
``derived_planes`` so in-bucket populations stay bounded as the
stream grows.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_binlog_spark.functions.similarity import (
    _vec_dim,
    cosine4,
    derived_planes,
    int_dot,
    sign_bucket,
    with_quantized,
)
from spark_binlog_spark.streaming.banded_store import AdmissionSink


class EmbeddingNearDupIngestSink(AdmissionSink):
    """foreachBatch sink: admit only vectors that are not cosine
    near-duplicates of anything admitted so far (reference-free
    training-data-pipeline machinery, like the text sinks)."""

    schema = "vec_id long, tbl int, sbucket int, q array<long>, norm long"
    id_col = "vec_id"

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        min_cosine4: int = 8000,
        planes: int | None = 4,
        n_tables: int = 2,
        vec_col: str = "embedding",
        n_buckets: int = 16,
        compact_threshold: int = 8,
    ):
        if min_cosine4 >= 10000:
            # strictly below the self-cosine: floor(10000*dot/sqrt(na*nb))
            # can round 10000 down to 9999 when norm^2 exceeds 2^53 (the
            # float sqrt may land a hair above the exact integer norm), so
            # the ==10000 boundary would let a replayed batch miss its own
            # index rows and re-admit duplicates (ADVICE r5)
            raise ValueError(
                "min_cosine4 must be < 10000 (strictly below the "
                "self-cosine) for replay idempotence"
            )
        super().__init__(spark, store_dir, n_buckets, compact_threshold)
        self.min_cosine4 = min_cosine4
        self.planes = planes
        self.n_tables = n_tables
        self.vec_col = vec_col
        # the plane count is an INDEX property, not a batch property:
        # every batch (and every restart, and search_topk) must bucket
        # with the SAME planes or (tbl, sbucket) keys stop being
        # comparable — a replayed duplicate would miss its own index
        # row and be re-admitted.  Resolved once (explicit value, or
        # derived from the first batch) and persisted beside the store.
        self._planes_meta = os.path.join(store_dir, "_planes.json")
        self._planes_resolved: int | None = None
        if os.path.exists(self._planes_meta):
            with open(self._planes_meta) as fh:
                self._planes_resolved = int(json.load(fh)["planes"])

    @property
    def rows_per_doc(self) -> int:
        return self.n_tables  # one (tbl, sbucket) row per hash table

    def _key(self) -> Column:
        return 31 * F.col("sbucket") + F.col("tbl")

    def search_topk(self, queries_df: DataFrame, k: int = 5) -> DataFrame:
        """ANN search served directly off the published bucket index:
        candidacy = any-table (tbl, sign-bucket) collision with an
        admitted vector, scoring = exact quantized cosine, per-query
        top-k (ties to the smaller vec_id).  A query vector that is
        itself in the index never matches itself.

        Plan: the query side (tiny) is broadcast into the index scan;
        a pair colliding in several tables is scored once
        (dropDuplicates on the pair); the only shuffle carries scored
        candidate pairs.  The store IS the serving index — the same
        bucket pruning admission uses would apply here via
        ``store.slice_for``; search reads all buckets because queries
        are arbitrary, but still only (tbl, bucket)-matching rows
        survive the join."""
        from pyspark.sql import Window

        if self._planes_resolved is None and self.planes is None:
            # deriving the index's plane count from a (tiny) query set
            # would bind all future admission to it — refuse instead
            raise ValueError(
                "search_topk before any ingested batch with planes=None: "
                "the index has no resolved plane count yet"
            )
        qsig = self._signatures(queries_df).select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qq"),
            F.col("norm").alias("qnorm"),
            "tbl",
            "sbucket",
        )
        scored = (
            self.index()
            .join(F.broadcast(qsig), ["tbl", "sbucket"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .dropDuplicates(["query_id", "vec_id"])
            .select(
                "query_id",
                "vec_id",
                self._cos4(
                    F.col("qq"), F.col("qnorm"), F.col("q"), F.col("norm")
                ).alias("cosine4"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine4").desc(), F.col("vec_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id", "vec_id", F.col("rank").cast("long").alias("rank"), "cosine4"
            )
        )

    def _resolve_planes(self, batch_df: DataFrame) -> int:
        """One-time plane resolution, durable across batches AND
        restarts (see __init__): explicit ``planes`` wins; ``None``
        derives from the first batch via ``derived_planes`` with the
        same dim // n_tables clamp the batch operators apply (tables
        hash disjoint leading dims — without the clamp table t=1 would
        index past the vector length)."""
        if self._planes_resolved is not None:
            return self._planes_resolved
        dim = _vec_dim(batch_df, self.vec_col, default=4)
        if self.planes is not None:
            planes = self.planes
        else:
            planes = derived_planes(
                batch_df.count(), max(1, dim // max(1, self.n_tables))
            )
        if planes * self.n_tables > dim:
            raise ValueError(
                f"planes ({planes}) * n_tables ({self.n_tables}) sign dims "
                f"exceed the vector dimensionality ({dim})"
            )
        tmp = self._planes_meta + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"planes": planes}, fh)
        os.replace(tmp, self._planes_meta)
        self._planes_resolved = planes
        return planes

    def _signatures(self, batch_df: DataFrame) -> DataFrame:
        """(vec_id, tbl, sbucket, q, norm): one row per vector per hash
        table, quantized payload carried for exact scoring."""
        base = with_quantized(batch_df, self.vec_col)
        planes = self._resolve_planes(batch_df)
        tables = F.array(
            *[sign_bucket(F.col("q"), planes, offset=t * planes) for t in range(self.n_tables)]
        )
        return base.select(
            "vec_id", "q", "norm", F.posexplode(tables).alias("tbl", "sbucket")
        ).select(*self._cols)

    @staticmethod
    def _cos4(qa, na, qb, nb):
        return cosine4(int_dot(qa, qb), na, nb)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._planes_resolved is None and batch_df.isEmpty():
            # an empty FIRST batch must not resolve the plane count:
            # _vec_dim would fall back to its default and either trip
            # the planes*n_tables guard or persist a derived count that
            # binds all future admission to the wrong dimensionality
            # (ADVICE r5).  Nothing to publish; resolve on the first
            # non-empty batch instead.  After resolution empty batches
            # flow through the normal path (no extra isEmpty job).
            self.admitted_batches.append((batch_id, 0))
            return
        sig = self._signatures(batch_df).persist()
        try:
            buckets = self._buckets(sig)
            index_slice = self.store.slice_for(buckets, batch_id)
            bsig = F.broadcast(
                sig.select(
                    F.col("vec_id").alias("b_vec"),
                    F.col("q").alias("bq"),
                    F.col("norm").alias("bn"),
                    "tbl",
                    "sbucket",
                )
            )
            # (a) reject: some INDEX vector shares a (tbl, sbucket) in
            # ANY table and the exact cosine reaches the threshold.
            # Batch side broadcast: the index slice never shuffles.  A
            # pair colliding in several tables is scored once per
            # collision — the cosine is row-local integer math, so
            # re-scoring <= n_tables times is cheaper than the pair-
            # dedup EXCHANGE it used to ride (r11 verify-before-dedup
            # lesson; the trailing distinct on rejected ids is the only
            # dedup the semantics need).
            idx_reject = (
                index_slice.join(bsig, ["tbl", "sbucket"])
                .select("b_vec", "bq", "bn", F.col("vec_id").alias("i_vec"), "q", "norm")
                .filter(
                    self._cos4(F.col("bq"), F.col("bn"), F.col("q"), F.col("norm"))
                    >= self.min_cosine4
                )
                .select(F.col("b_vec").alias("vec_id"))
                .distinct()
            )
            # (b) reject: some smaller-vec_id vector in the SAME batch
            # shares a bucket and reaches the threshold
            a, b = sig.alias("a"), sig.alias("b")
            inb_reject = (
                a.join(
                    b,
                    (F.col("a.tbl") == F.col("b.tbl"))
                    & (F.col("a.sbucket") == F.col("b.sbucket"))
                    & (F.col("a.vec_id") < F.col("b.vec_id")),
                )
                .select(
                    F.col("a.vec_id").alias("va"),
                    F.col("a.q").alias("qa"),
                    F.col("a.norm").alias("na"),
                    F.col("b.vec_id").alias("vb"),
                    F.col("b.q").alias("qb"),
                    F.col("b.norm").alias("nb"),
                )
                .filter(
                    self._cos4(F.col("qa"), F.col("na"), F.col("qb"), F.col("nb"))
                    >= self.min_cosine4
                )
                .select(F.col("vb").alias("vec_id"))
                .distinct()
            )
            admitted = sig.join(idx_reject, "vec_id", "left_anti").join(
                inb_reject, "vec_id", "left_anti"
            )
            self._admit(admitted, batch_id, buckets)
        finally:
            sig.unpersist()
