"""Streaming NEAR-duplicate admission sink: per micro-batch, LSH band
join the batch's MinHash signatures against a banded signature index of
everything admitted so far; drop batch docs that agree with any
admitted doc (or an earlier doc in their own batch) on >= ``min_agree``
of ``n_hashes`` bands; append the survivors' bands to the index.

The streaming counterpart of the batch MinHash-LSH pair query
(functions/dedup.py ``minhash_candidate_pairs``), with the same
linear-permutation signature family — and the near-dup sibling of the
exact-fingerprint ``DedupIngestSink``.  Identical texts agree on all
bands, so near-dup admission subsumes exact admission.

Admission semantics (the spec the oracle mirrors) — batch-sequential:
  * the index holds ONLY previously-ADMITTED docs' signatures;
  * a batch doc is rejected iff (a) some single index doc agrees with
    it on >= min_agree bands, or (b) some smaller-doc_id doc IN ITS OWN
    BATCH agrees on >= min_agree bands (deterministic in-batch tie
    rule — compared against all smaller ids, admitted or not);
  * survivors' signature rows are appended, becoming the index for the
    next batch.

Exactly-once: foreachBatch is at-least-once.  Publication is ATOMIC
PER BATCH via the shared ``BucketedDeltaStore`` (aside write + one
``os.replace`` dir rename, unique name per attempt), so a crash
mid-publish leaves nothing visible and the replay recomputes the
identical admitted set.  A replayed already-published batch
self-matches the index on all n_hashes bands (n_hashes >= min_agree)
and admits nothing.  The index-side agree count uses
countDistinct(seed) so even duplicate signature rows (two successful
publishes of one attempt can't happen, but belt+braces) never inflate
agreement.

Scale — the index is banded AND bucketed: rows live under
``d_b<batch>_<attempt>/bucket=K`` with ``K = minhash % n_buckets``,
and the admission join reads ONLY the bucket dirs the batch's own
band values hash into (the probe key IS the bucket key).  Per-batch
read I/O is O(index ∩ batch buckets), write I/O O(admitted batch);
nothing is ever rewritten.  The batch side of the band join is
micro-batch-sized and broadcast, so the index slice is never shuffled.
Compaction is a distributed Spark job (see banded_store.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_binlog_spark.functions.dedup import N_MINHASH, minhash_signatures
from spark_binlog_spark.streaming.banded_store import BucketedDeltaStore

SIG_COLS = ["doc_id", "seed", "minhash"]
SIG_SCHEMA = "doc_id long, seed int, minhash long"


class NearDupIngestSink:
    """foreachBatch sink: admit only documents that are not MinHash
    near-duplicates of anything admitted so far (reference-free
    training-data-pipeline machinery, like DedupIngestSink)."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        min_agree: int = 2,
        n_hashes: int = N_MINHASH,
        n_buckets: int = 16,
        compact_threshold: int = 8,
    ):
        if min_agree > n_hashes:
            raise ValueError("min_agree must be <= n_hashes for replay idempotence")
        self.spark = spark
        self.store_dir = store_dir
        self.min_agree = min_agree
        self.n_hashes = n_hashes
        self.n_buckets = n_buckets
        self.store = BucketedDeltaStore(
            spark, store_dir, SIG_SCHEMA, n_buckets, compact_threshold
        )
        self.admitted_batches: list[tuple[int, int]] = []  # (batch_id, n_admitted)

    @property
    def admitted_rows(self) -> int:
        return sum(n for _, n in self.admitted_batches)

    @property
    def scan_stats(self) -> list[tuple[int, int, int]]:
        return self.store.scan_stats

    @property
    def n_compactions(self) -> int:
        return self.store.n_compactions

    def index(self) -> DataFrame:
        """Full signature index (every admitted doc × n_hashes bands)."""
        return self.store.read_all()

    def accepted(self) -> DataFrame:
        """Admitted doc_ids (distinct over the signature index)."""
        return self.index().select("doc_id").distinct()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.min_agree >= 2:
            self._admit_combos(batch_df, batch_id)
            return
        self._admit_r1(batch_df, batch_id)

    def _admit_combos(self, batch_df: DataFrame, batch_id: int) -> None:
        """r=2 combination-banded admission (r13, after the sf10 soak):
        the r=1 (seed, minhash) index join generated ~50M verify rows
        per 125k-doc batch (marginal minhash values concentrate — the
        same trap minhash_candidate_pairs fixed in r12) and the
        agreement count needed a groupBy over all of them.  With
        min_agree >= 2, a rejecting pair shares a full seed-PAIR
        combination (pigeonhole), so the index join can run on combo
        keys, where candidates track TRUE near-pairs; both sides carry
        their full signature vectors, so n_agree is computed inside the
        join stage — no counting aggregation at all.

        The store layout is UNCHANGED (doc_id, seed, minhash bucketed
        by minhash % n_buckets): the pruned slice is pivoted back to
        wide per doc ON THE FLY (one doc-keyed aggregation over the
        slice — thousands of times smaller than the old candidate
        relation).  Pruning stays correct under the pivot: a slice
        bucket is read iff some batch minhash maps to it, and any
        AGREEING seed's value equals a batch value, so every agreeing
        seed's row is guaranteed present; absent seeds cannot agree and
        count 0 via coalesce.  Admission semantics identical to the r=1
        path (same predicate; streamed oracle + soak batteries pin it);
        min_agree=1 keeps the r=1 join, where a single shared band must
        reject."""
        from spark_binlog_spark.functions.dedup import (
            minhash_pairs_from_wide,
            minhash_signatures_wide,
        )

        n = self.n_hashes
        cols = [f"mh{i}" for i in range(n)]
        wide = minhash_signatures_wide(batch_df, n_hashes=n).persist()
        try:
            stack = ", ".join(f"{i}, mh{i}" for i in range(n))
            sig = wide.select(
                "doc_id", F.expr(f"stack({n}, {stack}) AS (seed, minhash)")
            ).select("doc_id", F.col("seed").cast("int").alias("seed"), "minhash")
            buckets = sorted(
                r[0]
                for r in sig.select(
                    F.pmod(F.col("minhash"), F.lit(self.n_buckets)).cast("int").alias("b")
                )
                .distinct()
                .collect()
            )
            index_slice = self.store.slice_for(buckets, batch_id)
            iwide = index_slice.groupBy("doc_id").agg(
                *[
                    F.max(F.when(F.col("seed") == i, F.col("minhash"))).alias(f"i{c}")
                    for i, c in enumerate(cols)
                ]
            )
            combos = [(i, j) for i in range(n) for j in range(i + 1, n)]

            def combo_rows(df, idc, pfx):
                return df.select(
                    F.col("doc_id").alias(idc),
                    *[F.col(f"{pfx}{c}" if pfx else c) for c in cols],
                    F.explode(
                        F.array(
                            *[
                                F.struct(
                                    F.lit(k).alias("cid"),
                                    F.col(f"{pfx}{cols[i]}" if pfx else cols[i]).alias("u"),
                                    F.col(f"{pfx}{cols[j]}" if pfx else cols[j]).alias("v"),
                                )
                                for k, (i, j) in enumerate(combos)
                            ]
                        )
                    ).alias("cb"),
                ).select(
                    idc,
                    *[f"{pfx}{c}" if pfx else c for c in cols],
                    F.col("cb.cid").alias("cid"),
                    F.col("cb.u").alias("u"),
                    F.col("cb.v").alias("v"),
                ).filter(F.col("u").isNotNull() & F.col("v").isNotNull())

            bc = combo_rows(wide, "b_doc", "")
            ic = combo_rows(iwide, "i_doc", "i")
            n_agree = sum(
                F.coalesce(
                    (F.col(c) == F.col(f"i{c}")).cast("int"), F.lit(0)
                )
                for c in cols
            )
            idx_reject = (
                ic.join(bc, ["cid", "u", "v"])
                .filter(n_agree >= self.min_agree)
                .select(F.col("b_doc").alias("doc_id"))
                .distinct()
            )
            inb_reject = (
                minhash_pairs_from_wide(wide, n_hashes=n, min_agree=self.min_agree)
                .select(F.col("doc_b").alias("doc_id"))
                .distinct()
            )
            admitted = (
                sig.join(idx_reject, "doc_id", "left_anti")
                .join(inb_reject, "doc_id", "left_anti")
                .withColumn(
                    "bucket", F.pmod(F.col("minhash"), F.lit(self.n_buckets)).cast("int")
                )
                .persist()
            )
            try:
                n_docs = admitted.select("doc_id").distinct().count()
                if n_docs == 0:
                    self.admitted_batches.append((batch_id, 0))
                    return
                self.store.publish(admitted, SIG_COLS, batch_id)
                self.admitted_batches.append((batch_id, n_docs))
                self.store.maybe_compact(buckets)
            finally:
                admitted.unpersist()
        finally:
            wide.unpersist()

    def _admit_r1(self, batch_df: DataFrame, batch_id: int) -> None:
        sig = minhash_signatures(batch_df, n_hashes=self.n_hashes).persist()
        try:
            # ≤ n_buckets scalars to the driver — a plan step, not data
            buckets = sorted(
                r[0]
                for r in sig.select(
                    F.pmod(F.col("minhash"), F.lit(self.n_buckets)).cast("int").alias("b")
                )
                .distinct()
                .collect()
            )
            index_slice = self.store.slice_for(buckets, batch_id)
            # (a) reject: some single INDEX doc agrees on >= min_agree
            # bands.  Batch side broadcast — the index slice never
            # shuffles; countDistinct(seed) so duplicate index rows
            # can never inflate agreement.
            idx_reject = (
                index_slice.join(
                    F.broadcast(sig.select(F.col("doc_id").alias("b_doc"), "seed", "minhash")),
                    ["seed", "minhash"],
                )
                .groupBy("b_doc", "doc_id")
                .agg(F.countDistinct("seed").alias("n_agree"))
                .filter(F.col("n_agree") >= self.min_agree)
                .select(F.col("b_doc").alias("doc_id"))
                .distinct()
            )
            # (b) reject: some smaller-doc_id doc in the SAME batch
            # agrees on >= min_agree bands (deterministic tie rule)
            a, b = sig.alias("a"), sig.alias("b")
            inb_reject = (
                a.join(
                    b,
                    (F.col("a.seed") == F.col("b.seed"))
                    & (F.col("a.minhash") == F.col("b.minhash"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")),
                )
                .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
                .agg(F.count("*").alias("n_agree"))
                .filter(F.col("n_agree") >= self.min_agree)
                .select(F.col("db").alias("doc_id"))
                .distinct()
            )
            admitted = (
                sig.join(idx_reject, "doc_id", "left_anti")
                .join(inb_reject, "doc_id", "left_anti")
                .withColumn(
                    "bucket", F.pmod(F.col("minhash"), F.lit(self.n_buckets)).cast("int")
                )
                .persist()
            )
            try:
                n_docs = admitted.select("doc_id").distinct().count()
                if n_docs == 0:
                    self.admitted_batches.append((batch_id, 0))
                    return
                self.store.publish(admitted, SIG_COLS, batch_id)
                self.admitted_batches.append((batch_id, n_docs))
                # only the buckets this batch touched can have grown
                self.store.maybe_compact(buckets)
            finally:
                admitted.unpersist()
        finally:
            sig.unpersist()
