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

Banding: ``2 <= min_agree <= n_hashes`` (enforced).  A rejecting pair
shares a full seed-PAIR combination (pigeonhole), so both joins run on
combination keys, as the batch ``minhash_pairs_from_wide`` does.

Exactly-once: foreachBatch is at-least-once.  Publication is ATOMIC
PER BATCH via the shared ``BucketedDeltaStore`` (banded_store.py), so
a crash mid-publish leaves nothing visible and the replay recomputes
the identical admitted set.  A replayed already-published batch
self-matches the index on all n_hashes bands (n_hashes >= min_agree)
and admits nothing.  Duplicate index rows (a crashed compaction) never
inflate agreement: the index slice is pivoted to one wide row per doc.

Scale — the index is banded AND bucketed: rows live under
``d_*/bucket=K`` with ``K = minhash % n_buckets``, and the admission
join reads ONLY the bucket dirs the batch's own band values hash into
(the probe key IS the bucket key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_binlog_spark.functions.dedup import (
    N_MINHASH,
    combo_structs,
    minhash_pairs_from_wide,
    minhash_signatures_wide,
)
from spark_binlog_spark.streaming.banded_store import AdmissionSink


class NearDupIngestSink(AdmissionSink):
    """foreachBatch sink: admit only documents that are not MinHash
    near-duplicates of anything admitted so far (reference-free
    training-data-pipeline machinery, like DedupIngestSink)."""

    schema = "doc_id long, seed int, minhash long"

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        min_agree: int = 2,
        n_hashes: int = N_MINHASH,
        n_buckets: int = 16,
        compact_threshold: int = 8,
    ):
        if not 2 <= min_agree <= n_hashes:
            raise ValueError(
                f"combination banding needs 2 <= min_agree <= n_hashes "
                f"(got min_agree={min_agree}, n_hashes={n_hashes})"
            )
        super().__init__(spark, store_dir, n_buckets, compact_threshold)
        self.min_agree = min_agree
        self.n_hashes = n_hashes

    @property
    def rows_per_doc(self) -> int:
        return self.n_hashes  # one (seed, minhash) row per hash

    def _key(self) -> Column:
        return F.col("minhash")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        """Combination-banded admission: a rejecting pair shares a full
        seed-PAIR combination (pigeonhole), so the index join runs on
        combo keys, where candidates track TRUE near-pairs (marginal
        minhash values concentrate, so single-seed keys would not);
        both sides carry their full signature vectors, so n_agree is
        computed inside the join stage — no counting aggregation at
        all.

        The store layout is (doc_id, seed, minhash) bucketed by
        minhash % n_buckets: the pruned slice is pivoted back to wide
        per doc ON THE FLY (one doc-keyed aggregation over the slice).
        Pruning stays correct under the pivot: a slice bucket is read
        iff some batch minhash maps to it, and any AGREEING seed's
        value equals a batch value, so every agreeing seed's row is
        guaranteed present; absent seeds cannot agree and count 0 via
        coalesce."""
        n = self.n_hashes
        cols = [f"mh{i}" for i in range(n)]
        wide = minhash_signatures_wide(batch_df, n_hashes=n).persist()
        try:
            # SQL text throughout: see DEVNOTES "Spark pitfalls"
            stack = ", ".join(f"{i}, mh{i}" for i in range(n))
            sig = wide.selectExpr(
                "doc_id", f"stack({n}, {stack}) AS (seed, minhash)"
            ).selectExpr("doc_id", "CAST(seed AS INT) AS seed", "minhash")
            buckets = self._buckets(sig)
            index_slice = self.store.slice_for(buckets, batch_id)
            iwide = index_slice.groupBy("doc_id").agg(
                *[
                    F.expr(f"max(CASE WHEN seed = {i} THEN minhash END) AS i{c}")
                    for i, c in enumerate(cols)
                ]
            )

            def combo_rows(df, idc, pfx):
                pcols = [f"{pfx}{c}" for c in cols]
                return (
                    df.selectExpr(
                        f"doc_id AS {idc}",
                        *pcols,
                        f"explode(array({combo_structs(pcols)})) AS cb",
                    )
                    .selectExpr(idc, *pcols, "cb.cid", "cb.u", "cb.v")
                    .where("u IS NOT NULL AND v IS NOT NULL")
                )

            bc = combo_rows(wide, "b_doc", "")
            ic = combo_rows(iwide, "i_doc", "i")
            n_agree = " + ".join(f"coalesce(CAST({c} = i{c} AS INT), 0)" for c in cols)
            idx_reject = (
                ic.join(bc, ["cid", "u", "v"])
                .where(f"{n_agree} >= {self.min_agree}")
                .selectExpr("b_doc AS doc_id")
            )
            inb_reject = minhash_pairs_from_wide(
                wide, n_hashes=n, min_agree=self.min_agree
            ).selectExpr("doc_b AS doc_id")
            # one anti-join, no distinct: a left-anti join's output does
            # not depend on duplicates on its right side
            admitted = sig.join(idx_reject.unionByName(inb_reject), "doc_id", "left_anti")
            self._admit(admitted, batch_id, buckets)
        finally:
            wide.unpersist()
