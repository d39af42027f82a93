"""Streaming SimHash near-duplicate admission sink: per micro-batch,
hamming-LSH band join the batch's 16-bit SimHash signatures against a
banded index of everything admitted so far; drop batch docs within
``max_hamming`` of any admitted doc (or of an earlier doc in their own
batch); append the survivors' bands to the index.

The hamming sibling of the MinHash ``NearDupIngestSink`` — same
``BucketedDeltaStore`` layout, publish protocol, and distributed
compaction — swapping the signature family: one 16-bit bit-majority
SimHash per doc (functions/dedup.py ``simhash``), split into
``bands`` equal bands.  The classic pigeonhole argument makes banded
candidacy COMPLETE: any pair within hamming < bands agrees exactly on
at least one band, so with ``max_hamming < bands`` (enforced) the
admission semantics are EXACTLY "rejected iff hamming <= max_hamming
against the admitted index / a smaller-id batch doc" — which is why
the oracle can recompute admission with pure hamming joins, no
banding.

Exactly-once: foreachBatch is at-least-once; publication is atomic
per batch via the store.  A replayed already-published batch
self-matches at hamming 0 <= max_hamming and admits nothing.

Scale: rows live under ``d_*/bucket=K`` with
``K = (band_val * bands + band_idx) % n_buckets`` — the probe key IS
the bucket key, so per-batch read I/O is O(index ∩ batch buckets).
The batch side of the band join is broadcast; the index slice never
shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_binlog_spark.functions.dedup import simhash
from spark_binlog_spark.streaming.banded_store import AdmissionSink


class SimHashIngestSink(AdmissionSink):
    """foreachBatch sink: admit only documents that are not SimHash
    near-duplicates (hamming <= max_hamming) of anything admitted so
    far."""

    schema = "doc_id long, band_idx int, band_val long, simhash16 long"

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        max_hamming: int = 2,
        bits: int = 16,
        bands: int = 4,
        n_buckets: int = 16,
        compact_threshold: int = 8,
    ):
        if max_hamming >= bands:
            raise ValueError(
                "max_hamming must be < bands (pigeonhole completeness — and a "
                "replayed doc must band-match itself)"
            )
        if bits % bands != 0:
            raise ValueError("bands must evenly divide bits")
        super().__init__(spark, store_dir, n_buckets, compact_threshold)
        self.max_hamming = max_hamming
        self.bits = bits
        self.bands = bands

    @property
    def rows_per_doc(self) -> int:
        return self.bands  # one row per band

    def _key(self, band_idx: Column | None = None, band_val: Column | None = None) -> Column:
        """Probe key of a (band_idx, band_val) pair; a stored row's own
        columns by default."""
        if band_idx is None:
            band_idx, band_val = F.col("band_idx"), F.col("band_val")
        return band_val * self.bands + band_idx

    def _band(self, sig: Column, i: int) -> Column:
        width = self.bits // self.bands
        return F.shiftright(sig, i * width).bitwiseAND(F.lit((1 << width) - 1)).cast("long")

    @staticmethod
    def _hamming(a, b):
        return F.bit_count(a.bitwiseXOR(b)).cast("long")

    def _neighbor_masks(self) -> list[int] | None:
        """All XOR masks within ``max_hamming`` of zero — the exact
        neighbor enumeration for small signature spaces (sum of
        C(bits, k) for k <= max_hamming; 16 bits / hamming 2 -> 137).
        None when the enumeration would be large (wide signatures),
        where the banded join is the right shape because band values
        are high-entropy (the r12 strategy-by-entropy lesson)."""
        import itertools
        import math

        n = sum(math.comb(self.bits, k) for k in range(self.max_hamming + 1))
        if n > 4096:
            return None
        masks = [0]
        for k in range(1, self.max_hamming + 1):
            for bits in itertools.combinations(range(self.bits), k):
                m = 0
                for b in bits:
                    m |= 1 << b
                masks.append(m)
        return masks

    def _admit_enumerated(self, batch_df: DataFrame, batch_id: int, masks: list[int]) -> None:
        """VALUE-level admission via exact neighbor enumeration (r13,
        found by the sf10 sink soak): the id-level banded self-join
        died at 125k docs/batch — a 16-bit signature space saturates,
        so each of the 64 (band_idx, band_val) buckets held ~7.8k docs
        and the in-batch join alone generated ~2e9 candidate rows
        (the r12 'band the VALUES, not the ids' trap, in sink form).
        With <= 2^bits distinct signatures and a 137-mask neighbor set,
        admission needs NO pair join at all:

          probes  = distinct batch sigs x masks (sig XOR mask)
          index   : reject sigs whose probe set intersects the distinct
                    index sigs (broadcast <= 2^bits rows)
          in-batch: canon(sig) = min over probe-reachable batch sigs of
                    their min doc_id; reject doc iff canon < doc_id —
                    exactly 'a smaller-id batch doc within hamming'

        Everything is a broadcast join against <= 2^bits-row relations;
        the only shuffle is the canon partial-min aggregation over
        |distinct sigs| x |masks| narrow rows.  Semantics are identical
        to the banded path (both compute the same hamming predicate;
        the streamed oracle recomputes admission with pure hamming
        joins and still matches)."""
        flat = simhash(batch_df, bits=self.bits).persist()  # (doc_id, simhash16)
        try:
            dsig = flat.select("simhash16").distinct()
            # one SQL array of the masks: see DEVNOTES "Spark pitfalls"
            mks = ", ".join(f"CAST({m} AS BIGINT)" for m in masks)
            probes = dsig.selectExpr("simhash16", f"explode(array({mks})) AS mk").selectExpr(
                "simhash16", "simhash16 ^ mk AS probe"
            )
            # buckets any probe's bands map to (the index rows a matching
            # sig would live in)
            buckets = self._buckets(
                probes,
                *[self._key(F.lit(i), self._band(F.col("probe"), i)) for i in range(self.bands)],
            )
            index_slice = self.store.slice_for(buckets, batch_id)
            idx_sigs = index_slice.select(F.col("simhash16").alias("probe")).distinct()
            hit_sigs = (
                probes.join(F.broadcast(idx_sigs), "probe")
                .select("simhash16")
                .distinct()
            )
            per = flat.groupBy("simhash16").agg(F.min("doc_id").alias("m"))
            canon = (
                probes.join(
                    F.broadcast(per.select(F.col("simhash16").alias("probe"), "m")),
                    "probe",
                )
                .groupBy("simhash16")
                .agg(F.min("m").alias("canon"))
            )
            admitted_docs = (
                flat.join(F.broadcast(hit_sigs), "simhash16", "left_anti")
                .join(F.broadcast(canon), "simhash16")
                .filter(F.col("canon") >= F.col("doc_id"))
                .select("doc_id", "simhash16")
            )
            self._admit(self._banded(admitted_docs), batch_id, buckets)
        finally:
            flat.unpersist()

    def _signatures(self, batch_df: DataFrame) -> DataFrame:
        return self._banded(simhash(batch_df, bits=self.bits))

    def _banded(self, flat: DataFrame) -> DataFrame:
        """One stored row per band of each (doc_id, simhash16)."""
        banded = F.array(
            *[
                F.struct(
                    F.lit(i).cast("int").alias("band_idx"),
                    self._band(F.col("simhash16"), i).alias("band_val"),
                )
                for i in range(self.bands)
            ]
        )
        return flat.select("doc_id", "simhash16", F.explode(banded).alias("b")).select(
            "doc_id", "b.band_idx", "b.band_val", "simhash16"
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        masks = self._neighbor_masks()
        if masks is not None:
            self._admit_enumerated(batch_df, batch_id, masks)
            return
        sig = self._signatures(batch_df).persist()
        try:
            buckets = self._buckets(sig)
            index_slice = self.store.slice_for(buckets, batch_id)
            bsig = F.broadcast(
                sig.select(
                    F.col("doc_id").alias("b_doc"),
                    F.col("simhash16").alias("b_sim"),
                    "band_idx",
                    "band_val",
                )
            )
            # (a) reject: some INDEX doc shares a band within hamming.
            # dropDuplicates before the popcount: a close pair shares
            # several bands, score it once.
            idx_reject = (
                index_slice.join(bsig, ["band_idx", "band_val"])
                .select("b_doc", "b_sim", F.col("doc_id").alias("i_doc"), "simhash16")
                .dropDuplicates(["b_doc", "i_doc"])
                .filter(
                    self._hamming(F.col("b_sim"), F.col("simhash16"))
                    <= self.max_hamming
                )
                .select(F.col("b_doc").alias("doc_id"))
                .distinct()
            )
            # (b) reject: smaller-doc_id doc in the SAME batch
            a, b = sig.alias("a"), sig.alias("b")
            inb_reject = (
                a.join(
                    b,
                    (F.col("a.band_idx") == F.col("b.band_idx"))
                    & (F.col("a.band_val") == F.col("b.band_val"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")),
                )
                .select(
                    F.col("a.doc_id").alias("da"),
                    F.col("a.simhash16").alias("sa"),
                    F.col("b.doc_id").alias("db"),
                    F.col("b.simhash16").alias("sb"),
                )
                .dropDuplicates(["da", "db"])
                .filter(self._hamming(F.col("sa"), F.col("sb")) <= self.max_hamming)
                .select(F.col("db").alias("doc_id"))
                .distinct()
            )
            admitted = sig.join(idx_reject, "doc_id", "left_anti").join(
                inb_reject, "doc_id", "left_anti"
            )
            self._admit(admitted, batch_id, buckets)
        finally:
            sig.unpersist()
