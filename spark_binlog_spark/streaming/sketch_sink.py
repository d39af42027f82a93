"""Streaming sketch maintenance: count-min term frequencies, HyperLogLog
distinct counts, log-bin histograms, KMV and priority bottom-k sets and
bloom set bits, kept live as documents are ingested.

Every sketch is a MONOID (count-min cells and histogram bins merge by
SUM, HLL registers by MAX, bottom-k sets by union-then-retake, bloom
bits by union), which is exactly the shape a continuous-ingest pipeline
needs: each micro-batch contributes one bounded delta, the store is
bounded at that size FOREVER, and the corpus is read once, at ingest.
A 100 TB pipeline serves "how often has this term appeared so far" and
"how many distinct terms per source" with zero corpus re-reads.  Replay
and crash safety come from ``MergeableStore`` (streaming/store.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_binlog_spark.functions.sketch import (
    KMV_K,
    PRIORITY_K,
    cms_build,
    cms_estimate,
    hist_build,
    hist_quantiles,
    hll_estimate,
    hll_registers,
    kmv_jaccard,
    kmv_sketch,
    priority_sample,
    token_count_expr,
)
from spark_binlog_spark.streaming.store import MergeableStore


class CmsSketchSink(MergeableStore):
    """foreachBatch sink maintaining a count-min term-frequency grid.

    ``grid()`` -> (row, col, cnt); ``estimate(terms)`` -> the same
    contract as the batch ``cms_estimate`` over ``cms_build``, so a
    stream ingested to completion answers point queries bit-identically
    to the one-shot batch sketch."""

    schema = "row long, col long, cnt long"
    keys = ("row", "col")
    merge = "sum"

    def _delta(self, batch_df, batch_id):
        return cms_build(batch_df)

    def grid(self) -> DataFrame:
        return self._stats().select("row", "col", "cnt")

    def estimate(self, terms: DataFrame) -> DataFrame:
        """Point-query the LIVE grid for a small term relation —
        (term, est_cnt), zero corpus reads."""
        return cms_estimate(self.grid(), terms)


class HllSketchSink(MergeableStore):
    """foreachBatch sink maintaining per-source HLL register tables.

    ``registers()`` -> (source, idx, m_rho); ``distinct_counts()`` -> the
    same contract as the batch ``hll_estimate`` over
    ``hll_registers``, so a stream ingested to completion estimates
    bit-identically to the one-shot batch sketch."""

    schema = "source string, idx long, m_rho long"
    keys = ("source", "idx")
    merge = "max"

    def _delta(self, batch_df, batch_id):
        return hll_registers(batch_df)

    def registers(self) -> DataFrame:
        return self._stats().select("source", "idx", "m_rho")

    def distinct_counts(self) -> DataFrame:
        """(source, n_registers, est_distinct) served off the LIVE
        registers — zero corpus reads."""
        return hll_estimate(self.registers())


class HistSketchSink(MergeableStore):
    """foreachBatch sink maintaining per-source log-bin token-count
    histograms (functions/sketch.py hist_build) — the additive
    quantile-sketch monoid: each micro-batch contributes <= |sources| *
    2^11 bin rows, and ``quantiles()`` serves p50/p90/p99 off the
    bounded store with zero corpus reads."""

    schema = "source string, bin_id long, cnt long"
    keys = ("source", "bin_id")
    merge = "sum"

    def _delta(self, batch_df, batch_id):
        return hist_build(batch_df)

    def histogram(self) -> DataFrame:
        return self._stats().select("source", "bin_id", "cnt")

    def quantiles(self) -> DataFrame:
        """(source, total, p50, p90, p99) served off the LIVE histogram —
        zero corpus reads."""
        return hist_quantiles(self.histogram())


class KmvSketchSink(MergeableStore):
    """foreachBatch sink maintaining per-source KMV bottom-k hash sets
    (functions/sketch.py kmv_sketch) — the set-operation sketch: the
    store is <= |sources| * k hashes forever, and ``jaccard()`` serves
    the pairwise cross-source similarity matrix off the live store with
    zero corpus reads."""

    schema = "source string, h long"
    keys = ("source",)
    merge = "bottom-k"
    order = ("h",)
    k = KMV_K

    def _delta(self, batch_df, batch_id):
        return kmv_sketch(batch_df)

    def sketch(self) -> DataFrame:
        return self._stats().select("source", "h")

    def jaccard(self) -> DataFrame:
        """(src_a, src_b, kk, inter, jacc4) served off the LIVE
        bottom-k store — zero corpus reads."""
        return kmv_jaccard(self.sketch())


class PrioritySampleSink(MergeableStore):
    """foreachBatch sink maintaining per-source token-weighted priority
    samples (functions/sketch.py priority_sample): the store is the k
    lowest-priority documents per source — a union-retake monoid like
    KMV, so the live sample over all batches equals the one-shot batch
    sample over their distinct documents.  A document ingested again
    unchanged is kept once (a sample without replacement); the one-shot
    sample over the concatenated batches would hold it twice.  A 100 TB
    pipeline keeps a statistically-valid weighted sample of everything
    it ever ingested in |sources| * k rows, with zero corpus re-reads."""

    schema = "source string, doc_id long, weight long, priority long"
    keys = ("source",)
    merge = "bottom-k"
    order = ("priority", "doc_id")
    k = PRIORITY_K

    def _delta(self, batch_df, batch_id):
        return priority_sample(batch_df, weight=F.expr(token_count_expr()), k=self.k)

    def sample(self) -> DataFrame:
        """The LIVE weighted sample — zero corpus reads."""
        return self._stats().select(*self._cols)


class BloomBitsSink(MergeableStore):
    """foreachBatch sink growing a bloom-filter's set-bit relation as
    benchmark/eval suites arrive (functions/dedup.py bloom_bits): the
    store is the DISTINCT set-bit positions — bounded by the 2^22-bit
    filter forever, merged by union (idempotent) — and ``probe(docs)``
    runs the same broadcast decontamination sweep as the one-shot
    batch filter.  The operational story at 100 TB: eval suites are
    ADDED over time, and the filter absorbs each addition as one tiny
    delta instead of a full rebuild.  An optional ``where`` expression
    routes only benchmark rows into the filter at ingest."""

    schema = "bit long"
    merge = "distinct-union"

    def __init__(self, spark, stats_dir, where: str | None = None, resume: bool = True):
        self.where = where
        super().__init__(spark, stats_dir, resume)

    def _delta(self, batch_df, batch_id):
        from spark_binlog_spark.functions.dedup import bloom_bits

        return bloom_bits(batch_df.where(self.where) if self.where else batch_df)

    def bits(self) -> DataFrame:
        return self._stats().select("bit")

    def probe(self, docs: DataFrame) -> DataFrame:
        """Decontaminate a corpus against the LIVE filter — identical
        plan to the one-shot batch bloom sweep."""
        from spark_binlog_spark.functions.dedup import bloom_probe

        return bloom_probe(docs, self.bits())
