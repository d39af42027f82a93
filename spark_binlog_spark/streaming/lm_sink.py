"""Streaming character-trigram LM model maintenance: the CCNet-style
quality stack (Wenzek et al. 2020) kept live as documents are ingested.

The LM behind the perplexity-analogue quality score is a corpus
trigram-count table — PURELY ADDITIVE and bounded by |charset|³ rows no
matter the corpus size, so a continuous-ingest pipeline maintains it
incrementally: each micro-batch contributes one tiny delta, and the
bigram (prefix) table DERIVES from the trigram table at serve time
(each prefix's count = the sum of its extensions' counts — see
``text.lm_score``).  ``familiarity`` scores any relation against the
CURRENT model; ``quality_buckets`` serves the full CCNet head/middle/
tail tercile assignment off it.  Replay and crash safety come from
``MergeableStore`` (streaming/store.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from spark_binlog_spark.functions.text import (
    ccnet_cut_buckets,
    lm_score,
    lm_tri_counts,
)
from spark_binlog_spark.streaming.store import MergeableStore


class LmModelSink(MergeableStore):
    """foreachBatch sink maintaining the trigram-count LM model.

    A stream ingested to completion scores (and buckets) bit-identically
    to the one-shot batch ``lm_familiarity`` / ``ccnet_buckets``.
    """

    # packed integer trigram key (text.lm_positions r13):
    # cp1*2^42 + cp2*2^21 + cp3 — exact bijection with the 3-char
    # substring, long hash/join keys in every pass
    schema = "tri long, c_tri long"
    keys = ("tri",)
    merge = "sum"

    def _delta(self, batch_df, batch_id):
        return lm_tri_counts(batch_df)

    def model(self) -> DataFrame:
        """(tri, c_tri) — the live model, ≤ |charset|³ rows."""
        return self._stats().select("tri", "c_tri")

    def familiarity(self, df: DataFrame) -> DataFrame:
        """lm_familiarity's exact output contract served from the live
        model — the corpus is scanned once, the model broadcasts (or
        ships as a gated driver collect on the vectorized fast path)."""
        return lm_score(df, self.model())

    def quality_buckets(self, df: DataFrame) -> DataFrame:
        """ccnet_buckets' exact output contract served from the live
        model: score + histogram-cut terciles, zero model recompute."""
        fam = self.familiarity(df)
        return ccnet_cut_buckets(df.select("doc_id", "lang").join(fam, "doc_id"))
