"""Streaming DSIR model maintenance: the hashed-n-gram importance
model (Xie et al. 2023) kept live as documents are ingested.

DSIR's expensive piece at 100 TB is estimating the target/raw bucket
distributions — a full-corpus gram explode.  Those distributions are
PURELY ADDITIVE (p/q are gram-instance counts per hash bucket), so a
continuous-ingest pipeline maintains them incrementally: each
micro-batch contributes one tiny (≤ DSIR_BUCKETS rows) delta, merged
into a store that is bounded at DSIR_BUCKETS rows forever.  Scoring
(the cheap piece — one explode against a broadcast table) runs on
demand against the CURRENT model via ``score``; the importance table
itself serves from ``importance_table`` with zero corpus reads.  The
target is English (``lang = 'en'``), as in the batch
``dsir_importance``.  Replay and crash safety come from
``MergeableStore`` (streaming/store.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_binlog_spark.functions.text import (
    dsir_gram_buckets,
    dsir_lr_table,
    dsir_score,
)
from spark_binlog_spark.streaming.store import MergeableStore


class DsirModelSink(MergeableStore):
    """foreachBatch sink maintaining the DSIR bucket distributions.

    ``importance_table()`` -> (bucket, lr4); ``score(df)`` -> the same
    contract as the batch ``dsir_importance``, so a stream ingested to
    completion scores bit-identically to the one-shot batch estimate.
    """

    schema = "bucket long, p long, q long"
    keys = ("bucket",)
    merge = "sum"

    def _delta(self, batch_df, batch_id):
        return (
            dsir_gram_buckets(batch_df)
            .groupBy("bucket")
            .agg(
                F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("p"),
                F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("q"),
            )
        )

    def distributions(self) -> DataFrame:
        return self._stats().select("bucket", "p", "q")

    def importance_table(self) -> DataFrame:
        """(bucket, lr4) from the live store — ≤ DSIR_BUCKETS rows, zero
        corpus reads."""
        return dsir_lr_table(self.distributions())

    def score(self, df: DataFrame) -> DataFrame:
        """Score any document relation against the CURRENT model —
        dsir_importance's exact output contract served from the store."""
        return dsir_score(dsir_gram_buckets(df), self.importance_table())
