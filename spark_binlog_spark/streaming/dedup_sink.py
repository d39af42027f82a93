"""Streaming ingest-dedup sink: admit each micro-batch's documents
only if their normalized-content fingerprint is new.

The streaming counterpart of the batch ``q_incremental_dedup`` shape
(anti-join against a fingerprint index): the ACCEPTED STORE *is* the
index — admitted docs are stored with their fingerprint column, so one
relation serves both roles and the whole admission step is one
anti-join + one in-batch first-copy window per micro-batch.  No
full-corpus rescan ever happens.

Exactly-once: foreachBatch is at-least-once under hard crashes.  The
sink is idempotent because admission anti-joins against the published
store: a replayed batch finds its own fingerprints already present and
admits nothing.  The store, its atomic per-batch publish and its
distributed compaction are ``BucketedDeltaStore`` (banded_store.py),
bucketed by ``fp48 % n_buckets``: per micro-batch, admission reads
ONLY the bucket directories the batch's own fingerprints hash into.
At real corpus scale raise ``n_buckets`` so each bucket dir stays a
few files wide.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_binlog_spark.functions.text import fingerprint
from spark_binlog_spark.streaming.banded_store import AdmissionSink


class DedupIngestSink(AdmissionSink):
    """foreachBatch sink: dedup a document stream against everything
    accepted so far (reference-free — this is pipeline machinery the
    training-data extensions add on top of the CDC engine)."""

    schema = "doc_id long, fp_md5 string, fp48 long"
    rows_per_doc = 1

    def _key(self) -> Column:
        return F.col("fp48")

    def accepted(self) -> DataFrame:
        """The full deduplicated corpus (doc_id, fp_md5, fp48).
        dropDuplicates: a crash between a compaction's merged-delta
        publish and the old-file deletes can leave the same rows twice;
        admission is unaffected (anti-join), and the distinct restores
        exact set semantics here."""
        return self.index().dropDuplicates()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # in-batch first copy (smallest doc_id per fingerprint)
        w = Window.partitionBy("fp_md5").orderBy("doc_id")
        firsts = (
            fingerprint(batch_df)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .persist()
        )
        try:
            buckets = self._buckets(firsts)
            # ...then anti-join ONLY the matching store buckets;
            # replayed batches find their own fingerprints and admit
            # nothing (idempotence)
            fresh = firsts.join(
                self.store.slice_for(buckets, batch_id), "fp_md5", "left_anti"
            )
            self._admit(fresh, batch_id, buckets)
        finally:
            firsts.unpersist()
