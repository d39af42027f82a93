"""Streaming INVERTED-INDEX sink: maintain a term-bucketed postings
store incrementally as documents are ingested, and serve BM25 keyword
retrieval directly off it — the SPARSE-retrieval sibling of the
embedding sink's dense index (both: "the store IS the serving index").

Per micro-batch the sink appends the batch's postings — one row per
(term, doc) with the term frequency AND the doc length (carried per
row so query-time scoring needs no second relation) — into the shared
``BucketedDeltaStore`` keyed by ``h48(term) % n_buckets``.  A BM25
query then reads ONLY its own terms' bucket dirs (the same pruned-read
receipt as the admission sinks), derives the per-term document
frequencies from that slice, and sums the additive corpus totals
(n_docs, total words) kept as one tiny parquet per batch.  Scoring is
the exact integer BM25 of ``text.bm25_term_score`` — the ONE scoring
definition — so a fully-ingested stream ranks identically to the batch
``bm25_topk`` and hash-matches its DuckDB oracle.

Exactly-once WITHOUT admission self-match (this sink is append-only;
the near-dup sinks' replay-finds-itself argument doesn't apply):
  * the postings delta uses a DETERMINISTIC name (``d_b<batch>``) and
    publish-if-absent — the atomic dir rename means "exists ⟹ fully
    published";
  * a marker/totals file (``totals/t_b<batch>.parquet``, atomic
    tmp+rename, never compacted) records the batch as applied; it is
    written only AFTER the postings publish, so the replay of a crash
    between the two finds the delta present and just completes the
    marker;
  * compaction (which destroys the deterministic delta names) runs
    only after the marker exists, so "marker present" is the durable
    applied-batch record that survives compaction.

Scale: per-batch write is O(batch postings); query read is
O(index ∩ query-term buckets); totals are |batches| tiny rows; the
distributed compaction keeps per-bucket file counts flat exactly as in
the admission sinks.  The reference has no retrieval surface at all —
this is LLM-pipeline machinery (contamination triage, eval-set mining)
layered on the same store primitives.
"""

from __future__ import annotations

import glob
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_binlog_spark.functions.text import bm25_term_score, words
from spark_binlog_spark.streaming.banded_store import BucketedDeltaStore

POSTING_COLS = ["term", "doc_id", "tf", "dl"]
POSTING_SCHEMA = "term string, doc_id long, tf long, dl long"
TOTALS_SCHEMA = "n_docs long, total_words long"


def _h48(col):
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


class InvertedIndexSink:
    """foreachBatch sink maintaining the postings + totals store;
    ``bm25()`` serves ranked retrieval straight off it."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        text_col: str = "text",
        n_buckets: int = 16,
        compact_threshold: int = 8,
    ):
        self.spark = spark
        self.store_dir = store_dir
        self.text_col = text_col
        self.n_buckets = n_buckets
        self.store = BucketedDeltaStore(
            spark,
            os.path.join(store_dir, "postings"),
            POSTING_SCHEMA,
            n_buckets,
            compact_threshold,
        )
        self.totals_dir = os.path.join(store_dir, "totals")
        os.makedirs(self.totals_dir, exist_ok=True)
        for tmp in glob.glob(os.path.join(self.totals_dir, "_*.tmp")):
            os.remove(tmp)
        self.applied_batches: list[tuple[int, int]] = []  # (batch_id, n_postings)

    @property
    def scan_stats(self):
        return self.store.scan_stats

    @property
    def n_compactions(self) -> int:
        return self.store.n_compactions

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.totals_dir, f"t_b{batch_id}.parquet")

    def postings(self) -> DataFrame:
        return self.store.read_all()

    def totals(self) -> DataFrame:
        """(n_docs, total_words): exact additive sum of the per-batch
        marker files — |batches| tiny rows.  With no applied batches
        the sums coalesce to 0 rather than NULL so downstream scoring
        never silently nulls out (ADVICE r5)."""
        return (
            self.spark.read.schema(TOTALS_SCHEMA)
            .parquet(self.totals_dir)
            .agg(
                F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
                F.coalesce(F.sum("total_words"), F.lit(0))
                .cast("long")
                .alias("total_words"),
            )
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if os.path.exists(self._marker(batch_id)):
            return  # replay of a fully-applied batch
        w = batch_df.select(
            F.col("doc_id"), F.explode(words(F.col(self.text_col))).alias("term")
        )
        tf = w.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
        dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
        post = (
            tf.join(dl, "doc_id")
            .select(*POSTING_COLS)
            .withColumn("bucket", F.pmod(_h48(F.col("term")), F.lit(self.n_buckets)).cast("int"))
            .persist()
        )
        try:
            # the touched buckets and the batch's totals in one collect
            # off the cached postings (a doc's words sum to its dl)
            tot = post.agg(
                F.sort_array(F.collect_set("bucket")).alias("buckets"),
                F.countDistinct("doc_id").cast("long").alias("n_docs"),
                F.sum("tf").cast("long").alias("total_words"),
            ).collect()[0]
            # postings first (publish-if-absent: a crash-replay whose
            # delta already landed skips straight to the marker, and
            # gets that delta's row count back) ...
            n = self.store.publish(post, POSTING_COLS, batch_id, delta_name=f"d_b{batch_id}")
            # ... then the totals marker = the durable applied record
            import pyarrow as pa
            import pyarrow.parquet as pq

            tmp = os.path.join(self.totals_dir, f"_t{uuid.uuid4().hex[:8]}.tmp")
            pq.write_table(
                pa.table(
                    {
                        "n_docs": pa.array([tot["n_docs"] or 0], pa.int64()),
                        "total_words": pa.array([tot["total_words"] or 0], pa.int64()),
                    }
                ),
                tmp,
            )
            os.replace(tmp, self._marker(batch_id))
            self.applied_batches.append((batch_id, n))
            # compaction only AFTER the marker: it destroys the
            # deterministic delta name the replay check relies on
            self.store.maybe_compact(tot["buckets"])
        finally:
            post.unpersist()

    def bm25(self, queries: dict[int, list[str]], k: int = 5) -> DataFrame:
        """Top-k documents per query term set, served off the store:
        bucket-pruned postings read, slice-derived document
        frequencies, additive totals, exact integer BM25 — identical
        ranking to the batch ``text.bm25_topk`` over the same corpus."""
        from pyspark.sql import Window

        # empty index (no applied batches, or only postings whose
        # totals marker never landed): short-circuit to an empty,
        # correctly-typed result instead of scoring against zero
        # document/word totals (ADVICE r5)
        if (self.totals().collect()[0]["n_docs"] or 0) == 0:
            return self.spark.createDataFrame(
                [], "query_id long, doc_id long, rank long, bm25s long"
            )
        qterms = F.broadcast(
            self.spark.createDataFrame(
                [(qid, t) for qid, ts in sorted(queries.items()) for t in ts],
                "query_id long, term string",
            )
        )
        terms = sorted({t for ts in queries.values() for t in ts})
        buckets = sorted(
            {
                r[0]
                for r in self.spark.createDataFrame([(t,) for t in terms], "term string")
                .select(F.pmod(_h48(F.col("term")), F.lit(self.n_buckets)).cast("int").alias("b"))
                .collect()
            }
        )
        slice_ = (
            self.store.slice_for(buckets, batch_id=-1)
            # torn compaction can leave a posting twice — exact-once rows
            .dropDuplicates(["term", "doc_id"])
            .join(qterms, "term")
            .persist()
        )
        try:
            dfreq = slice_.groupBy("term").agg(
                F.countDistinct("doc_id").alias("dfreq")
            )
            scored = (
                slice_.join(F.broadcast(dfreq), "term")
                .crossJoin(F.broadcast(self.totals()))
                .select("query_id", "doc_id", bm25_term_score().alias("term_score"))
            )
            per_doc = scored.groupBy("query_id", "doc_id").agg(
                F.sum("term_score").alias("bm25s")
            )
            w = Window.partitionBy("query_id").orderBy(
                F.col("bm25s").desc(), F.col("doc_id")
            )
            return (
                per_doc.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select(
                    "query_id",
                    "doc_id",
                    F.col("rank").cast("long").alias("rank"),
                    "bm25s",
                )
                .localCheckpoint()
            )
        finally:
            slice_.unpersist()
