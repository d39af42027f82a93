"""Streaming-sink soak battery (VERDICT r10 ask #4): a 20+-batch ingest
through the dedup / neardup / simhash / inverted-index sinks, asserting
the three contracts a long-running pipeline actually depends on:

1. FLAT per-batch admission work.  The deterministic flatness proxy is
   the store-fragment receipt: compaction bounds the files any
   admission scan opens at ``buckets_scanned * compact_threshold``
   regardless of how many batches have ever been ingested (without it
   the count grows one file per bucket per batch — O(batches) file
   opens, the classic long-ingest death).  Wall-clock flatness is also
   asserted, with a generous noise factor for the shared host.
2. BOUNDED store file counts (compaction effectiveness): the final
   fragment total is <= n_buckets * compact_threshold and at least one
   compaction fired during the soak.
3. Final store == BATCH RECOMPUTE: after 24 publishes + compactions the
   store's content equals what one batch job over the same corpus (or
   over the admitted survivor set, for the greedy admission sinks)
   computes from scratch — nothing lost, nothing duplicated, nothing
   corrupted by the rename/compact/prune machinery.

The batch split is 24 CONTIGUOUS doc_id ranges, so the exact-dedup
sequential winner (earliest batch, then smallest in-batch doc_id) is
the globally smallest doc_id per fingerprint — i.e. batch-recomputable.

Sized for the suite at sf0.001 (500 docs); point SPARK_GRAFT_SOAK_SF_DIR
at sf0.1 and the printed JSON summary lines feed the PERF.md soak table.
"""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_TEST
import os

SOAK_SF_DIR = os.environ.get("SPARK_GRAFT_SOAK_SF_DIR", SF_TEST)
N_BATCHES = int(os.environ.get("SPARK_GRAFT_SOAK_BATCHES", "24"))


def _corpus(spark):
    return (
        spark.read.parquet(f"{SOAK_SF_DIR}/documents.parquet")
        .select("doc_id", "text")
    )


def _batches(spark, docs):
    """24 contiguous doc_id ranges (ntile over the doc_id order).
    localCheckpoint: each batch is materialized once, so the soak times
    admission, not 24 re-sorts of the corpus."""
    ranked = docs.withColumn("b", F.ntile(N_BATCHES).over(Window.orderBy("doc_id")))
    return [
        ranked.filter(F.col("b") == i + 1).drop("b").localCheckpoint()
        for i in range(N_BATCHES)
    ]


def _drive(sink, batches):
    per_batch = []
    for i, b in enumerate(batches):
        t0 = time.perf_counter()
        sink(b, i)
        per_batch.append(round(time.perf_counter() - t0, 3))
    return per_batch


def _median(xs):
    s = sorted(xs)
    return s[len(s) // 2]


def _assert_flat_and_bounded(label, sink, per_batch, n_files_final, n_rows):
    threshold, n_buckets = sink.store.compact_threshold, sink.store.n_buckets
    # 1a. deterministic flatness: every admission scan's file opens are
    # bounded by compaction, independent of batch count
    for bid, nb, nf in sink.scan_stats:
        assert nf <= nb * threshold, (
            f"{label} batch {bid}: scanned {nf} files over {nb} buckets — "
            f"compaction is not bounding the admission read"
        )
    # 1b. wall-clock flatness (noise-tolerant: medians, 3x + 0.5s slack)
    early = _median(per_batch[2:10])
    late = _median(per_batch[-6:])
    assert late <= 3.0 * early + 0.5, (
        f"{label}: per-batch time grew {early:.3f}s -> {late:.3f}s over the soak"
    )
    # 2. bounded store + compaction actually fired during the soak
    assert n_files_final <= n_buckets * threshold, (
        f"{label}: {n_files_final} fragments survived compaction"
    )
    assert sink.n_compactions >= 1, f"{label}: no compaction fired in {N_BATCHES} batches"
    print(
        json.dumps(
            {
                "soak": label,
                "sf_dir": SOAK_SF_DIR,
                "n_batches": N_BATCHES,
                "corpus_rows": n_rows,
                "sec_per_batch_median_early": early,
                "sec_per_batch_median_late": late,
                "per_batch": per_batch,
                "store_files_final": n_files_final,
                "n_compactions": sink.n_compactions,
                "admitted_rows": sink.admitted_rows,
            }
        )
    )


def _sets_equal(got, expected, label):
    extra = got.exceptAll(expected).count()
    missing = expected.exceptAll(got).count()
    assert extra == 0 and missing == 0, (
        f"{label}: store != batch recompute (extra={extra}, missing={missing})"
    )


@pytest.mark.slow
class TestSinkSoak:
    def test_dedup_exact_soak(self, spark, tmp_path):
        from spark_binlog_spark.functions.text import fingerprint
        from spark_binlog_spark.streaming.dedup_sink import DedupIngestSink

        docs = _corpus(spark)
        n_rows = docs.count()
        batches = _batches(spark, docs)
        sink = DedupIngestSink(spark, str(tmp_path / "store"), n_buckets=16,
                               compact_threshold=8)
        per_batch = _drive(sink, batches)
        # scan_stats here is (batch_id, buckets, files) on the sink itself
        _assert_flat_and_bounded(
            "dedup_exact", sink, per_batch, len(sink.store.all_files()), n_rows
        )
        # 3. batch recompute: smallest doc_id per fingerprint, full corpus
        w = Window.partitionBy("fp_md5").orderBy("doc_id")
        expected = (
            fingerprint(docs)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "fp_md5", "fp48")
        )
        _sets_equal(sink.accepted(), expected, "dedup_exact")
        for b in batches:
            b.unpersist()

    def test_neardup_minhash_soak(self, spark, tmp_path):
        from spark_binlog_spark.functions.dedup import minhash_signatures
        from spark_binlog_spark.streaming.neardup_sink import NearDupIngestSink

        docs = _corpus(spark)
        n_rows = docs.count()
        batches = _batches(spark, docs)
        sink = NearDupIngestSink(spark, str(tmp_path / "store"), min_agree=2,
                                 n_buckets=16, compact_threshold=8)
        per_batch = _drive(sink, batches)
        _assert_flat_and_bounded(
            "neardup_minhash", sink, per_batch, len(sink.store.all_files()), n_rows
        )
        # 3a. store integrity: the index equals the signatures of the
        # admitted docs recomputed in one batch job
        admitted = docs.join(sink.accepted(), "doc_id", "semi")
        expected = minhash_signatures(admitted, n_hashes=sink.n_hashes).select(
            "doc_id", "seed", "minhash"
        )
        _sets_equal(
            sink.index().dropDuplicates(), expected, "neardup_minhash index"
        )
        # 3b. greedy-admission invariant: no two SURVIVORS agree on
        # >= min_agree bands (any such pair would have rejected the later)
        idx = sink.index().dropDuplicates()
        a, b = idx.alias("a"), idx.alias("b")
        viol = (
            a.join(
                b,
                (F.col("a.seed") == F.col("b.seed"))
                & (F.col("a.minhash") == F.col("b.minhash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy("a.doc_id", "b.doc_id")
            .agg(F.countDistinct("a.seed").alias("n_agree"))
            .filter(F.col("n_agree") >= sink.min_agree)
            .count()
        )
        assert viol == 0, f"{viol} colliding survivor pairs in the final index"
        for b_ in batches:
            b_.unpersist()

    def test_simhash_soak(self, spark, tmp_path):
        from spark_binlog_spark.streaming.simhash_sink import SimHashIngestSink

        docs = _corpus(spark)
        n_rows = docs.count()
        batches = _batches(spark, docs)
        sink = SimHashIngestSink(spark, str(tmp_path / "store"), max_hamming=2,
                                 n_buckets=16, compact_threshold=8)
        per_batch = _drive(sink, batches)
        _assert_flat_and_bounded(
            "simhash", sink, per_batch, len(sink.store.all_files()), n_rows
        )
        # 3a. store integrity vs batch-recomputed signatures of survivors
        admitted = docs.join(sink.accepted(), "doc_id", "semi")
        expected = sink._signatures(admitted).select(
            "doc_id", "band_idx", "band_val", "simhash16"
        )
        _sets_equal(sink.index().dropDuplicates(), expected, "simhash index")
        # 3b. invariant: no survivor pair within max_hamming (pigeonhole-
        # complete for max_hamming < bands, so this is exhaustive)
        sigs = sink.index().select("doc_id", "simhash16").distinct()
        a, b = sigs.alias("a"), sigs.alias("b")
        viol = (
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .filter(
                F.bit_count(
                    F.col("a.simhash16").bitwiseXOR(F.col("b.simhash16"))
                )
                <= sink.max_hamming
            )
            .count()
        )
        assert viol == 0, f"{viol} survivor pairs within hamming {sink.max_hamming}"
        for b_ in batches:
            b_.unpersist()

    def test_embedding_neardup_soak(self, spark, tmp_path):
        """The vector-admission sibling (EmbeddingNearDupIngestSink)
        under the same 24-batch contract: flat pruned scans, bounded
        store, and final index == batch-recomputed signatures of the
        survivors, with no surviving near-pair (banded candidates at
        >= min_cosine4) left in the index."""
        from spark_binlog_spark.streaming.embedding_sink import EmbeddingNearDupIngestSink

        emb = spark.read.parquet(f"{SOAK_SF_DIR}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        n_rows = emb.count()
        ranked = emb.withColumn(
            "b", F.ntile(N_BATCHES).over(Window.orderBy("vec_id"))
        )
        batches = [
            ranked.filter(F.col("b") == i + 1).drop("b").localCheckpoint()
            for i in range(N_BATCHES)
        ]
        sink = EmbeddingNearDupIngestSink(
            spark, str(tmp_path / "store"), n_buckets=16, compact_threshold=8
        )
        per_batch = _drive(sink, batches)
        _assert_flat_and_bounded(
            "embedding_neardup", sink, per_batch, len(sink.store.all_files()), n_rows
        )
        # 3a. store integrity: recomputed signatures of the survivors
        admitted = emb.join(sink.accepted(), "vec_id", "semi")
        expected = sink._signatures(admitted)
        _sets_equal(
            sink.index().dropDuplicates(), expected, "embedding_neardup index"
        )
        # 3b. greedy-admission invariant: no banded survivor pair at or
        # above the admission threshold
        idx = sink.index().dropDuplicates()
        a, b = idx.alias("a"), idx.alias("b")
        viol = (
            a.join(
                b,
                (F.col("a.tbl") == F.col("b.tbl"))
                & (F.col("a.sbucket") == F.col("b.sbucket"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("va"),
                F.col("b.vec_id").alias("vb"),
                F.col("a.q").alias("qa"),
                F.col("a.norm").alias("na"),
                F.col("b.q").alias("qb"),
                F.col("b.norm").alias("nb"),
            )
            .dropDuplicates(["va", "vb"])
            .filter(
                sink._cos4(F.col("qa"), F.col("na"), F.col("qb"), F.col("nb"))
                >= sink.min_cosine4
            )
            .count()
        )
        assert viol == 0, f"{viol} surviving near-pairs in the final index"
        for b_ in batches:
            b_.unpersist()

    def test_inverted_index_soak(self, spark, tmp_path):
        from spark_binlog_spark.functions.text import words
        from spark_binlog_spark.streaming.inverted_index import InvertedIndexSink

        docs = _corpus(spark)
        n_rows = docs.count()
        batches = _batches(spark, docs)
        sink = InvertedIndexSink(spark, str(tmp_path / "store"), n_buckets=16,
                                 compact_threshold=8)
        per_batch = _drive(sink, batches)
        # admitted_rows isn't defined for the additive sink; shim for the
        # shared reporter
        sink.admitted_rows = sum(n for _, n in sink.applied_batches)
        _assert_flat_and_bounded(
            "inverted_index", sink, per_batch, len(sink.store.all_files()), n_rows
        )
        # 3. postings == batch recompute of tf/dl over the whole corpus
        w = docs.select("doc_id", F.explode(words(F.col("text"))).alias("term"))
        tf = w.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
        dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
        expected = tf.join(dl, "doc_id").select("term", "doc_id", "tf", "dl")
        _sets_equal(
            sink.postings().dropDuplicates(), expected, "inverted_index postings"
        )
        # ...and totals == the corpus totals
        tot = sink.totals().collect()[0]
        exp = dl.agg(
            F.count("*").alias("n"), F.sum("dl").alias("w")
        ).collect()[0]
        assert (tot["n_docs"], tot["total_words"]) == (exp["n"], exp["w"])
        for b_ in batches:
            b_.unpersist()
