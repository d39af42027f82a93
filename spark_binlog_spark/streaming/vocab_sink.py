"""Streaming word-frequency maintenance for tokenizer training.

BPE induction (functions/bpe.py) runs on the word-frequency table, not
the corpus — so the RIGHT continuous-ingest design is to maintain that
table incrementally and re-train the tokenizer off the live store
whenever needed.  Word counts are a purely additive monoid (the same
merge contract as the count-min grid), and the store is
vocabulary-sized: ~1000x smaller than the corpus it summarizes, and
the exact relation every learn iteration would have to rebuild from
scratch otherwise.  A 100 TB pipeline re-trains its tokenizer from
this store with ZERO corpus re-reads.  Replay and crash safety come
from ``MergeableStore`` (streaming/store.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_binlog_spark.functions.bpe import EOW, WORD_RE
from spark_binlog_spark.functions.text import words
from spark_binlog_spark.streaming.store import MergeableStore


class WordFreqSink(MergeableStore):
    """foreachBatch sink maintaining the (word, cnt) vocabulary store.

    ``vocab()`` returns the live table in ``bpe_vocab`` form —
    (word, cnt, syms) with the initial character segmentation — so
    ``bpe_learn(spark, sink.vocab())`` trains off the store and, once
    the stream has drained, hash-matches the one-shot batch learn."""

    schema = "word string, cnt long"
    keys = ("word",)
    merge = "sum"

    def _delta(self, batch_df, batch_id):
        return (
            batch_df.select(F.explode(words(F.col("text"))).alias("word"))
            .where(F.col("word").rlike(WORD_RE))
            .groupBy("word")
            .agg(F.count("*").alias("cnt"))
        )

    def word_counts(self) -> DataFrame:
        return self._stats().select("word", "cnt")

    def vocab(self) -> DataFrame:
        """(word, cnt, syms): the live store in bpe_vocab form — the
        training input, zero corpus reads."""
        return self.word_counts().withColumn(
            "syms",
            F.expr(
                f"concat(filter(split(word, ''), x -> x != ''), array('{EOW}'))"
            ),
        )
