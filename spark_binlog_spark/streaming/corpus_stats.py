"""Streaming corpus-mixture monitoring: per-source token budgets
maintained incrementally as documents are ingested.

The streaming companion to ``text.source_mixing_weights``: a training
pipeline wants to know its mixture (and the rebalancing rates) AS the
corpus grows, not from a nightly full scan.  The stats are purely
additive and kept at (source, token-length-bin) grain — len_bin =
floor(log2(n_tokens)), computed as ``length(bin(n)) - 1`` so both
engines agree without libm — which makes the table a MERGEABLE LENGTH
HISTOGRAM: coarse mixture totals roll up from it exactly, and
length-distribution monitoring (the truncation/percentile checks a
data pipeline watches) falls out of the same additive state.  Each
micro-batch costs ONE tiny aggregation of the batch plus a
|sources × bins|-sized merge — the corpus is read once, at ingest,
and never re-scanned (at 100 TB a per-batch recompute would re-read
the world; the delta form touches only the batch).  Replay and crash
safety come from ``MergeableStore`` (streaming/store.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_binlog_spark.streaming.store import MergeableStore


class CorpusStatsSink(MergeableStore):
    """foreachBatch sink maintaining per-``by`` corpus statistics.

    ``current()`` -> (by, n_docs, n_tokens); ``mixture()`` additionally
    derives ``sample_rate4`` (floor(min_tokens * 10000 / n_tokens)) —
    the same contract as the batch ``source_mixing_weights``, so a
    stream ingested to completion hash-matches the batch oracle.
    """

    merge = "sum"

    def __init__(
        self, spark: SparkSession, stats_dir: str, by: str = "source", resume: bool = True
    ):
        self.by = by
        self.keys = (by, "len_bin")
        self.schema = f"`{by}` string, len_bin long, n_docs long, n_tokens long"
        super().__init__(spark, stats_dir, resume)
        # the last batch's delta (feeds drift()), published before the
        # totals each batch (see _delta)
        self.delta_dir = f"{stats_dir}_last_delta"
        self._delta_schema = self._open(
            self.delta_dir, f"`{by}` string, len_bin long, d_docs long, d_tokens long", resume
        )

    def current(self) -> DataFrame:
        # coarse per-source totals roll up EXACTLY from the bin grain
        return (
            self._stats()
            .groupBy(self.by)
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("n_tokens"),
            )
        )

    def length_histogram(self) -> DataFrame:
        """(by, len_bin, n_docs): doc counts per power-of-two token
        bucket — the live length-distribution monitor."""
        return self._stats().select(self.by, "len_bin", "n_docs")

    def mixture(self) -> DataFrame:
        from spark_binlog_spark.functions.text import mixing_rates

        return mixing_rates(self.current(), self.by)

    def token_budget(
        self, max_epochs: int = 2, budget_num: int = 3, budget_den: int = 2
    ) -> DataFrame:
        """UniMax token-budget allocation (Chung et al. 2023) served
        LIVE off the streamed per-``by`` token totals: a continuous
        ingest pipeline re-plans its budget split each batch from this
        |groups|-row store — the corpus is never re-read.  Identical
        waterfill (and oracle) as the batch ``unimax_allocation``; the
        sink counts tokens with the same whitespace split."""
        from spark_binlog_spark.functions.text import unimax_waterfill

        per = self.current().select(F.col(self.by).alias("grp"), "n_tokens")
        return unimax_waterfill(
            per, group_col=self.by, max_epochs=max_epochs,
            budget_num=budget_num, budget_den=budget_den,
        )

    def drift(self) -> DataFrame:
        """Per-``by`` DISTRIBUTION-DRIFT tripwire: the L1 distance
        (×10^4, range 0..20000) between the LAST ingested batch's
        length-bin distribution and the PRIOR corpus's — the check a
        continuous-ingestion pipeline alarms on when a source suddenly
        ships truncated or concatenated documents.

        drift4 = floor(10^4 · Σ_bins |prev_b/P − last_b/L|), computed
        as ONE exact integer division of Σ|prev_b·L − last_b·P| by P·L
        (decimal(38,0) products — no float sums, so any engine agrees
        bit-for-bit).  A ``by`` group with no prior corpus scores the
        maximal 20000 (a brand-new source IS maximal drift); a group
        absent from the last batch scores 0 (no new evidence).

        Cost: the |groups × bins| stats table only — the corpus is
        never re-read.
        """
        from pyspark.sql import Window

        totals = self._stats().select(self.by, "len_bin", "n_docs")
        delta = self.spark.read.schema(self._delta_schema).parquet(self.delta_dir)
        j = totals.join(
            delta.select(self.by, "len_bin", "d_docs"),
            [self.by, "len_bin"],
            "full_outer",
        ).select(
            F.col(self.by),
            (
                F.coalesce(F.col("n_docs"), F.lit(0))
                - F.coalesce(F.col("d_docs"), F.lit(0))
            )
            .cast("long")
            .alias("prev"),
            F.coalesce(F.col("d_docs"), F.lit(0)).cast("long").alias("last"),
        )
        w = Window.partitionBy(self.by)
        dec = "decimal(38,0)"
        j2 = (
            j.withColumn("prev_docs", F.sum("prev").over(w))
            .withColumn("last_docs", F.sum("last").over(w))
        )
        per = j2.groupBy(self.by).agg(
            F.max("prev_docs").cast("long").alias("prev_docs"),
            F.max("last_docs").cast("long").alias("last_docs"),
            F.sum(
                F.abs(
                    F.col("prev").cast(dec) * F.col("last_docs").cast(dec)
                    - F.col("last").cast(dec) * F.col("prev_docs").cast(dec)
                )
            ).alias("numer"),
        )
        drift4 = (
            F.when(F.col("last_docs") == 0, F.lit(0))
            .when(F.col("prev_docs") == 0, F.lit(20000))
            .otherwise(
                F.expr(
                    "(numer * 10000) div "
                    "(CAST(prev_docs AS DECIMAL(38,0)) * CAST(last_docs AS DECIMAL(38,0)))"
                )
            )
        )
        return per.select(
            self.by,
            "prev_docs",
            "last_docs",
            drift4.cast("long").alias("drift4"),
        )

    def _delta(self, batch_df, batch_id):
        delta = (
            batch_df.select(
                F.col(self.by),
                F.size(F.split(F.col("text"), "\\s+")).cast("long").alias("t"),
            )
            .select(
                F.col(self.by),
                (F.length(F.bin(F.col("t"))) - 1).cast("long").alias("len_bin"),
                F.col("t"),
            )
            .groupBy(self.by, "len_bin")
            .agg(
                F.count("*").cast("long").alias("d_docs"),
                F.sum("t").cast("long").alias("d_tokens"),
            )
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
        )
        # publish the delta FIRST (drift()'s last-batch view), then the
        # totals: a crash between the swaps replays the batch (totals
        # ratchet still behind), rewriting the identical delta
        self._publish(delta, self.delta_dir, batch_id)
        # merge FROM the published delta so totals reflect exactly the
        # bytes drift() will read (and the batch agg runs once)
        return self.spark.read.schema(self._delta_schema).parquet(self.delta_dir).select(
            self.by,
            "len_bin",
            F.col("d_docs").alias("n_docs"),
            F.col("d_tokens").alias("n_tokens"),
        )
