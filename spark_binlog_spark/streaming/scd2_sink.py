"""Streaming SCD2 (slowly-changing-dimension type-2) history
maintenance: per micro-batch, close the store's open versions for keys
that changed in the batch and append the batch's new version rows —
the incremental twin of the batch ``scd2_history``
(operators/images.py), closing the batch/streaming family the other
marquee operators already have (dedup, near-dup, MV, inverted index).

Merge-on-read, never rewrite: a published version row is immutable.
"Closing" an open version appends a CLOSURE row (same key +
``valid_from``, ``kind='c'``, carrying the closing ``valid_to``);
``history()`` folds version and closure rows with ONE
groupBy(key, valid_from) — ``max(valid_to)`` ignores the open row's
NULL and picks the closure's bound.  Write I/O is O(batch) and the
fold is duplicate-tolerant (a torn compaction leaves identical rows
twice; max/first absorb them) — the same MOR discipline as
``MergeOnReadSink``, on the shared ``BucketedDeltaStore``.

Exactly-once under foreachBatch's at-least-once: deltas carry the
DETERMINISTIC name ``d_b<batch_id>`` and publish-if-absent (the
append-only protocol the inverted-index sink uses — replaying a
published batch is a no-op; a crash before the atomic rename leaves
nothing visible and the replay recomputes identical rows, closures
included, because the store state it reads is unchanged).

Ordering contract (the one every SCD2 maintainer needs): the stream
delivers each key's events in nondecreasing offset order across
batches — true by construction for a binlog/WAL replay, whose offsets
ARE arrival order.  Offsets are unique per the source protocol, so
``(key, valid_from)`` identifies a version.

Scale: version and closure rows bucket by ``pmod(xxhash64(key),
n_buckets)``, so a batch reads only the bucket dirs its own keys hash
into (``slice_for``) and the open-version probe join broadcasts the
batch's tiny per-key first-offset table; the store is never shuffled.
Compaction is the store's distributed job.  At 100 TB the history
table is exactly this layout partitioned over executors; ``history()``
is one key-partitioned aggregate — the same single-shuffle shape as
the batch operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_binlog_spark.streaming.banded_store import BucketedDeltaStore


class Scd2HistorySink:
    """foreachBatch sink maintaining an SCD2 version history
    incrementally.  ``history()`` after any prefix of batches equals
    the batch ``scd2_history`` over the same prefix of events."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        key_col: str = "pk",
        offset_col: str = "cdc_offset",
        value_cols: tuple[str, ...] = ("value",),
        value_schema: str = "value double",
        op_col: str = "op",
        n_buckets: int = 16,
        compact_threshold: int = 8,
    ):
        self.spark = spark
        self.key_col = key_col
        self.offset_col = offset_col
        self.value_cols = list(value_cols)
        self.op_col = op_col
        self.n_buckets = n_buckets
        self.schema = (
            f"{key_col} long, {value_schema}, "
            "valid_from long, valid_to long, kind string"
        )
        self.cols = [key_col, *self.value_cols, "valid_from", "valid_to", "kind"]
        self.store = BucketedDeltaStore(
            spark, store_dir, self.schema, n_buckets, compact_threshold
        )
        self.applied_batches: list[tuple[int, int]] = []  # (batch_id, n_rows)

    @property
    def scan_stats(self):
        return self.store.scan_stats

    def _bucket(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.n_buckets)).cast("int")

    def history(self) -> DataFrame:
        """The full SCD2 relation: (key, values..., valid_from,
        valid_to, is_current) — one row per version, closures folded
        in.  ONE groupBy(key, valid_from) shuffle; max() ignores the
        open version row's NULL valid_to and duplicate crash debris."""
        rows = self.store.read_all()
        merged = rows.groupBy(self.key_col, "valid_from").agg(
            *[F.max(c).alias(c) for c in self.value_cols],
            F.max("valid_to").alias("valid_to"),
        )
        return merged.select(
            self.key_col,
            *self.value_cols,
            "valid_from",
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )

    def as_of(self, offset: int) -> DataFrame:
        """Point-in-time snapshot at ``offset`` — an interval filter
        over history(), no recompute (the streaming twin of
        q_time_travel's read path)."""
        h = self.history()
        return h.filter(
            (F.col("valid_from") <= offset)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > offset))
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        delta = f"d_b{batch_id}"
        if self.store.delta_exists(delta):
            # replay of a fully-published batch: exactly-once no-op
            self.applied_batches.append((batch_id, 0))
            return
        k, off, op = self.key_col, self.offset_col, self.op_col
        evs = batch_df.select(k, *self.value_cols, off, op).persist()
        try:
            # in-batch versions: lead() closes all but each key's last
            # event; deletes emit no version (they only close, which the
            # lead already encodes for in-batch predecessors)
            w = Window.partitionBy(k).orderBy(off)
            versions = (
                evs.withColumn("valid_to", F.lead(off).over(w))
                .filter(F.col(op) != "delete")
                .select(
                    k,
                    *self.value_cols,
                    F.col(off).alias("valid_from"),
                    "valid_to",
                    F.lit("v").alias("kind"),
                )
            )
            # each batch key's FIRST offset closes that key's open store
            # version (if any) — tiny (one row per changed key), broadcast
            first_off = evs.groupBy(k).agg(F.min(off).alias("__first"))
            buckets = sorted(
                r[0]
                for r in first_off.select(
                    self._bucket(F.col(k)).alias("b")
                ).distinct().collect()  # ≤ n_buckets scalars: a plan step
            )
            # compact BEFORE publish — the opposite order from the
            # admission sinks, and load-bearing: this sink's replay
            # guard is the deterministic d_b<id> delta name, and a
            # post-publish compaction could drain and prune THAT delta
            # before the checkpoint commits the batch.  A crash in that
            # window would make the redelivery's delta_exists check
            # miss and re-apply the batch against a store that already
            # contains it (closures would then close the batch's own
            # versions BACKWARD).  Compacting first only ever merges
            # deltas of already-committed batches, so d_b<id> survives
            # until batch_id itself is committed and can never be
            # redelivered again.  (The inverted-index sink solves the
            # same hazard with marker files instead.)  It also runs
            # before the slice is listed, because ``out`` is evaluated
            # only by the publish write and must not read files the
            # compaction deletes.  A batch whose ``out`` is empty (only
            # deletes of keys with no open version) still compacts its
            # buckets: harmless, for the same reason.
            self.store.maybe_compact(buckets)
            slice_ = self.store.slice_for(buckets, batch_id)
            open_v = (
                slice_.filter((F.col("kind") == "v") & F.col("valid_to").isNull())
                .join(
                    slice_.filter(F.col("kind") == "c").select(
                        k, "valid_from"
                    ),
                    [k, "valid_from"],
                    "left_anti",  # already-closed versions are not open
                )
                .dropDuplicates([k, "valid_from"])  # torn-compaction debris
            )
            closures = open_v.join(F.broadcast(first_off), k).select(
                k,
                *[F.lit(None).cast(t).alias(c) for c, t in self._value_types()],
                "valid_from",
                F.col("__first").alias("valid_to"),
                F.lit("c").alias("kind"),
            )
            out = versions.unionByName(closures).withColumn(
                "bucket", self._bucket(F.col(k))
            )
            # the write is out's only evaluation; publish counts its
            # rows from the footers and removes an empty write, so an
            # empty batch publishes no d_b<id>
            n = self.store.publish(out, self.cols, batch_id, delta_name=delta)
            self.applied_batches.append((batch_id, n))
        finally:
            evs.unpersist()

    def _value_types(self) -> list[tuple[str, str]]:
        """(name, spark type) for the value columns, from the store
        schema — closure rows carry typed NULLs so the union lines up."""
        types = dict(
            self.spark.createDataFrame([], self.schema).dtypes
        )
        return [(c, types[c]) for c in self.value_cols]
