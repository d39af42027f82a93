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
admits nothing.  Publication is APPEND-ONLY and per-fingerprint
convergent: each batch's fresh rows are written aside and then moved
into the store one ``os.replace`` at a time (atomic per file — a
half-written file is never visible), so a crash mid-publish leaves a
prefix of the batch in the store and the replay re-admits exactly the
missing remainder.

Scale — the store is BUCKETED by ``fp48 % n_buckets`` (hive-style
``bucket=K/`` subdirectories): per micro-batch, admission reads ONLY
the bucket directories the batch's own fingerprints hash into, so
both write I/O (O(admitted batch)) AND read I/O (O(store ∩ batch
buckets)) stay bounded as the corpus grows.  An earlier draft scanned
the whole accepted store per trigger — read cost O(corpus-so-far),
unusable for a long-running 100 TB ingest; the bucketed layout is the
same bounded-recovery idea as the reference's per-key WAL map
(OriginalSourceServerInExecutor.scala:31-43: recovery touches one
key's queue, never the whole WAL).  At real corpus scale raise
``n_buckets`` so each bucket dir stays a few files wide (the driver
collects at most ``n_buckets`` scalars per batch to plan the pruned
read — never data rows).
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_binlog_spark.functions.text import fingerprint
from spark_binlog_spark.streaming.swap import remove_with_checksum

ACCEPTED_COLS = ["doc_id", "fp_md5", "fp48"]
ACCEPTED_SCHEMA = "doc_id long, fp_md5 string, fp48 long"


class DedupIngestSink:
    """foreachBatch sink: dedup a document stream against everything
    accepted so far (reference-free — this is pipeline machinery the
    training-data extensions add on top of the CDC engine)."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        n_buckets: int = 16,
        compact_threshold: int = 8,
    ):
        self.spark = spark
        self.store_dir = store_dir
        self.n_buckets = n_buckets
        self.compact_threshold = compact_threshold
        self.admitted_batches: list[tuple[int, int]] = []  # (batch_id, n_admitted)
        # (batch_id, buckets_scanned, files_scanned) — the pruning receipt
        self.scan_stats: list[tuple[int, int, int]] = []
        self.n_compactions = 0
        os.makedirs(store_dir, exist_ok=True)
        # a crashed publish leaves only a write-aside dir; its moved
        # prefix is already live and the replay re-admits the rest
        for leftover in [p for p in os.listdir(store_dir) if p.startswith("_aside")]:
            shutil.rmtree(os.path.join(store_dir, leftover), ignore_errors=True)
        # ...and a crashed compaction leaves only a hidden .tmp file
        for tmp in glob.glob(os.path.join(store_dir, "bucket=*", "_compact*.tmp")):
            os.remove(tmp)

    @property
    def admitted_rows(self) -> int:
        return sum(n for _, n in self.admitted_batches)

    def store_files(self) -> list[str]:
        return glob.glob(os.path.join(self.store_dir, "bucket=*", "*.parquet"))

    def accepted(self) -> DataFrame:
        """The full deduplicated corpus (all buckets; the partition
        column is path-derived, no data read beyond the three real
        columns).  dropDuplicates: a crash between a compaction's
        merged-file publish and the old-file deletes can leave the same
        rows twice; admission is unaffected (anti-join), and the
        distinct restores exact set semantics here."""
        return (
            self.spark.read.schema(ACCEPTED_SCHEMA + ", bucket int")
            .parquet(self.store_dir)
            .drop("bucket")
            .dropDuplicates()
        )

    def _accepted_for(self, buckets: list[int], batch_id: int) -> DataFrame:
        """Store slice for the admission anti-join: only the bucket
        dirs this batch's fingerprints hash into.  Each leaf dir is its
        own base path, so no partition discovery and no other bucket's
        files are ever opened."""
        paths = [
            p
            for b in buckets
            if os.path.isdir(p := os.path.join(self.store_dir, f"bucket={b}"))
        ]
        n_files = sum(len(glob.glob(os.path.join(p, "*.parquet"))) for p in paths)
        self.scan_stats.append((batch_id, len(paths), n_files))
        if not paths:
            return self.spark.createDataFrame([], ACCEPTED_SCHEMA)
        return self.spark.read.schema(ACCEPTED_SCHEMA).parquet(*paths)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # in-batch first copy (smallest doc_id per fingerprint), with
        # the store bucket each fingerprint belongs to
        fp = fingerprint(batch_df)
        w = Window.partitionBy("fp_md5").orderBy("doc_id")
        firsts = (
            fp.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .withColumn("bucket", F.pmod(F.col("fp48"), F.lit(self.n_buckets)).cast("int"))
            .persist()
        )
        try:
            # ≤ n_buckets scalars to the driver — a plan step, not data
            buckets = sorted(r[0] for r in firsts.select("bucket").distinct().collect())
            # ...then anti-join ONLY the matching store buckets;
            # replayed batches find their own fingerprints and admit
            # nothing (idempotence).  persist: counted + published once
            fresh = (
                firsts.join(self._accepted_for(buckets, batch_id), "fp_md5", "left_anti")
                .select(*ACCEPTED_COLS, "bucket")
                .persist()
            )
            try:
                n = fresh.count()
                if n == 0:
                    self.admitted_batches.append((batch_id, 0))
                    return
                # append-only publish: write aside (inside the store dir
                # so os.replace stays same-filesystem; Spark's reader
                # skips underscore-prefixed dirs), bucket-partitioned,
                # then move each part file into its bucket dir atomically
                aside = os.path.join(self.store_dir, f"_aside_b{batch_id}")
                # repartition by bucket first: ONE file per touched
                # bucket per batch (without it, every task × bucket pair
                # writes its own file — a small-file explosion that
                # makes later admission scans open hundreds of
                # fragments per batch)
                fresh.repartition("bucket").write.partitionBy("bucket").mode(
                    "overwrite"
                ).parquet(aside)
                # publish names are unique PER ATTEMPT (uuid): a replay
                # after a crash mid-publish admits only the remainder,
                # and reusing attempt-0's names would os.replace-
                # overwrite the already-published prefix and lose its
                # fingerprints
                attempt = uuid.uuid4().hex[:8]
                i = 0
                for bdir in sorted(glob.glob(os.path.join(aside, "bucket=*"))):
                    dest = os.path.join(self.store_dir, os.path.basename(bdir))
                    os.makedirs(dest, exist_ok=True)
                    for part in sorted(glob.glob(os.path.join(bdir, "part-*"))):
                        os.replace(
                            part,
                            os.path.join(dest, f"b{batch_id}-{attempt}-{i:05d}.parquet"),
                        )
                        i += 1
                shutil.rmtree(aside, ignore_errors=True)
                self.admitted_batches.append((batch_id, n))
                # only the buckets this batch touched can have grown
                self._maybe_compact(buckets)
            finally:
                fresh.unpersist()
        finally:
            firsts.unpersist()

    def _maybe_compact(self, buckets: list[int]) -> None:
        """Per-bucket compaction: once a bucket accumulates
        ``compact_threshold`` batch files, merge them into one.  This
        is what keeps per-batch admission FLAT over a long-running
        ingest — without it every bucket holds one file per batch that
        ever touched it, and the pruned read degenerates into
        O(batches) file opens.

        DISTRIBUTED merge: all over-threshold buckets are read as ONE
        Spark job (``basePath`` derives the bucket partition column),
        ``repartition("bucket")`` gives one task — and so one output
        file — per bucket, and the executors do the reading and
        re-encoding.  The driver only lists file names and renames the
        results: no data row ever moves through it, so a hot bucket
        (GBs at real corpus scale) compacts at executor parallelism.
        This matches the reference keeping flush-time maintenance on
        the server side (OriginalSourceServerInExecutor.scala:132-147).

        Crash-safe, same protocol as batch publish: the merged files
        land in an ``_aside*`` dir (swept at restart), each is renamed
        into its bucket dir BEFORE that bucket's olds are deleted, so a
        crash leaves either the old files or the merged file plus some
        olds (duplicate rows — harmless to admission, erased by
        accepted()'s distinct).
        """
        to_merge: dict[int, list[str]] = {}
        for b in buckets:
            bdir = os.path.join(self.store_dir, f"bucket={b}")
            files = sorted(glob.glob(os.path.join(bdir, "*.parquet")))
            if len(files) >= self.compact_threshold:
                to_merge[b] = files
        if not to_merge:
            return
        token = uuid.uuid4().hex[:8]
        aside = os.path.join(self.store_dir, f"_aside_compact_{token}")
        (
            self.spark.read.schema(ACCEPTED_SCHEMA)
            .option("basePath", self.store_dir)
            .parquet(*[os.path.join(self.store_dir, f"bucket={b}") for b in to_merge])
            .repartition("bucket")
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(aside)
        )
        for b, files in sorted(to_merge.items()):
            dest = os.path.join(self.store_dir, f"bucket={b}")
            parts = sorted(glob.glob(os.path.join(aside, f"bucket={b}", "part-*")))
            for i, part in enumerate(parts):
                os.replace(part, os.path.join(dest, f"compact-{token}-{i:05d}.parquet"))
            for f in files:
                remove_with_checksum(f)
            self.n_compactions += 1
        shutil.rmtree(aside, ignore_errors=True)
