"""Bucketed append-only delta store shared by the streaming admission
sinks (exact fingerprint, MinHash, SimHash, sign-LSH embedding), plus
the ``AdmissionSink`` shell they share.

Layout: signature rows live under ``d_<delta>/bucket=K`` where K is the
sink's probe-key hash mod ``n_buckets`` — the probe key IS the bucket
key, so per-batch admission reads ONLY the bucket dirs the batch's own
signatures hash into (read I/O O(index ∩ batch buckets), write I/O
O(admitted batch) plus the buckets it compacts).  This is the bounded-
recovery idea of the reference's per-key WAL map: recovery touches one
key's queue, never the whole WAL (OriginalSourceServerInExecutor.scala:
31-43).  The driver collects at most ``n_buckets`` scalars per batch to
plan the pruned read — never data rows.

Publish protocol (exactly-once under foreachBatch's at-least-once):
the batch's rows are written bucket-partitioned into an ``_aside*``
dir and published with ONE directory rename (unique name per attempt),
so a crash mid-publish leaves nothing visible and the replay recomputes
the identical admitted set.  The write is the batch's only evaluation
of its admission plan: the published row count is read from the
written files' parquet footers (driver metadata, no Spark job), and an
aside with no rows (a replayed batch) is removed instead of renamed.
``_aside*`` debris is swept at construction.

Compaction rides the publish write: each probed bucket whose files,
counting the one this write adds, reach ``compact_threshold`` is read
into the same ``repartition("bucket")`` write (one aside, one rename),
and after the rename its merged files are deleted and drained dirs
pruned.  The count is the aside's footer rows minus the merged files'
(exact over a torn compaction's duplicates); an empty batch (a replay)
compacts nothing.  A crash before the deletes leaves the merged rows
visible twice, which the admission joins and ``accepted()`` distincts
absorb.  The driver only lists and renames, matching the reference
keeping flush-time maintenance on the server side
(OriginalSourceServerInExecutor.scala:132-147).  The SCD2 and
inverted-index sinks' replay guard is their ``d_b<id>`` name, which
must not absorb old rows: they compact alone (``maybe_compact``).
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from spark_binlog_spark.streaming.swap import remove_with_checksum


class BucketedDeltaStore:
    """The store machinery behind a banded/bucketed admission index;
    the owning sink supplies the row schema (WITHOUT the ``bucket``
    partition column) and decides what the probe key means."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        schema: str,
        n_buckets: int,
        compact_threshold: int,
    ):
        self.spark = spark
        self.store_dir = store_dir
        self.schema = schema
        self.n_buckets = n_buckets
        self.compact_threshold = compact_threshold
        # (batch_id, buckets_scanned, files_scanned) — the pruning receipt
        self.scan_stats: list[tuple[int, int, int]] = []
        self.n_compactions = 0
        os.makedirs(store_dir, exist_ok=True)
        # a crash before a publish rename leaves only an aside dir;
        # nothing of that attempt is visible — drop the debris
        for leftover in [p for p in os.listdir(store_dir) if p.startswith("_aside")]:
            shutil.rmtree(os.path.join(store_dir, leftover), ignore_errors=True)
        # a crash between a compaction's file deletes and its dir prune
        # leaves empty dirs — sweep them on resume
        self.prune_empty_dirs()

    def all_files(self) -> list[str]:
        """Every live parquet fragment — the compaction-effectiveness
        observable (soak batteries assert this stays bounded)."""
        return glob.glob(
            os.path.join(self.store_dir, "d_*", "bucket=*", "*.parquet")
        )

    def read_all(self) -> DataFrame:
        """Every signature row across all published deltas."""
        return (
            self.spark.read.schema(self.schema)
            .option("recursiveFileLookup", "true")
            .parquet(self.store_dir)
        )

    def slice_for(self, buckets: list[int], batch_id: int) -> DataFrame:
        """Index slice for an admission join: only the bucket dirs the
        batch's own signatures hash into, across all published deltas."""
        files = [
            f
            for b in buckets
            for f in glob.glob(os.path.join(self.store_dir, "d_*", f"bucket={b}", "*.parquet"))
        ]
        paths = sorted({os.path.dirname(f) for f in files})
        self.scan_stats.append((batch_id, len(paths), len(files)))
        if not paths:
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(*paths)

    def delta_exists(self, delta_name: str) -> bool:
        return os.path.isdir(os.path.join(self.store_dir, delta_name))

    def publish(
        self,
        rows: DataFrame,
        cols: list[str],
        batch_id: int,
        delta_name: str | None = None,
        buckets: list[int] = (),
    ) -> int:
        """Atomically publish one batch's rows (must carry an int
        ``bucket`` column) as a new delta dir; returns the number of
        rows this call published, read from the written files' parquet
        footers (driver metadata, no Spark job).  An empty write is
        removed instead of published.  Of ``buckets``, those due for
        compaction are merged into the same write (module docstring).

        Default naming is unique PER ATTEMPT (admission sinks: replay
        recomputes against the published state, so a second publish of
        the same batch must never collide).  ``delta_name`` pins a
        DETERMINISTIC name instead — append-only sinks use
        publish-if-absent (``delta_exists`` + this) for exactly-once
        without any admission self-match; if that delta already landed,
        nothing is written and its footer row count is returned."""
        if delta_name is not None and self.delta_exists(delta_name):
            return self._footer_rows(os.path.join(self.store_dir, delta_name, "bucket=*"))
        merge = self._due(buckets, pending=1)
        attempt = uuid.uuid4().hex[:8]
        aside = self._write_aside(rows.select(*cols, "bucket"), merge, f"b{batch_id}_{attempt}")
        n = self._footer_rows(os.path.join(aside, "bucket=*")) - sum(
            pq.read_metadata(f).num_rows for files in merge.values() for f in files
        )
        if n == 0:
            # nothing to publish (so nothing compacted); a crash here
            # leaves only the aside, which the next construction sweeps
            shutil.rmtree(aside)
            return 0
        try:
            self._rename_in(aside, delta_name or f"d_b{batch_id}_{attempt}", merge)
        except OSError:
            if delta_name is None or not self.delta_exists(delta_name):
                raise
            # deterministic-name race with a concurrent replay: the
            # delta is fully published (rename is atomic) — drop ours
            shutil.rmtree(aside, ignore_errors=True)
        return n

    def maybe_compact(self, buckets: list[int]) -> None:
        """Compaction alone, for the sinks whose deterministic delta
        name must not absorb older rows: merge each of ``buckets`` whose
        files reach ``compact_threshold`` into one ``d_compact_*``."""
        merge = self._due(buckets, pending=0)
        if merge:
            token = uuid.uuid4().hex[:8]
            aside = self._write_aside(None, merge, f"compact_{token}")
            self._rename_in(aside, f"d_compact_{token}", merge)

    @staticmethod
    def _footer_rows(bucket_dirs: str) -> int:
        """Rows in the parquet files under a bucket-dir glob, from
        their footers."""
        return sum(
            pq.read_metadata(f).num_rows for f in glob.glob(os.path.join(bucket_dirs, "*.parquet"))
        )

    def _due(self, buckets: list[int], pending: int) -> dict[int, list[str]]:
        """bucket -> its files, for each of ``buckets`` whose files,
        plus ``pending`` about to be written, reach the threshold."""
        due = {}
        for b in sorted(buckets):
            files = sorted(
                glob.glob(os.path.join(self.store_dir, "d_*", f"bucket={b}", "*.parquet"))
            )
            if files and len(files) + pending >= self.compact_threshold:
                due[b] = files
        return due

    def _write_aside(self, rows: DataFrame | None, merge: dict[int, list[str]], tag: str) -> str:
        """Write ``rows`` plus every row of the files in ``merge``
        (tagged with their bucket) to a new aside dir; returns it."""
        for b, files in merge.items():
            part = (
                self.spark.read.schema(self.schema)
                .parquet(*files)
                .withColumn("bucket", F.lit(b).cast("int"))
            )
            rows = part if rows is None else rows.unionByName(part)
        aside = os.path.join(self.store_dir, f"_aside_{tag}")
        # repartition by bucket first: ONE file per touched bucket per
        # write, not one per task × bucket pair (a small-file explosion
        # that makes later admission scans open hundreds of fragments)
        rows.repartition("bucket").write.partitionBy("bucket").mode("overwrite").parquet(aside)
        return aside

    def _rename_in(self, aside: str, dest: str, merge: dict[int, list[str]]) -> None:
        """Publish ``aside`` as delta ``dest``, then delete the files it
        merged and prune the dirs they drained."""
        # Spark leaves a _SUCCESS marker; recursiveFileLookup would try
        # to read it as parquet — drop it before publish
        for marker in glob.glob(os.path.join(aside, "_*")):
            os.remove(marker)
        os.rename(aside, os.path.join(self.store_dir, dest))
        for files in merge.values():
            for f in files:
                remove_with_checksum(f)
        if merge:
            self.n_compactions += len(merge)
            self.prune_empty_dirs()

    def prune_empty_dirs(self) -> None:
        """Remove bucket/delta directories DRAINED by compaction —
        without this the store accrues one dead dir per batch and per
        compaction FOREVER, and every slice_for glob and recursive
        read_all listing walks the graveyard (re-introducing the
        O(batches) planning cost compaction exists to bound).

        'Drained' = no ``*.parquet`` left: the local committer leaves
        hidden ``.*.crc`` checksum debris behind the data files
        (invisible to Spark reads, which skip dot/underscore files), so
        a plain rmdir would never fire.  Only dirs with zero parquet
        files are removed — pruning can never drop data."""
        for bdir in glob.glob(os.path.join(self.store_dir, "d_*", "bucket=*")):
            if not glob.glob(os.path.join(bdir, "*.parquet")):
                shutil.rmtree(bdir, ignore_errors=True)
        for ddir in glob.glob(os.path.join(self.store_dir, "d_*")):
            if not glob.glob(os.path.join(ddir, "bucket=*")):
                shutil.rmtree(ddir, ignore_errors=True)


class AdmissionSink:
    """foreachBatch shell shared by the admission sinks: a
    ``BucketedDeltaStore`` of signature rows that is both the admitted
    set and the index the next batch is checked against.

    A subclass declares ``schema`` (DDL of the stored row, without
    ``bucket``), ``id_col`` and ``rows_per_doc`` (the constant number of
    stored rows per admitted document: a batch's admitted count is its
    published row count divided by it), implements ``_key()`` (the
    probe key of a stored row; its bucket is ``key % n_buckets``) and
    ``__call__``, which computes the admitted rows and hands them to
    ``_admit``.  It keeps its signatures, reject joins and serving
    methods."""

    schema: str
    id_col = "doc_id"
    rows_per_doc: int

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
        self.store = BucketedDeltaStore(
            spark, store_dir, self.schema, n_buckets, compact_threshold
        )
        self._cols = StructType.fromDDL(self.schema).names
        self.admitted_batches: list[tuple[int, int]] = []  # (batch_id, n_admitted)

    @property
    def admitted_rows(self) -> int:
        return sum(n for _, n in self.admitted_batches)

    @property
    def scan_stats(self) -> list[tuple[int, int, int]]:
        return self.store.scan_stats

    @property
    def n_compactions(self) -> int:
        return self.store.n_compactions

    def index(self) -> DataFrame:
        """Every stored signature row."""
        return self.store.read_all()

    def accepted(self) -> DataFrame:
        """Admitted ids (distinct over the index)."""
        return self.index().select(self.id_col).distinct()

    def _key(self) -> Column:
        raise NotImplementedError

    def _bucket_of(self, key: Column) -> Column:
        return F.pmod(key, F.lit(self.n_buckets)).cast("int")

    def _buckets(self, df: DataFrame, *keys: Column) -> list[int]:
        """The buckets ``df``'s probe keys (default: a stored row's own
        key) hash into: <= n_buckets scalars to the driver, a plan
        step, not data."""
        bs = [self._bucket_of(k) for k in keys or [self._key()]]
        b = bs[0] if len(bs) == 1 else F.explode(F.array(*bs))
        return sorted(r[0] for r in df.select(b.alias("b")).distinct().collect())

    def _admit(self, rows: DataFrame, batch_id: int, buckets: list[int]) -> None:
        """Publish the admitted rows as one delta (one evaluation of the
        admission plan: the write), compacting the probed buckets in the
        same write (only those can grow), and record the batch."""
        rows = rows.select(*self._cols, self._bucket_of(self._key()).alias("bucket"))
        n = self.store.publish(rows, self._cols, batch_id, buckets=buckets)
        self.admitted_batches.append((batch_id, n // self.rows_per_doc))
