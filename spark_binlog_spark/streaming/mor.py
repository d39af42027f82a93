"""Merge-on-read upsert sink: append deltas, reconstruct on read.

``ParquetUpsertSink`` (streaming/pipeline.py) is copy-on-write: every
micro-batch rewrites the full materialized state — fine for a demo,
wrong at 100 TB (per-batch cost grows with STATE size, not batch size).
This sink is the scale answer, the same design as Delta/Hudi
merge-on-read:

  write path: each batch's latest-image rows land as ONE immutable
    delta file keyed by batch id — per-batch cost is O(batch), the
    base is never touched.
  read path (``current()``): base ∪ deltas → latest row per key wins
    (delta generation > base, newer batch > older, offset breaks ties
    within a batch), deletes drop the key.  One window over the keys
    actually present in deltas; the untouched base passes through a
    broadcast anti-join, never shuffled.
  compaction (``compact()``): fold deltas into a new base and clear
    them (two-phase swap) once the delta count passes a threshold —
    amortized O(state) at a frequency YOU choose, exactly Hudi's
    compactor contract.

Exactly-once without any idempotent-merge argument: the delta file for
batch N is written under a deterministic name and OVERWRITTEN on
replay (foreachBatch is at-least-once) — replay converges to the same
bytes instead of double-applying.  Reference parity: this is the
delta-plus `idCols`/`syncType=binlog` sink contract (README.md:88-99)
with the reference's offset total order (protocols.scala:24-26)
extended to (batch_id, offset).

Semantics note (delete→update sequences): ``current()`` implements the
ONE-SHOT latest-image contract of q_cdc_apply — the winning non-delete
row joins the ORIGINAL base for columns the stream does not set.  The
copy-on-write sink applies batches sequentially, so a key deleted in
batch i and updated in batch j>i re-enters with NULL unset columns
instead.  The divergence exists ONLY because the fixture's payload is
partial; the reference requires ``binlog_row_image=full``
(README.md:30-31) — full after-images — exactly so every re-insert
carries the whole row and both application orders agree.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_binlog_spark.operators import latest_image
from spark_binlog_spark.streaming.swap import recover_dir, safe_swap


class MergeOnReadSink:
    """foreachBatch sink with O(batch) writes and window-merge reads.

    Concurrency contract: single writer (Structured Streaming runs
    foreachBatch serially), reads between batches.  A table format with
    a transaction log (Delta/Iceberg) would make reads snapshot-
    isolated against a concurrent compactor; the directory form keeps
    the container dependency-free and the plan shapes identical."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        base: DataFrame,
        key_col: str,
        set_cols: dict[str, str],
        compact_every: int = 16,
        resume: bool = False,
        change_key_col: str = "pk",
        op_col: str = "op",
        offset_col: str = "cdc_offset",
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.base_dir = os.path.join(state_dir, "base")
        self.delta_dir = os.path.join(state_dir, "deltas")
        self.key_col = key_col
        self.set_cols = set_cols  # base_col -> change_col (e.g. c_acctbal: value)
        self.change_key_col = change_key_col
        self.op_col = op_col
        self.offset_col = offset_col
        self.compact_every = compact_every
        self._schema = base.schema
        self.applied_batches: list[tuple[int, int]] = []
        recovered = recover_dir(self.base_dir)  # repair an interrupted compact()
        if not (resume and recovered):
            base.write.mode("overwrite").parquet(self.base_dir)
            shutil.rmtree(self.delta_dir, ignore_errors=True)
        os.makedirs(self.delta_dir, exist_ok=True)

    # ---------------------------------------------------------------- write
    @property
    def applied_rows(self) -> int:
        return sum(n for _, n in self.applied_batches)

    def _delta_files(self) -> list[str]:
        # only COMPLETE deltas: prefer the _SUCCESS marker (written last),
        # but sessions with success markers disabled (common on object
        # stores) must not be treated as having zero deltas — fall back
        # to "has parquet output and no in-flight _temporary dir".  A
        # crash mid-write leaves a partial b{N} that replay overwrites.
        def complete(d: str) -> bool:
            p = os.path.join(self.delta_dir, d)
            if os.path.exists(os.path.join(p, "_SUCCESS")):
                return True
            if os.path.isdir(os.path.join(p, "_temporary")):
                return False
            return any(f.endswith(".parquet") for f in os.listdir(p))

        return sorted(
            d
            for d in os.listdir(self.delta_dir)
            if d.startswith("b") and not d.endswith(".tmp") and complete(d)
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        n = batch_df.count()
        if n == 0:
            batch_df.unpersist()
            return
        # one row per key: the in-batch latest image (D3), stamped with
        # the batch id so cross-batch ordering is (batch_id, offset)
        keep = [self.change_key_col, self.op_col]
        keep += [c for c in sorted(set(self.set_cols.values())) if c not in keep]
        if self.offset_col not in keep:
            keep.append(self.offset_col)
        delta = latest_image(batch_df, [self.change_key_col], offset_col=self.offset_col).select(
            *[F.col(c) for c in keep],
            F.lit(batch_id).cast("long").alias("batch_id"),
        )
        # deterministic path => a replayed batch OVERWRITES its own file
        # (convergent, not double-applied): exactly-once by naming
        path = os.path.join(self.delta_dir, f"b{batch_id:012d}")
        delta.write.mode("overwrite").parquet(path)
        batch_df.unpersist()
        self.applied_batches.append((batch_id, n))
        if len(self._delta_files()) >= self.compact_every:
            self.compact()

    # ---------------------------------------------------------------- read
    def _deltas(self) -> DataFrame | None:
        files = self._delta_files()
        if not files:
            return None
        return self.spark.read.parquet(*[os.path.join(self.delta_dir, f) for f in files])

    def current(self) -> DataFrame:
        """base ∪ deltas with last-writer-wins per key.

        Plan shape: the winning delta row per key is a window over the
        DELTA rows only (delta-sized, not state-sized); the base passes
        through `base ⟕ broadcast(delta keys)` with a null filter
        (anti join) — scanned once, shuffled never.
        """
        base = self.spark.read.schema(self._schema).parquet(self.base_dir)
        deltas = self._deltas()
        if deltas is None:
            return base
        # compound sort key, NOT a packed integer: batch_id * 2^40 + offset
        # would invert the order once a packed reference-style offset
        # (fileId * 10^13 + pos > 2^40) shows up in cdc_offset
        winner = latest_image(deltas, [self.change_key_col], offset_col=["batch_id", self.offset_col])
        upserts_src = winner.filter(F.col(self.op_col) != "delete")
        # broadcasting the PRESERVED side of an outer join is
        # unsupported (would silently shuffle the base) — so: anti-join
        # for untouched, inner for matched, pruned key probe + small
        # anti-join for the brand-new keys.  The base is scanned twice
        # (once key-pruned), shuffled never — unlike cdc_apply, which
        # shuffles it once; here reads must stay O(deltas).
        touched_keys = winner.select(F.col(self.change_key_col).alias("__k"))
        untouched = base.join(
            F.broadcast(touched_keys), base[self.key_col] == F.col("__k"), "left_anti"
        )
        matched = base.join(
            F.broadcast(upserts_src),
            base[self.key_col] == upserts_src[self.change_key_col],
            "inner",
        )
        out_cols = []
        for f in self._schema.fields:
            if f.name in self.set_cols:
                out_cols.append(
                    upserts_src[self.set_cols[f.name]].cast(f.dataType).alias(f.name)
                )
            else:
                out_cols.append(base[f.name].alias(f.name))
        matched = matched.select(*out_cols)
        matched_keys = (
            base.select(F.col(self.key_col).alias("__bk"))
            .join(F.broadcast(touched_keys), F.col("__bk") == F.col("__k"), "inner")
            .select("__bk")
        )
        new_rows = upserts_src.join(
            F.broadcast(matched_keys),
            upserts_src[self.change_key_col] == F.col("__bk"),
            "left_anti",
        )
        ins_cols = []
        for f in self._schema.fields:
            if f.name == self.key_col:
                ins_cols.append(new_rows[self.change_key_col].cast(f.dataType).alias(f.name))
            elif f.name in self.set_cols:
                ins_cols.append(new_rows[self.set_cols[f.name]].cast(f.dataType).alias(f.name))
            else:
                ins_cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return untouched.unionByName(matched).unionByName(new_rows.select(*ins_cols))

    # ---------------------------------------------------------------- maintain
    def compact(self) -> None:
        """Fold deltas into the base (two-phase) and clear them.

        Crash-safe: the new base materializes under a tmp name first,
        then ``safe_swap`` (move-aside ordering — a complete copy exists
        at every instant; ``recover_dir`` in ``__init__`` repairs any
        crash point on restart).  A crash between base swap and delta
        cleanup leaves deltas whose reapplication is convergent (same
        winning rows)."""
        files = self._delta_files()
        if not files:
            return
        tmp = self.base_dir + ".compact"
        self.current().write.mode("overwrite").parquet(tmp)
        safe_swap(self.base_dir, tmp)
        for f in files:
            shutil.rmtree(os.path.join(self.delta_dir, f))
