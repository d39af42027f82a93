"""One base for the mergeable summary stores: a bounded parquet relation
that each micro-batch folds one delta into.

A store subclass declares its columns (``schema``, DDL), the columns
that identify a row (``keys``) and how rows merge (``merge``), and
implements ``_delta(batch_df, batch_id)``; it keeps its own serving
methods.  The four merge kinds:

- ``sum``/``max``: one ``groupBy(keys)`` over store ∪ delta that sums
  or maxes the value columns (a NULL key is one group like any other);
- ``bottom-k``: union, then per ``keys[0]`` group the ``k`` smallest
  distinct rows by ``order`` (the same row, e.g. a term hash, can
  arrive in two batches; store and delta hold at most ``2k`` rows per
  group, so one window suffices);
- ``distinct-union``: union, then distinct rows.

Exactly-once: foreachBatch is at-least-once under hard crashes, and a
``sum`` merge is not idempotent.  Every row of the store therefore
carries the id of the last batch merged into it, and a batch whose id is
not above ``max(batch_id)`` is a replay (a crash between the swap and
the checkpoint commit) and is skipped.  This is the reference's
monotonic offset guard (OriginalSourceServerInExecutor.scala:164-171);
the idempotent merges keep it too, so every store has the same replay
contract.  The ratchet is read from the store files' parquet footers
(``last_batch_id``: the max of the ``batch_id`` column statistics, -1
for a store with no rows), driver metadata with no Spark job.
Each batch writes the merged store to ``<dir>.b<batch_id>`` and swaps it
in with ``safe_swap``; ``recover_dir`` repairs any crash point when the
store is opened again.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.sql.window import Window

from spark_binlog_spark.streaming.swap import recover_dir, safe_swap


def last_batch_id(path: str) -> int:
    """The largest ``batch_id`` in the parquet store at ``path``, from
    its files' column statistics (-1 when it holds no rows).  Spark
    writes min/max for every bigint column chunk: one without is an
    error, not a reason to scan."""
    stats = [
        md.row_group(g).column(md.schema.names.index("batch_id")).statistics
        for md in map(pq.read_metadata, glob.glob(os.path.join(path, "*.parquet")))
        for g in range(md.num_row_groups)
    ]
    if not all(st is not None and st.has_min_max for st in stats):
        raise ValueError(f"{path}: a batch_id column chunk has no min/max statistics")
    return max((st.max for st in stats), default=-1)


class MergeableStore:
    """foreachBatch sink over one mergeable summary relation."""

    schema: str  # DDL of the stored columns, batch_id excluded
    keys: tuple[str, ...] = ()
    merge: str  # "sum" | "max" | "bottom-k" | "distinct-union"
    order: tuple[str, ...] = ()  # bottom-k ordering
    k: int = 0  # bottom-k size

    def __init__(self, spark: SparkSession, stats_dir: str, resume: bool = True):
        self.spark = spark
        self.stats_dir = stats_dir
        self._schema = self._open(stats_dir, self.schema, resume)
        self._cols = self._schema.names[:-1]  # all but batch_id

    def _open(self, path: str, ddl: str, resume: bool) -> StructType:
        """Recover ``path`` after a crash, then resume it or start it
        empty; returns the store schema (``ddl`` plus ``batch_id``)."""
        schema = StructType(
            StructType.fromDDL(ddl).fields + [StructField("batch_id", LongType())]
        )
        ok = recover_dir(path)
        if not (resume and ok):
            self.spark.createDataFrame([], schema).write.mode("overwrite").parquet(path)
            return schema
        # resuming a store of another column set would fill the missing
        # columns with NULL keys that never merge: fail fast
        actual = set(self.spark.read.parquet(path).schema.names)
        if actual != set(schema.names):
            raise ValueError(
                f"store {path} has columns {sorted(actual)} but this sink expects "
                f"{sorted(schema.names)}: rebuild the store (its source stream is "
                "replayable) or resume with the matching sink"
            )
        return schema

    def _stats(self) -> DataFrame:
        return self.spark.read.schema(self._schema).parquet(self.stats_dir)

    def _last_batch_id(self) -> int:
        return last_batch_id(self.stats_dir)

    def _delta(self, batch_df: DataFrame, batch_id: int) -> DataFrame | None:
        """The batch's summary, in the store's columns; None skips the
        batch without recording it."""
        raise NotImplementedError

    def _merged(self, delta: DataFrame) -> DataFrame:
        both = self._stats().select(*self._cols).unionByName(delta.select(*self._cols))
        if self.merge in ("sum", "max"):
            fold = F.sum if self.merge == "sum" else F.max
            return both.groupBy(*self.keys).agg(
                *[fold(c).cast("long").alias(c) for c in self._cols if c not in self.keys]
            )
        both = both.distinct()
        if self.merge == "distinct-union":
            return both
        w = Window.partitionBy(self.keys[0]).orderBy(*self.order)
        return both.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= self.k)

    def _publish(self, df: DataFrame, path: str, batch_id: int) -> None:
        tmp = f"{path}.b{batch_id}"
        df.write.mode("overwrite").parquet(tmp)
        safe_swap(path, tmp)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= self._last_batch_id():
            return  # replayed batch
        delta = self._delta(batch_df, batch_id)
        if delta is None:
            return
        merged = self._merged(delta).select(
            *self._cols, F.lit(batch_id).cast("long").alias("batch_id")
        )
        self._publish(merged, self.stats_dir, batch_id)
