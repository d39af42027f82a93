"""Streaming CDC pipelines over the ``binlog_fixture`` source.

The documented reference pipeline (README.md:106-184): bootstrap
snapshot, then stream binlog -> parse -> latest-image -> upsert sink.
Here: ``readStream.format("binlog_fixture")`` -> ``from_json`` parse ->
``foreachBatch`` MERGE (D3+D4 per micro-batch), plus the O6
watermark+dropDuplicates dedup stage.

The foreachBatch sink maintains the materialized table as parquet
(overwrite-per-batch on a small state dir — at production scale this
is a Delta/Iceberg MERGE; parquet keeps the container dependency-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from spark_binlog_spark.envelope import envelope_schema, flatten_rows
from spark_binlog_spark.operators import cdc_apply
from spark_binlog_spark.sources.binlog_fixture import register
from spark_binlog_spark.streaming.swap import recover_dir, safe_swap

STREAM_ROW_SCHEMA = StructType(
    [
        StructField("pk", LongType()),
        StructField("value", DoubleType()),
        StructField("op", StringType()),
        StructField("cdc_offset", LongType()),
        StructField("k", LongType()),
    ]
)


def read_stream(spark: SparkSession, events_path: str, **options) -> DataFrame:
    """Unbounded ``value: string`` stream of envelope JSON."""
    register(spark)
    reader = spark.readStream.format("binlog_fixture").option("path", events_path)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


def parse_stream(wire: DataFrame) -> DataFrame:
    """D1 on the stream: envelope -> flattened typed change rows."""
    # single from_json into a struct; see pipeline.py — multi-referencing
    # the parse expression re-parses the JSON per field
    env = F.from_json(F.col("value"), envelope_schema(STREAM_ROW_SCHEMA))
    parsed = wire.select(env.alias("env")).select(
        F.col("env.type").alias("op"),
        F.col("env.timestamp").alias("ts_ms"),
        F.col("env.databaseName").alias("database_name"),
        F.col("env.tableName").alias("table_name"),
        F.col("env.rows").alias("rows"),
    )
    flat = flatten_rows(parsed)
    return flat.select(
        "op",
        "ts_ms",
        "database_name",
        "table_name",
        F.col("row.pk").alias("pk"),
        F.col("row.value").alias("value"),
        F.col("row.cdc_offset").alias("cdc_offset"),
        F.col("row.k").alias("k"),
    )


STREAM_ROW_SCHEMA_V2 = StructType(
    STREAM_ROW_SCHEMA.fields + [StructField("ts_ms", LongType())]
)


def parse_stream_evolving(wire: DataFrame) -> DataFrame:
    """D1 under a MID-STREAM SCHEMA CHANGE: parse with the MERGED
    (v1 ∪ v2) row schema — v1 events simply lack the added column and
    resolve it to null (the reference's omitted-column convention,
    InsertRowsWriter.java:51-53) — and read each event's OWN embedded
    ``schema`` field to recover which epoch it was written under (the
    reference re-ships the schema on every TABLE_MAP,
    BinLogSocketServerInExecutor.scala:228-236, so an ALTER TABLE is
    visible in the very next event).  schema_ver = 1 + (the embedded
    schema declares the ts_ms field) — derived per event from the wire,
    not assumed."""
    env = F.from_json(F.col("value"), envelope_schema(STREAM_ROW_SCHEMA_V2))
    parsed = wire.select(env.alias("env")).select(
        F.col("env.type").alias("op"),
        F.col("env.timestamp").alias("ts_ms_event"),
        F.col("env.databaseName").alias("database_name"),
        F.col("env.tableName").alias("table_name"),
        # the shipped schema is a StructType JSON string; count its
        # declared fields to identify the epoch (5 = v1, 6 = v2)
        F.when(
            F.get_json_object(F.col("env.schema"), "$.fields[5].name").isNotNull(),
            F.lit(2),
        )
        .otherwise(F.lit(1))
        .cast("long")
        .alias("schema_ver"),
        F.col("env.rows").alias("rows"),
    )
    flat = flatten_rows(parsed)
    return flat.select(
        "op",
        "database_name",
        "table_name",
        "schema_ver",
        F.col("row.pk").alias("pk"),
        F.col("row.value").alias("value"),
        F.col("row.cdc_offset").alias("cdc_offset"),
        F.col("row.k").alias("k"),
        F.col("row.ts_ms").alias("ts_ms"),
    )


def dedup_stream(changes: DataFrame, watermark_ms: int = 60_000) -> DataFrame:
    """O6 — streaming monotonic dedup: watermark + dropDuplicates on
    (key, offset) (OriginalSourceServerInExecutor.scala:164-171).

    STATE CAVEAT: with the event-time column absent from the dedup
    keys, ``dropDuplicates`` never evicts its state — exact dedup over
    the whole stream history, at unbounded state cost.  Right for
    bounded replays/tests; for an unbounded 100 TB stream use
    ``dedup_stream_bounded``."""
    with_ts = changes.withColumn("event_time", F.timestamp_millis(F.col("ts_ms")))
    return with_ts.withWatermark("event_time", f"{watermark_ms} milliseconds").dropDuplicates(
        ["pk", "cdc_offset"]
    )


def dedup_stream_bounded(changes: DataFrame, watermark_ms: int = 60_000) -> DataFrame:
    """O6, the UNBOUNDED-STREAM form: ``dropDuplicatesWithinWatermark``
    keeps a (key, offset) only until the watermark passes its event
    time, so dedup state is bounded by the watermark window instead of
    the stream history.  Exactly the right contract for at-least-once
    replay dedup — a replayed duplicate arrives close to its original
    (within the replay window), never a week later; choose
    ``watermark_ms`` >= the worst-case replay gap."""
    with_ts = changes.withColumn("event_time", F.timestamp_millis(F.col("ts_ms")))
    return with_ts.withWatermark(
        "event_time", f"{watermark_ms} milliseconds"
    ).dropDuplicatesWithinWatermark(["pk", "cdc_offset"])


class ParquetUpsertSink:
    """foreachBatch MERGE sink: applies each micro-batch onto the
    materialized state (the delta-plus idCols/syncType=binlog contract,
    README.md:88-99).

    Per batch: ``persist`` + ``count`` of the micro-batch (the stateful
    upstream runs once, and a no-data batch leaves the state alone),
    then ``cdc_apply`` — one shuffle of state ∪ batch — written to a
    tmp dir and swapped in with ``safe_swap``.  A warm trigger is three
    Spark jobs: the count, the shuffle stage and the write.

    Exactly-once story: foreachBatch is at-least-once under hard crashes
    (a batch can complete its writes but die before the checkpoint
    commit, then replay).  That is safe here because ``cdc_apply`` is
    IDEMPOTENT — re-merging a batch into state that already reflects it
    upserts identical values and re-deletes absent keys, a fixpoint.
    This is the same argument the reference makes with its monotonic
    offset guard (O6) over the at-least-once WAL.  The swap keeps a
    complete copy of the state on disk at every instant, and
    ``recover_dir`` in ``__init__`` repairs a crash at any step of it,
    so ``resume=True`` never re-bootstraps over applied batches."""

    def __init__(self, spark: SparkSession, state_dir: str, base: DataFrame, key_col: str,
                 set_cols: dict[str, str], resume: bool = False):
        self.spark = spark
        self.state_dir = state_dir
        self.key_col = key_col
        self.set_cols = set_cols
        self._schema = base.schema
        self.applied_batches: list[tuple[int, int]] = []  # (batch_id, n_rows)
        # resume=True: keep the existing materialized state (crash
        # recovery — the stream restarts from its checkpoint and this
        # sink must restart from ITS matching state, not re-bootstrap)
        if not (recover_dir(state_dir) and resume):
            base.write.mode("overwrite").parquet(state_dir)

    @property
    def applied_rows(self) -> int:
        return sum(n for _, n in self.applied_batches)

    def current(self) -> DataFrame:
        return self.spark.read.schema(self._schema).parquet(self.state_dir)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            n = batch_df.count()
            if n == 0:
                return
            merged = cdc_apply(
                self.current(),
                batch_df,
                key_col=self.key_col,
                set_cols=self.set_cols,
            )
            # two-phase write: materialize to a tmp dir, then swap, so the
            # read of the current state never races the overwrite
            tmp = self.state_dir + f".b{batch_id}"
            merged.write.mode("overwrite").parquet(tmp)
            safe_swap(self.state_dir, tmp)
        finally:
            batch_df.unpersist()
        self.applied_batches.append((batch_id, n))


def await_stream(query, predicate, timeout_s: float = 120.0) -> bool:
    """Run a processing-time-triggered query until ``predicate()`` is
    true (or timeout), then stop it.  Polls OUR OWN sink-side state, not
    StreamingQueryProgress.numInputRows — that metric is unreliable for
    Python data sources when several have run in one session (observed:
    a fresh query's batch 0 reporting a prior query's row count).

    Needed because the Python DataSource API has no
    SupportsTriggerAvailableNow: with a maxEventsPerTrigger cap,
    availableNow falls back to ONE capped batch and would drop the tail.
    """
    import time

    deadline = time.monotonic() + timeout_s
    ok = False
    while time.monotonic() < deadline:
        if query.exception() is not None:
            break
        if predicate():
            ok = True
            break
        time.sleep(0.2)
    query.stop()
    query.awaitTermination()
    return ok


def run_cdc_upsert(
    spark: SparkSession,
    events_path: str,
    base: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "c_custkey",
    set_cols: dict[str, str] | None = None,
    await_events: int | None = None,
    resume: bool = False,
    **source_options,
) -> "ParquetUpsertSink":
    """Bootstrap + stream-apply: returns the sink whose ``current()`` is
    the continuously-merged table.

    Without ``await_events``: one availableNow batch (uncapped sources).
    With ``await_events``: processing-time micro-batches until that many
    events have been applied — use together with maxEventsPerTrigger.
    ``resume=True``: restart after a crash — keep the existing state dir
    and let the checkpoint decide which offsets are still unprocessed.
    """
    set_cols = set_cols or {"c_acctbal": "value"}
    sink = ParquetUpsertSink(spark, state_dir, base, key_col, set_cols, resume=resume)
    wire = read_stream(spark, events_path, **source_options)
    changes = parse_stream(wire)
    writer = changes.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint_dir)
    if await_events is None:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.trigger(processingTime="200 milliseconds").start()
        if not await_stream(q, lambda: sink.applied_rows >= await_events):
            raise TimeoutError(
                f"stream applied {sink.applied_rows}/{await_events} events before timeout"
            )
    return sink
