"""The flagship copy-on-write sink (``ParquetUpsertSink`` behind
``run_cdc_upsert``): a crash at every filesystem step of one batch
commit must resume to the one-shot ``cdc_apply`` result, and neither
the stream, a batch apply nor a merge-on-read read or compaction may
leave a persisted RDD behind."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.conftest import SF_TEST, _CrashAt

T0 = 1_700_000_000_000_000_000  # ns
TYPES = ["signup", "click", "view", "purchase", "error"]
# batch 0 (events 0-7) touches keys 0-7: updates, a delete, new keys;
# later batches touch keys 0-2 only, so losing batch 0 shows in 3-7
EVENTS = [(i, T0 + i, i if i < 8 else i % 3, TYPES[i % 5], 100.0 + i, "{}") for i in range(24)]
PER_TRIGGER = 8


def _write_events(path):
    cols = list(zip(*EVENTS))
    pq.write_table(pa.table({
        "event_id": pa.array(cols[0], pa.int64()),
        "ts": pa.array(cols[1], pa.timestamp("ns")),
        "user_id": pa.array(cols[2], pa.int64()),
        "event_type": pa.array(cols[3], pa.string()),
        "value": pa.array(cols[4], pa.float64()),
        "props": pa.array(cols[5], pa.string()),
    }), path)


def _base(spark):
    return spark.createDataFrame(
        [Row(c_custkey=k, c_name=f"n{k}", c_acctbal=float(k)) for k in range(6)]
    )


def _changes(spark, path):
    return spark.read.parquet(path).select(
        F.col("event_id").alias("cdc_offset"),
        F.col("user_id").alias("pk"),
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update")
        .alias("op"),
        F.col("value"),
    )


def _expected(spark, base, path):
    from spark_binlog_spark.operators import cdc_apply

    applied = cdc_apply(
        base, _changes(spark, path), key_col="c_custkey", set_cols={"c_acctbal": "value"}
    )
    return {(r["c_custkey"], r["c_acctbal"]) for r in applied.collect()}


class TestCommitCrashMatrix:
    def test_crash_at_every_commit_step_resumes_to_one_shot(self, spark, tmp_path, monkeypatch):
        """For k = 1, 2, ...: crash the second batch's commit at its k-th
        filesystem step, restart with ``resume=True`` from the same
        checkpoint and state; the table must equal the one-shot apply.
        The loop ends at the first k the commit no longer reaches."""
        from spark_binlog_spark.streaming.pipeline import (
            ParquetUpsertSink,
            await_stream,
            parse_stream,
            read_stream,
            run_cdc_upsert,
        )

        path = str(tmp_path / "ev.parquet")
        _write_events(path)
        base = _base(spark)
        expected = _expected(spark, base, path)
        crash = _CrashAt(monkeypatch)
        step = 0
        while True:
            step += 1
            assert step <= 10, "a batch commit should take a handful of filesystem steps"
            run = tmp_path / f"step{step}"
            state, ckpt = str(run / "state"), str(run / "ck")
            crash.reset(step)
            sink = ParquetUpsertSink(spark, state, base, "c_custkey", {"c_acctbal": "value"})

            def crashing(batch_df, batch_id, sink=sink):
                crash.armed = len(sink.applied_batches) == 1
                try:
                    sink(batch_df, batch_id)
                finally:
                    crash.armed = False

            wire = read_stream(spark, path, numPartitions=2, maxEventsPerTrigger=PER_TRIGGER)
            q = (
                parse_stream(wire).writeStream.foreachBatch(crashing)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="200 milliseconds")
                .start()
            )
            try:
                finished = await_stream(q, lambda: sink.applied_rows >= len(EVENTS))
            except Exception:  # the injected crash failed the query
                finished = False
            if not crash.fired:
                assert finished
                break
            assert not finished
            done = sink.applied_rows
            assert done == PER_TRIGGER, f"step {step}: crash outside the second batch"

            resumed = run_cdc_upsert(
                spark, path, base, state, ckpt, resume=True,
                await_events=len(EVENTS) - done,
                numPartitions=2, maxEventsPerTrigger=PER_TRIGGER,
            )
            got = {(r["c_custkey"], r["c_acctbal"]) for r in resumed.current().collect()}
            assert got == expected, f"crash at commit step {step} lost or corrupted state"
            leftovers = [d for d in os.listdir(run) if d.startswith("state.")]
            assert leftovers == [], f"step {step}: {leftovers}"
        assert step > 2, "expected a multi-step swap"


class TestCacheHygiene:
    def test_stream_and_batch_apply_release_persisted_rdds(self, spark, tmp_path):
        from spark_binlog_spark.queries_cdc import q_cdc_apply
        from spark_binlog_spark.streaming.pipeline import run_cdc_upsert

        jsc = spark.sparkContext._jsc
        start = jsc.getPersistentRDDs().size()
        path = str(tmp_path / "ev.parquet")
        _write_events(path)
        sink = run_cdc_upsert(
            spark, path, _base(spark), str(tmp_path / "state"), str(tmp_path / "ck"),
            await_events=len(EVENTS), numPartitions=2, maxEventsPerTrigger=4,
        )
        assert len(sink.applied_batches) >= 5
        assert jsc.getPersistentRDDs().size() == start

        q_cdc_apply(spark, SF_TEST).collect()
        assert jsc.getPersistentRDDs().size() == start

    def test_merge_on_read_read_and_compact_release_persisted_rdds(self, spark, tmp_path):
        from spark_binlog_spark.streaming.mor import MergeOnReadSink

        jsc = spark.sparkContext._jsc
        start = jsc.getPersistentRDDs().size()
        path = str(tmp_path / "ev.parquet")
        _write_events(path)
        sink = MergeOnReadSink(
            spark, str(tmp_path / "state"), _base(spark), "c_custkey", {"c_acctbal": "value"},
            compact_every=100,
        )
        sink(_changes(spark, path), 0)
        sink.current().collect()
        assert jsc.getPersistentRDDs().size() == start
        sink.compact()
        assert jsc.getPersistentRDDs().size() == start
