"""Bucketed co-located join (no exchange) + routed-table compaction."""

import os
import shutil

from pyspark.sql import functions as F

from spark_binlog_spark.cdc import changes_df, load_table
from spark_binlog_spark.operators.bucketing import (
    bucketed_join,
    compact_routed_table,
    save_bucketed,
)
from spark_binlog_spark.operators.router import route_to_tables
from tests.conftest import SF_TEST, _CrashAt


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    ch = changes_df(spark, SF_TEST).select("cdc_offset", "pk", "op", "value")
    cust = load_table(spark, SF_TEST, "customer").select(
        F.col("c_custkey").alias("pk"), "c_mktsegment"
    )
    save_bucketed(ch, "b_changes", "pk", n_buckets=8)
    save_bucketed(cust, "b_customer", "pk", n_buckets=8)
    try:
        joined = bucketed_join(spark, "b_changes", "b_customer", "pk")
        # disable broadcast so the co-located property is what's tested
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try:
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan  # buckets align: no shuffle
            n = joined.count()
            plain = ch.join(cust, "pk").count()
            assert n == plain > 0
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS b_changes")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_compaction_preserves_content(spark, tmp_path):
    out = str(tmp_path / "routed")
    ch = changes_df(spark, SF_TEST).select("cdc_offset", "pk", "database_name", "table_name")
    # three appends -> many small files
    for _ in range(3):
        route_to_tables(ch, out)
    before = spark.read.parquet(out)
    n_before = before.count()
    files_before = sum(len(fs) for _, _, fs in os.walk(out))

    compact_routed_table(spark, out, target_files_per_partition=1)
    after = spark.read.parquet(out)
    assert after.count() == n_before
    files_after = sum(len(fs) for _, _, fs in os.walk(out))
    assert files_after < files_before
    # per-partition-dir parquet count is now 1
    for db in [d for d in os.listdir(out) if d.startswith("database_name=")]:
        for t in os.listdir(f"{out}/{db}"):
            if t.startswith("table_name="):
                pq_files = [f for f in os.listdir(f"{out}/{db}/{t}") if f.endswith(".parquet")]
                assert len(pq_files) == 1


def test_compaction_crash_at_every_step_keeps_rows(spark, tmp_path, monkeypatch):
    """For k = 1, 2, ...: crash compaction at its k-th filesystem step,
    then ``recover_dir``; the routed table keeps every row.  The loop
    ends at the first k the compaction no longer reaches."""
    from spark_binlog_spark.streaming.swap import recover_dir

    seed = str(tmp_path / "seed")
    ch = changes_df(spark, SF_TEST).select("cdc_offset", "pk", "database_name", "table_name")
    for _ in range(2):
        route_to_tables(ch, seed)

    def rows(path):
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    want = rows(seed)
    crash = _CrashAt(monkeypatch)
    step = 0
    while True:
        step += 1
        assert step <= 10, "a compaction should take a handful of filesystem steps"
        out = str(tmp_path / f"step{step}" / "routed")
        shutil.copytree(seed, out)
        crash.reset(step)
        crash.armed = True
        try:
            compact_routed_table(spark, out)
        except OSError:
            pass
        finally:
            crash.armed = False
        if not crash.fired:
            break
        assert recover_dir(out), f"crash at compaction step {step} lost the table"
        assert rows(out) == want, f"crash at compaction step {step}"
    assert step > 2, "expected a multi-step swap"
