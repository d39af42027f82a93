"""Streaming-source tests: the binlog_fixture DataSource + CDC pipelines.

Mirrors the reference's test strategy (BinlogSuite.scala:106-230): drive
a change scenario through the streaming source and assert per-batch and
final-state behavior — here against the replayable fixture instead of a
live MySQL.
"""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_TEST


def _write_events(path, rows):
    """rows: list of (event_id, ts_ns, user_id, event_type, value, props)"""
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("ns")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, path)


T0 = 1_700_000_000_000_000_000  # ns


class TestArrowEncoderParity:
    def test_vectorized_matches_scalar_encoder(self):
        """The pure-arrow batch encoder must produce envelopes that
        parse to EXACTLY what the scalar ``_envelope_json`` produces —
        same field order, same values (the one allowed byte divergence
        is float rendering, e.g. ``3`` vs ``3.0``, which the JSON parse
        erases) — across the quirk cases: NaN value, integral value,
        negative k, malformed / null props."""
        from spark_binlog_spark.sources.binlog_fixture import (
            _encode_batch_vectorized,
            _envelope_json,
        )

        rows = [
            (0, T0, 1, "signup", 1.5, json.dumps({"k": 3})),
            (1, T0 + 10**9, 2, "error", float("nan"), json.dumps({"k": -7})),
            (2, T0 + 2 * 10**9, 3, "click", 42.0, "not json"),
            (3, T0 + 3 * 10**9, 4, "view", -0.25, None),
            (4, T0 + 4 * 10**9, 5, "click", 1e20, json.dumps({"k": "str"})),
            # float k -> null on BOTH paths (integer-only contract)
            (5, T0 + 5 * 10**9, 6, "click", 1.0, json.dumps({"k": 5.0})),
            # k only inside a nested object -> null on BOTH paths
            (6, T0 + 6 * 10**9, 7, "click", 1.0, json.dumps({"a": {"k": 9}})),
            # top-level k AFTER a nested value: beyond RE2 brace
            # balancing — the vectorized scalar-fallback must find it
            (8, T0 + 8 * 10**9, 9, "click", 1.0, json.dumps({"x": {"a": 1}, "k": 2})),
            # ...and the fallback must still reject non-int k there
            (9, T0 + 9 * 10**9, 10, "click", 1.0, json.dumps({"x": {"a": 1}, "k": 2.5})),
            # null event_type -> op 'update' on BOTH paths (never a
            # null wire line)
            (7, T0 + 7 * 10**9, 8, None, 1.0, json.dumps({"k": 1})),
        ]
        batch = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("ns")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows], pa.string()),
            }
        ).to_batches()[0]
        got = _encode_batch_vectorized(batch).to_pylist()
        assert len(got) == len(rows)
        for line, r in zip(got, rows):
            expected = _envelope_json(r[0], r[1], r[2], r[3], r[4], r[5])
            g = json.loads(line)
            e = json.loads(expected)
            # NaN serializes as null in both paths; parsed dicts equal
            assert g == e, f"parsed envelope mismatch for {r}: {g} != {e}"
            # exact field order on the wire (AbstractEventWriter.java:22-46)
            assert list(g.keys()) == list(e.keys())
            assert list(g["rows"][0].keys()) == list(e["rows"][0].keys())

    def test_vectorized_filters_match_python_semantics(self):
        """db/table regex filters now run as Arrow RE2 kernels — must
        keep re.search (substring) semantics, and region mode must
        filter by uid % n_regions."""
        from spark_binlog_spark.sources.binlog_fixture import _encode_batch_vectorized

        rows = [(i, T0 + i, uid, "click", 1.0, None) for i, uid in enumerate(range(8))]
        batch = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("ns")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows], pa.string()),
            }
        ).to_batches()[0]
        tables = [
            json.loads(s)["tableName"]
            for s in _encode_batch_vectorized(batch, table_pattern="t_[13]").to_pylist()
        ]
        assert tables and set(tables) == {"t_1", "t_3"}
        pks = [
            json.loads(s)["rows"][0]["pk"]
            for s in _encode_batch_vectorized(batch, region=2, n_regions=4).to_pylist()
        ]
        assert pks == [2, 6]  # uid % 4 == 2


class TestFixtureSource:
    def test_stream_counts_and_wire_format(self, spark, tmp_path):
        from spark_binlog_spark.streaming.pipeline import read_stream

        events_path = f"{SF_TEST}/events.parquet"
        wire = read_stream(spark, events_path, numPartitions=4)
        assert wire.isStreaming
        assert [f.name for f in wire.schema.fields] == ["value"]  # fixed schema

        q = (
            wire.writeStream.format("memory")
            .queryName("wire_all")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.table("wire_all")
        expected = spark.read.parquet(events_path).count()
        assert got.count() == expected

        env = json.loads(got.limit(1).collect()[0]["value"])
        # envelope field presence + order (AbstractEventWriter.java:22-46)
        assert list(env.keys()) == ["type", "timestamp", "databaseName", "tableName", "schema", "rows"]
        assert env["type"] in ("insert", "update", "delete")
        assert isinstance(env["rows"], list) and "pk" in env["rows"][0]
        # embedded per-event schema (AbstractEventWriter.java:35-39): the
        # shipped StructType JSON declares the row column types
        shipped = json.loads(env["schema"])
        types = {f["name"]: f["type"] for f in shipped["fields"]}
        assert types["pk"] == "long" and types["value"] == "double"

    def test_offset_range_batching(self, spark, tmp_path):
        """maxEventsPerTrigger caps each micro-batch (B2 admission control)."""
        from spark_binlog_spark.streaming.pipeline import read_stream

        rows = [(i, T0 + i * 10**9, i % 3, "click", float(i), '{"k": 1}') for i in range(20)]
        path = str(tmp_path / "events20.parquet")
        _write_events(path, rows)

        from spark_binlog_spark.streaming.pipeline import await_stream

        wire = read_stream(spark, path, numPartitions=2, maxEventsPerTrigger=6)
        batches: list[tuple[int, int]] = []

        def record(bdf, bid):
            batches.append((bid, bdf.count()))

        q = (
            wire.writeStream.foreachBatch(record)
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        ok = await_stream(q, lambda: sum(n for _, n in batches) >= 20)
        assert ok, f"only {batches} before timeout"
        nonzero = [n for _, n in batches if n > 0]
        assert sum(nonzero) == 20
        assert len(nonzero) >= 4  # ceil(20/6) batches at least
        assert max(nonzero) <= 6  # admission cap respected per batch

    def test_source_option_filters(self, spark, tmp_path):
        """Reference option parity: databaseNamePattern/tableNamePattern
        gate events at INGEST (F1 at the source,
        BinLogSocketServerInExecutor.scala:219-237), startTimeMs skips
        older events, and path accepts a comma-separated list (the
        walLogPath + oldWALLogPath shape)."""
        import json as _json

        from spark_binlog_spark.sources.binlog_fixture import register

        rows_a = [(i, T0 + i * 10**9, i % 8, "click", 1.0, "{}") for i in range(10)]
        rows_b = [(10 + i, T0 + (10 + i) * 10**9, i % 8, "click", 1.0, "{}") for i in range(10)]
        pa_, pb_ = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
        _write_events(pa_, rows_a)
        _write_events(pb_, rows_b)
        register(spark)

        # multi-path + table pattern (db_1 only => odd user ids)
        df = (
            spark.read.format("binlog_fixture")
            .option("path", f"{pa_},{pb_}")
            .option("databaseNamePattern", "^db_1$")
            .load()
        )
        envs = [_json.loads(r["value"]) for r in df.collect()]
        assert len(envs) == 10  # half of 20 events
        assert {e["databaseName"] for e in envs} == {"db_1"}
        offs = {e["rows"][0]["cdc_offset"] for e in envs}
        assert offs & set(range(10)) and offs & set(range(10, 20))  # both files read

        # startTimeMs skips the first half by event time
        cutoff_ms = (T0 + 10 * 10**9) // 1_000_000
        df2 = (
            spark.read.format("binlog_fixture")
            .option("path", f"{pa_},{pb_}")
            .option("startTimeMs", str(cutoff_ms))
            .load()
        )
        offs2 = {_json.loads(r["value"])["rows"][0]["cdc_offset"] for r in df2.collect()}
        assert offs2 == set(range(10, 20))

    def test_segmented_stream_matches_flat_with_packed_offsets(self, spark, tmp_path):
        """ROTATION, bounded: the same events split across four
        mysql-bin.%06d segment files stream to the identical row set as
        the flat file, and the offsets Spark CHECKPOINTS are the packed
        (fileId, pos) composites (protocols.scala:6-26) — file id
        advances across the rotation boundaries, pos restarts at 4."""
        import json as _json

        from spark_binlog_spark import POW13
        from spark_binlog_spark.sources.binlog_fixture import (
            BinlogFixtureStreamReader,
            write_segments,
        )
        from spark_binlog_spark.streaming.pipeline import parse_stream, read_stream

        flat = f"{SF_TEST}/events.parquet"
        seg_dir = str(tmp_path / "binlog")
        write_segments(flat, seg_dir, n_segments=4)

        wire = read_stream(spark, seg_dir, numPartitions=4)
        q = (
            parse_stream(wire)
            .writeStream.format("memory")
            .queryName("seg_stream")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.table("seg_stream")
        expected = spark.read.parquet(flat)
        assert got.count() == expected.count()
        assert got.select("cdc_offset").distinct().count() == expected.count()

        # the committed offset in the checkpoint log is the packed form
        with open(tmp_path / "ck" / "offsets" / "0") as fh:
            last = fh.read().strip().splitlines()[-1]
        packed = _json.loads(last)["offset"]
        assert packed >= POW13, f"checkpointed offset {packed} is not packed"
        assert packed // POW13 == 4  # ended inside mysql-bin.000004

        # offset protocol: initialOffset starts at (file 1, pos 4);
        # latestOffset names the last file with pos past its row count
        r = BinlogFixtureStreamReader({"path": seg_dir})
        first = r.initialOffset()["offset"]
        assert (first // POW13, first % POW13) == (1, 4)
        last_off = r.latestOffset()["offset"]
        n = expected.count()
        per_seg = (n + 3) // 4
        assert last_off // POW13 == 4
        assert last_off % POW13 == (n - 3 * per_seg) + 4  # one past last event

    def test_binlog_name_prefix_selects_one_rotation_family(self, spark, tmp_path):
        """The reference's ``bingLogNamePrefix`` option
        (MLSQLBinLogDataSource.scala:65,95): a directory holding TWO
        rotation families (e.g. after a server rename) must stream only
        the named family.  Without the option the mixed index trips the
        gap failfast (families interleave unrelated id sequences);
        with it, the stream equals the flat table."""
        import shutil

        import pytest as _pytest

        from spark_binlog_spark.sources.binlog_fixture import (
            BinlogFixtureStreamReader,
            write_segments,
        )
        from spark_binlog_spark.streaming.pipeline import parse_stream, read_stream

        flat = f"{SF_TEST}/events.parquet"
        seg_dir = str(tmp_path / "binlog")
        write_segments(flat, seg_dir, n_segments=2)
        # the decoy family: same ids re-published under another prefix
        shutil.copy(
            f"{seg_dir}/mysql-bin.000001", f"{seg_dir}/renamed-bin.000001"
        )
        # unselected: both families land in one index → gap/overlap failfast
        r = BinlogFixtureStreamReader({"path": seg_dir})
        with _pytest.raises(ValueError, match="segment gap"):
            r.latestOffset()
        # selected: clean stream identical to the flat table
        wire = read_stream(
            spark, seg_dir, numPartitions=2, bingLogNamePrefix="mysql-bin"
        )
        q = (
            parse_stream(wire)
            .writeStream.format("memory")
            .queryName("prefix_stream")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert (
            spark.table("prefix_stream").count()
            == spark.read.parquet(flat).count()
        )
        # a prefix with no files fails loudly, naming the prefix
        r2 = BinlogFixtureStreamReader(
            {"path": seg_dir, "binglognameprefix": "nope-bin"}
        )
        with _pytest.raises(ValueError, match="nope-bin"):
            r2.latestOffset()
        # ...and the option is rejected outright on a non-segmented path
        with _pytest.raises(ValueError, match="segmented"):
            BinlogFixtureStreamReader(
                {"path": flat, "binglognameprefix": "mysql-bin"}
            )

    def test_rotation_appears_midstream_tail(self, spark, tmp_path):
        """LIVE TAIL across rotation: start a processing-time stream on
        a directory holding only mysql-bin.000001/2; while it runs,
        write segments 3 and 4 (the ROTATE the reference handles at
        BinLogSocketServerInExecutor.scala:252-255).  latestOffset's
        per-round re-probe must pick the new files up and ingest every
        event exactly once, no restart."""
        from spark_binlog_spark.sources.binlog_fixture import write_segments
        from spark_binlog_spark.streaming.pipeline import parse_stream, read_stream

        import time

        flat = f"{SF_TEST}/events.parquet"
        seg_dir = str(tmp_path / "binlog")
        write_segments(flat, seg_dir, n_segments=4, only=[1, 2])
        n_total = spark.read.parquet(flat).count()
        seen = []

        def record(bdf, bid):
            seen.extend(r["cdc_offset"] for r in bdf.select("cdc_offset").collect())

        wire = read_stream(spark, seg_dir, numPartitions=4, maxEventsPerTrigger=200)
        q = (
            parse_stream(wire)
            .writeStream.foreachBatch(record)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )

        def wait_for(target, timeout_s=120.0):
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                if q.exception() is not None:
                    raise AssertionError(f"stream died: {q.exception()}")
                if len(seen) >= target:
                    return True
                time.sleep(0.2)
            return False

        # the first two segments drain through the SAME live query...
        assert wait_for(n_total // 2), f"first half stalled at {len(seen)}"
        # ...then the binlog rotates TWICE under it — no restart
        write_segments(flat, seg_dir, n_segments=4, only=[3, 4])
        assert wait_for(n_total), f"tail stalled at {len(seen)}/{n_total}"
        q.stop()
        q.awaitTermination()
        assert sorted(seen) == list(range(n_total))  # exactly once, no gaps

    def test_schema_flips_between_microbatches(self, spark, tmp_path):
        """MID-STREAM ALTER TABLE: with schemaEpochOffset at the batch
        boundary, micro-batch 0's events all embed the v1 schema and
        micro-batch 1's all embed v2 (extra ts_ms column) — different
        embedded schemas in CONSECUTIVE batches of one query, resolved
        per-event by the consumer (the reference ships the new schema
        on the next TABLE_MAP, BinLogSocketServerInExecutor.scala:228-236).
        The merged parse must agree with the batch recompute from the
        raw events table."""
        import time

        from spark_binlog_spark.streaming.pipeline import (
            parse_stream_evolving,
            read_stream,
        )

        flat = f"{SF_TEST}/events.parquet"
        events = spark.read.parquet(flat)
        n = events.count()
        half = n // 2
        per_batch = []  # (batch_id, set(schema_ver), rows)

        def record(bdf, bid):
            rows = bdf.collect()
            if rows:
                per_batch.append((bid, {r["schema_ver"] for r in rows}, rows))

        wire = read_stream(
            spark, flat, numPartitions=4, maxEventsPerTrigger=half, schemaEpochOffset=half
        )
        q = (
            parse_stream_evolving(wire)
            .writeStream.foreachBatch(record)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            if q.exception() is not None:
                raise AssertionError(f"stream died: {q.exception()}")
            if sum(len(r) for _, _, r in per_batch) >= n:
                break
            time.sleep(0.2)
        q.stop()
        q.awaitTermination()

        assert sum(len(r) for _, _, r in per_batch) == n
        # consecutive batches carry DIFFERENT embedded schemas
        assert per_batch[0][1] == {1}, f"batch 0 versions: {per_batch[0][1]}"
        assert per_batch[1][1] == {2}, f"batch 1 versions: {per_batch[1][1]}"
        # merged parse == batch recompute from the raw table
        all_rows = [r for _, _, rows in per_batch for r in rows]
        got_v1 = {r["cdc_offset"] for r in all_rows if r["schema_ver"] == 1}
        assert got_v1 == set(range(half))
        assert all(r["ts_ms"] is None for r in all_rows if r["schema_ver"] == 1)
        from pyspark.sql import functions as F

        # integer arithmetic only — double division loses precision at
        # 1.7e18 ns; ts may read as long ns (nanosAsLong) or timestamp
        ms_expr = (
            "ts div 1000000"
            if dict(events.dtypes)["ts"] == "bigint"
            else "unix_micros(cast(ts as timestamp)) div 1000"
        )
        expected_ts = {
            r["event_id"]: r["ms"]
            for r in events.select("event_id", F.expr(ms_expr).alias("ms")).collect()
            if r["event_id"] >= half
        }
        got_ts = {r["cdc_offset"]: r["ts_ms"] for r in all_rows if r["schema_ver"] == 2}
        assert got_ts == expected_ts

    def test_segmented_checkpoint_restart_across_rotation(self, spark, tmp_path):
        """O7 × ROTATION: kill a segmented stream mid-file, rotate TWICE
        while it is down, then restart from the same checkpoint.  The
        resumed query must decode its packed (fileId, pos) restart
        offset against the REFRESHED segment index, finish the old
        files, and continue into files that did not exist when the
        offset was written — every event exactly once across the
        crash + rotation."""
        import time

        from spark_binlog_spark.sources.binlog_fixture import write_segments
        from spark_binlog_spark.streaming.pipeline import parse_stream, read_stream

        flat = f"{SF_TEST}/events.parquet"
        seg_dir = str(tmp_path / "binlog")
        write_segments(flat, seg_dir, n_segments=4, only=[1, 2])
        n_total = spark.read.parquet(flat).count()
        seen = []

        def record_then_crash(bdf, bid):
            seen.extend(r["cdc_offset"] for r in bdf.select("cdc_offset").collect())
            if len(seen) >= n_total // 4:
                raise RuntimeError("injected crash mid-segment")

        wire = read_stream(spark, seg_dir, numPartitions=4, maxEventsPerTrigger=100)
        q1 = (
            parse_stream(wire)
            .writeStream.foreachBatch(record_then_crash)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        with pytest.raises(Exception):
            q1.awaitTermination()
        n_before = len(seen)
        assert 0 < n_before < n_total // 2

        # rotation happens while the stream is DOWN
        write_segments(flat, seg_dir, n_segments=4, only=[3, 4])

        replayed = []  # the crashed batch replays: at-least-once

        def record(bdf, bid):
            replayed.extend(r["cdc_offset"] for r in bdf.select("cdc_offset").collect())

        wire2 = read_stream(spark, seg_dir, numPartitions=4, maxEventsPerTrigger=100)
        q2 = (
            parse_stream(wire2)
            .writeStream.foreachBatch(record)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        deadline = time.monotonic() + 120
        target = set(range(n_total))
        while time.monotonic() < deadline:
            if q2.exception() is not None:
                raise AssertionError(f"resume died: {q2.exception()}")
            if set(seen) | set(replayed) == target and len(replayed) >= n_total - n_before:
                break
            time.sleep(0.2)
        q2.stop()
        q2.awaitTermination()
        # union covers everything; the resumed query re-delivers at most
        # the one uncommitted batch (offsets Spark already committed are
        # never replayed)
        assert set(seen) | set(replayed) == target
        overlap = set(seen) & set(replayed)
        assert len(overlap) <= 100, f"replayed {len(overlap)} rows (> one capped batch)"

    def test_binlog_index_bootstrap_options(self, spark, tmp_path):
        """Reference option parity (MLSQLBinLogDataSource.scala:70-98):
        binlogIndex/binlogFileOffset start the stream at an explicit
        (file, pos) composite — events before it are never ingested;
        binlogFileOffset defaults to 4 (start of the named file)."""
        from spark_binlog_spark.sources.binlog_fixture import write_segments
        from spark_binlog_spark.streaming.pipeline import parse_stream, read_stream

        flat = f"{SF_TEST}/events.parquet"
        seg_dir = str(tmp_path / "binlog")
        write_segments(flat, seg_dir, n_segments=4)
        n = spark.read.parquet(flat).count()
        per_seg = (n + 3) // 4

        # start at file 3, pos 4 -> exactly files 3 and 4
        wire = read_stream(spark, seg_dir, numPartitions=4, binlogIndex=3)
        q = (
            parse_stream(wire)
            .writeStream.format("memory")
            .queryName("bootstrap_f3")
            .option("checkpointLocation", str(tmp_path / "ck1"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        offs = {r["cdc_offset"] for r in spark.table("bootstrap_f3").collect()}
        assert offs == set(range(2 * per_seg, n))

        # mid-file pos: skip the first 10 events of file 3
        wire2 = read_stream(
            spark, seg_dir, numPartitions=4, binlogIndex=3, binlogFileOffset=14
        )
        q2 = (
            parse_stream(wire2)
            .writeStream.format("memory")
            .queryName("bootstrap_f3p")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()
        offs2 = {r["cdc_offset"] for r in spark.table("bootstrap_f3p").collect()}
        assert offs2 == set(range(2 * per_seg + 10, n))

    def test_cdc_upsert_over_rotating_store_matches_batch_apply(self, spark, tmp_path):
        """INTEGRATION: the full CDC upsert pipeline (parse -> merge
        sink) fed from a ROTATING segmented store, with the last two
        segments appearing only after the stream has started — the
        final materialized state must equal a one-shot batch cdc_apply
        of the whole change stream."""
        import time

        from pyspark.sql import Row

        from spark_binlog_spark.operators import cdc_apply
        from spark_binlog_spark.sources.binlog_fixture import write_segments
        from spark_binlog_spark.streaming.pipeline import (
            ParquetUpsertSink,
            parse_stream,
            read_stream,
        )

        rows = [
            (i, T0 + i, i % 6, ["signup", "click", "view", "purchase", "error"][i % 5],
             float(i), "{}")
            for i in range(40)
        ]
        flat = str(tmp_path / "ev.parquet")
        _write_events(flat, rows)
        seg_dir = str(tmp_path / "binlog")
        write_segments(flat, seg_dir, n_segments=4, only=[1, 2])
        base = spark.createDataFrame(
            [Row(c_custkey=k, c_name=f"n{k}", c_acctbal=float(k)) for k in range(6)]
        )

        sink = ParquetUpsertSink(
            spark, str(tmp_path / "state"), base, "c_custkey", {"c_acctbal": "value"}
        )
        wire = read_stream(spark, seg_dir, numPartitions=2, maxEventsPerTrigger=10)
        q = (
            parse_stream(wire)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )

        def wait_applied(target, timeout_s=120.0):
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                if q.exception() is not None:
                    raise AssertionError(f"stream died: {q.exception()}")
                if sink.applied_rows >= target:
                    return True
                time.sleep(0.2)
            return False

        assert wait_applied(20), f"first half stalled at {sink.applied_rows}"
        write_segments(flat, seg_dir, n_segments=4, only=[3, 4])  # live rotation
        assert wait_applied(40), f"tail stalled at {sink.applied_rows}/40"
        q.stop()
        q.awaitTermination()

        # batch replay of the identical store for the expected state
        batch_changes = parse_stream(
            spark.read.format("binlog_fixture").option("path", seg_dir).load()
        )
        expected = cdc_apply(
            base, batch_changes, key_col="c_custkey", set_cols={"c_acctbal": "value"}
        )
        got = {(r["c_custkey"], r["c_acctbal"]) for r in sink.current().collect()}
        want = {(r["c_custkey"], r["c_acctbal"]) for r in expected.collect()}
        assert got == want

    def test_segmented_composes_with_schema_epochs_and_filters(self, spark, tmp_path):
        """Feature composition: a ROTATING store read with BOTH a
        schemaEpochOffset and a databaseNamePattern — the per-segment
        reads must apply the ingest filter AND flip the embedded schema
        at the epoch, across file boundaries."""
        import json as _json

        from spark_binlog_spark.sources.binlog_fixture import register, write_segments

        flat = f"{SF_TEST}/events.parquet"
        seg_dir = str(tmp_path / "binlog")
        write_segments(flat, seg_dir, n_segments=4)
        n = spark.read.parquet(flat).count()
        half = n // 2
        per_seg = (n + 3) // 4

        register(spark)
        df = (
            spark.read.format("binlog_fixture")
            .option("path", seg_dir)
            .option("databaseNamePattern", "^db_1$")
            .option("schemaEpochOffset", str(half))
            .load()
        )
        envs = [_json.loads(r["value"]) for r in df.collect()]
        assert envs and all(e["databaseName"] == "db_1" for e in envs)
        offs = {e["rows"][0]["cdc_offset"] for e in envs}
        # survivors from every quarter of the log (all four files read)
        assert all(any(q * per_seg <= o < (q + 1) * per_seg for o in offs) for q in range(4))
        # schema flips exactly at the epoch, regardless of which file
        for e in envs:
            fields = [f["name"] for f in _json.loads(e["schema"])["fields"]]
            if e["rows"][0]["cdc_offset"] >= half:
                assert fields[-1] == "ts_ms" and e["rows"][0].get("ts_ms") is not None
            else:
                assert "ts_ms" not in fields and "ts_ms" not in e["rows"][0]

    def test_capped_clean_stop_restart_never_redelivers(self, spark, tmp_path):
        """Exactly-once across a CLEAN-STOP restart of a capped stream:
        on restart the fresh admission cursor under-reports (the Python
        stream API gives latestOffset no committed-offset input), Spark
        plans one regressed batch — and the committed-position floor
        must clamp every later batch so no already-committed event is
        re-delivered, while new events (two segments written while the
        stream was down) all arrive."""
        import time

        from spark_binlog_spark.sources.binlog_fixture import write_segments
        from spark_binlog_spark.streaming.pipeline import parse_stream, read_stream

        flat = f"{SF_TEST}/events.parquet"
        seg_dir = str(tmp_path / "binlog")
        write_segments(flat, seg_dir, n_segments=4, only=[1, 2])
        n_total = spark.read.parquet(flat).count()
        n_half = (n_total + 3) // 4 * 2

        def run_until(target, seen, timeout_s=120.0):
            wire = read_stream(spark, seg_dir, numPartitions=4, maxEventsPerTrigger=100)
            q = (
                parse_stream(wire)
                .writeStream.foreachBatch(
                    lambda bdf, bid: seen.extend(
                        r["cdc_offset"] for r in bdf.select("cdc_offset").collect()
                    )
                )
                .option("checkpointLocation", str(tmp_path / "ck"))
                .trigger(processingTime="200 milliseconds")
                .start()
            )
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                if q.exception() is not None:
                    raise AssertionError(f"stream died: {q.exception()}")
                if len(seen) >= target:
                    break
                time.sleep(0.2)
            # drain AND COMMIT everything available before stopping —
            # stopping right after foreachBatch filled `seen` could
            # leave that batch uncommitted, and its legitimate replay
            # would then look like a re-delivery to the assertions below
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()

        phase1 = []
        run_until(n_half, phase1)
        assert sorted(set(phase1)) == list(range(n_half))
        assert len(phase1) == len(set(phase1))  # no dupes in phase 1

        # the binlog rotates twice while the stream is DOWN, then a
        # RESTARTED capped stream continues from the same checkpoint
        write_segments(flat, seg_dir, n_segments=4, only=[3, 4])
        phase2 = []
        run_until(n_total - len(set(phase1)), phase2)

        assert set(phase1) | set(phase2) == set(range(n_total))
        # the floor must suppress every committed event: phase 2 may
        # only deliver the new segments (plus nothing twice)
        assert len(phase2) == len(set(phase2)), "duplicates within the restart"
        redelivered = set(phase1) & set(phase2)
        assert not redelivered, f"re-delivered {len(redelivered)} committed events"

    def test_double_restart_with_floor_dir_never_redelivers(self, spark, tmp_path):
        """DOUBLE clean-stop restart of a capped stream mid-catch-up:
        without floorDir the third process starts floorless and the
        rewound offset log re-delivers committed events; with floorDir
        the floor persisted by commit() survives both restarts and
        clamps every re-read.  Phase 2 is stopped after a SINGLE
        trigger — deliberately before its clamped batches commit past
        the phase-1 position — which is exactly the window the
        process-lifetime floor leaves open."""
        import time

        from spark_binlog_spark.sources.binlog_fixture import write_segments
        from spark_binlog_spark.streaming.pipeline import parse_stream, read_stream

        flat = f"{SF_TEST}/events.parquet"
        seg_dir = str(tmp_path / "binlog")
        write_segments(flat, seg_dir, n_segments=4, only=[1, 2])
        n_total = spark.read.parquet(flat).count()
        n_half = (n_total + 3) // 4 * 2
        floor_dir = str(tmp_path / "floor")

        def run(seen, target=None, n_triggers=None, timeout_s=120.0):
            wire = read_stream(
                spark, seg_dir, numPartitions=4, maxEventsPerTrigger=100,
                floorDir=floor_dir,
            )
            triggers = []

            def sink(bdf, bid):
                triggers.append(bid)
                seen.extend(r["cdc_offset"] for r in bdf.select("cdc_offset").collect())

            q = (
                parse_stream(wire)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", str(tmp_path / "ck"))
                .trigger(processingTime="200 milliseconds")
                .start()
            )
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                if q.exception() is not None:
                    raise AssertionError(f"stream died: {q.exception()}")
                if target is not None and len(seen) >= target:
                    break
                if n_triggers is not None and len(triggers) >= n_triggers:
                    break
                time.sleep(0.1)
            if n_triggers is None:
                # drain AND COMMIT so the stop is clean at a known point
                q.processAllAvailable()
            q.stop()
            q.awaitTermination()

        phase1 = []
        run(phase1, target=n_half)
        assert sorted(set(phase1)) == list(range(n_half))

        # two more segments arrive while the stream is down
        write_segments(flat, seg_dir, n_segments=4, only=[3, 4])
        # restart #1, stopped almost immediately (mid-catch-up)
        phase2 = []
        run(phase2, n_triggers=1, timeout_s=30.0)
        # restart #2 — the window the persisted floor must cover
        phase3 = []
        run(phase3, target=n_total - len(set(phase1) | set(phase2)))

        all_seen = phase1 + phase2 + phase3
        assert set(all_seen) == set(range(n_total))
        assert len(all_seen) == len(set(all_seen)), (
            f"re-delivered {len(all_seen) - len(set(all_seen))} committed events"
        )

    def test_empty_segment_is_benign(self, spark, tmp_path):
        """An empty binlog file (rotation with no writes) must neither
        break the contiguity check nor the stream."""
        from spark_binlog_spark.sources.binlog_fixture import (
            _segment_index,
            write_segments,
        )

        flat = f"{SF_TEST}/events.parquet"
        seg_dir = str(tmp_path / "binlog")
        write_segments(flat, seg_dir, n_segments=2)
        _write_events(f"{seg_dir}/mysql-bin.000003", [])  # schema-only, zero rows
        idx = _segment_index(seg_dir)
        assert [s["fid"] for s in idx] == [1, 2]  # empty file skipped, no gap error

        from spark_binlog_spark.streaming.pipeline import parse_stream, read_stream

        wire = read_stream(spark, seg_dir, numPartitions=2)
        q = (
            parse_stream(wire)
            .writeStream.format("memory")
            .queryName("empty_seg_stream")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n = spark.read.parquet(flat).count()
        assert spark.table("empty_seg_stream").count() == n

    def test_segment_gap_and_purged_file_raise(self, tmp_path):
        """Integrity: a missing middle segment (purged binlog) fails the
        index probe; an offset naming a vanished file fails resume —
        the reference's data-loss failfast, not silent skip."""
        import os

        import pytest as _pytest

        from spark_binlog_spark import POW13
        from spark_binlog_spark.sources.binlog_fixture import (
            _packed_to_global,
            _segment_index,
            write_segments,
        )

        flat = f"{SF_TEST}/events.parquet"
        seg_dir = str(tmp_path / "binlog")
        write_segments(flat, seg_dir, n_segments=4)
        os.remove(os.path.join(seg_dir, "mysql-bin.000002"))
        with _pytest.raises(ValueError, match="segment gap"):
            _segment_index(seg_dir)

        seg_dir2 = str(tmp_path / "binlog2")
        write_segments(flat, seg_dir2, n_segments=2)
        idx = _segment_index(seg_dir2)
        with _pytest.raises(ValueError, match="not in the segment index"):
            _packed_to_global(idx, 7 * POW13 + 4)

    def test_batch_reader_offset_range(self, spark, tmp_path):
        """Bounded replay through the batch reader with [start, end)."""
        from spark_binlog_spark.sources.binlog_fixture import register

        rows = [(i, T0, 1, "click", 1.0, "{}") for i in range(10)]
        path = str(tmp_path / "events10.parquet")
        _write_events(path, rows)
        register(spark)
        df = (
            spark.read.format("binlog_fixture")
            .option("path", path)
            .option("startingOffset", 3)
            .option("endingOffset", 8)
            .load()
        )
        vals = [json.loads(r["value"])["rows"][0]["cdc_offset"] for r in df.collect()]
        assert sorted(vals) == [3, 4, 5, 6, 7]


class TestRegionOffsets:
    def test_region_mode_map_offsets(self, spark, tmp_path):
        """HBase-style per-region map offsets (CommonSourceOffset shape):
        one partition per region per batch, union of regions == the
        whole stream, offsets checkpoint as {"r<N>": seq} JSON."""
        import json as _json

        from spark_binlog_spark.streaming.pipeline import read_stream

        rows = [(i, T0 + i, i % 5, "click", float(i), "{}") for i in range(30)]
        path = str(tmp_path / "ev.parquet")
        _write_events(path, rows)

        wire = read_stream(spark, path, regions=4)
        q = (
            wire.writeStream.format("memory")
            .queryName("region_stream")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        envs = [_json.loads(r["value"]) for r in spark.table("region_stream").collect()]
        assert len(envs) == 30  # regions partition the stream exactly
        offs = sorted(e["rows"][0]["cdc_offset"] for e in envs)
        assert offs == list(range(30))

        # the committed offset in the checkpoint is the region map
        import os

        off_files = sorted(os.listdir(str(tmp_path / "ck" / "offsets")))
        content = open(str(tmp_path / "ck" / "offsets" / off_files[-1])).read().splitlines()
        committed = _json.loads(content[-1])
        assert committed == {"r0": 30, "r1": 30, "r2": 30, "r3": 30}


class TestBinlogSuiteScenario:
    """The reference's canonical scenario (BinlogSuite.scala:168-217 /
    FIXTURES.md §1): insert -> update ×2 -> delete, then the key is gone."""

    def test_upsert_then_delete(self, spark, tmp_path):
        from pyspark.sql import Row

        from spark_binlog_spark.streaming.pipeline import run_cdc_upsert

        scenario = [
            (0, T0 + 0, 42, "signup", 10.0, '{"k": 1}'),   # insert jack2
            (1, T0 + 1, 42, "click", 20.0, '{"k": 2}'),    # update -> jack3
            (2, T0 + 2, 42, "view", 30.0, '{"k": 3}'),     # update again
            (3, T0 + 3, 7, "signup", 77.0, '{"k": 4}'),    # unrelated insert
            (4, T0 + 4, 42, "error", 0.0, "{}"),           # delete jack3
        ]
        path = str(tmp_path / "scenario.parquet")
        _write_events(path, scenario)

        base = spark.createDataFrame(
            [Row(c_custkey=7, c_name="pre", c_acctbal=1.0), Row(c_custkey=99, c_name="other", c_acctbal=2.0)]
        )
        sink = run_cdc_upsert(
            spark,
            path,
            base,
            state_dir=str(tmp_path / "state"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            key_col="c_custkey",
            set_cols={"c_acctbal": "value"},
            await_events=5,
            maxEventsPerTrigger=2,  # force multiple micro-batches
        )
        final = {r["c_custkey"]: r for r in sink.current().collect()}
        assert 42 not in final            # inserted, updated twice, deleted
        assert final[7]["c_acctbal"] == 77.0   # upserted over base
        assert final[7]["c_name"] == "pre"     # untouched column carried
        assert final[99]["c_acctbal"] == 2.0   # untouched row

    def test_incremental_batches_match_batch_apply(self, spark, tmp_path):
        """Micro-batched apply == one-shot batch apply (exactly-once)."""
        from pyspark.sql import Row

        from spark_binlog_spark.cdc import changes_df
        from spark_binlog_spark.operators import cdc_apply
        from spark_binlog_spark.streaming.pipeline import run_cdc_upsert

        rows = [
            (i, T0 + i, i % 5, ["signup", "click", "view", "purchase", "error"][i % 5],
             float(i), '{"k": %d}' % i)
            for i in range(50)
        ]
        path = str(tmp_path / "events50.parquet")
        _write_events(path, rows)

        base = spark.createDataFrame(
            [Row(c_custkey=k, c_name=f"n{k}", c_acctbal=float(k)) for k in range(8)]
        )
        sink = run_cdc_upsert(
            spark, path, base,
            state_dir=str(tmp_path / "state2"),
            checkpoint_dir=str(tmp_path / "ckpt3"),
            await_events=50,
            maxEventsPerTrigger=7,
        )
        streamed = {(r["c_custkey"], r["c_acctbal"]) for r in sink.current().collect()}

        # batch equivalent over the same events file
        import spark_binlog_spark.cdc as cdc_mod
        ev = spark.read.parquet(path)
        from pyspark.sql import functions as F
        ch = ev.select(
            F.col("event_id").alias("cdc_offset"),
            F.col("user_id").alias("pk"),
            F.when(F.col("event_type") == "signup", F.lit("insert"))
            .when(F.col("event_type") == "error", F.lit("delete"))
            .otherwise(F.lit("update")).alias("op"),
            F.col("value"),
        )
        batch = cdc_apply(base, ch, key_col="c_custkey", set_cols={"c_acctbal": "value"})
        expected = {(r["c_custkey"], r["c_acctbal"]) for r in batch.collect()}
        assert streamed == expected


class TestCrashRecovery:
    def test_kill_midstream_and_resume_exactly_once(self, spark, tmp_path):
        """O7 — crash the query mid-stream (injected exception AFTER the
        state write but BEFORE the batch commit — the worst-case crash
        point), restart from the checkpoint with resume=True: the
        uncommitted batch is redelivered (at-least-once), the idempotent
        merge absorbs the replay, and the final state equals a one-shot
        batch apply (effectively-once)."""
        from pyspark.sql import Row

        from spark_binlog_spark.operators import cdc_apply
        from spark_binlog_spark.streaming.pipeline import (
            ParquetUpsertSink,
            await_stream,
            parse_stream,
            read_stream,
        )

        rows = [
            (i, T0 + i, i % 6, ["signup", "click", "view", "purchase", "error"][i % 5],
             float(i), "{}")
            for i in range(40)
        ]
        path = str(tmp_path / "ev.parquet")
        _write_events(path, rows)
        base = spark.createDataFrame(
            [Row(c_custkey=k, c_name=f"n{k}", c_acctbal=float(k)) for k in range(6)]
        )
        state, ckpt = str(tmp_path / "state"), str(tmp_path / "ck")

        # phase 1: crash deterministically once >= 16 rows are applied —
        # the state for that batch is already written, its offset commit
        # never happens, so the batch MUST be redelivered on resume
        sink1 = ParquetUpsertSink(spark, state, base, "c_custkey", {"c_acctbal": "value"})

        def crashing(batch_df, batch_id):
            sink1(batch_df, batch_id)
            if sink1.applied_rows >= 16:
                raise RuntimeError("injected crash after state write")

        wire = read_stream(spark, path, numPartitions=2, maxEventsPerTrigger=8)
        q1 = (
            parse_stream(wire).writeStream.foreachBatch(crashing)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        with pytest.raises(Exception):
            q1.awaitTermination()
        assert 16 <= sink1.applied_rows < 40

        # phase 2: resume from the same checkpoint + state; the crashed
        # batch is replayed, so total applied rows exceed the input —
        # at-least-once delivery, absorbed by the idempotent merge
        sink2 = ParquetUpsertSink(
            spark, state, base, "c_custkey", {"c_acctbal": "value"}, resume=True
        )
        wire2 = read_stream(spark, path, numPartitions=2, maxEventsPerTrigger=8)
        q2 = (
            parse_stream(wire2).writeStream.foreachBatch(sink2)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        replayed = sink1.applied_batches[-1][1]  # uncommitted batch size
        await_stream(
            q2, lambda: sink1.applied_rows + sink2.applied_rows >= 40 + replayed
        )
        assert sink1.applied_rows + sink2.applied_rows == 40 + replayed

        from pyspark.sql import functions as F

        ch = spark.read.parquet(path).select(
            F.col("event_id").alias("cdc_offset"),
            F.col("user_id").alias("pk"),
            F.when(F.col("event_type") == "signup", "insert")
            .when(F.col("event_type") == "error", "delete")
            .otherwise("update")
            .alias("op"),
            F.col("value"),
        )
        expected = {
            (r["c_custkey"], r["c_acctbal"])
            for r in cdc_apply(base, ch, key_col="c_custkey", set_cols={"c_acctbal": "value"}).collect()
        }
        got = {(r["c_custkey"], r["c_acctbal"]) for r in sink2.current().collect()}
        assert got == expected


class TestWatermarkLateData:
    def test_late_events_dropped_after_window_eviction(self, spark, tmp_path):
        """Event-time windowed counts with a 10 s watermark in append
        mode - the late-data contract the reference lacks entirely
        (SURVEY 2.C streaming-only row).  Spark's GUARANTEE is:
        a finalized (evicted) window is emitted exactly once and later
        arrivals for it are dropped; while the window state is still
        live, late-but-within-state merges are best-effort allowed.

        Staging (cap=3/batch): [1,2,3] advance nothing; [12,13,25]
        push the watermark to 15 s; [26,27,28] trigger the eviction of
        window [0,10) (emitted with count 3); THEN 5 s arrives - its
        window is gone, the row must be dropped, and [0,10) must never
        be re-emitted (count stays 3, no duplicate)."""
        import time

        from pyspark.sql import functions as F

        from spark_binlog_spark.streaming.pipeline import parse_stream, read_stream

        S = 10**9  # ns per second
        ts_s = [1, 2, 3, 12, 13, 25, 26, 27, 28, 5, 41, 42]  # 5 = LATE
        rows = [(i, T0 + t * S, i, "click", 1.0, "{}") for i, t in enumerate(ts_s)]
        path = str(tmp_path / "late.parquet")
        _write_events(path, rows)

        changes = parse_stream(read_stream(spark, path, numPartitions=2, maxEventsPerTrigger=3))
        counts = (
            changes.withColumn("event_time", F.timestamp_millis(F.col("ts_ms")))
            .withWatermark("event_time", "10 seconds")
            .groupBy(F.window("event_time", "10 seconds").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").cast("long").alias("w_start"), "n")
        )
        name = "late_counts"
        q = (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        # [0,10) flushes once wm=15 passes it; [10,20)+[20,30) flush
        # after the 41/42 s batch pushes wm to 32
        deadline = time.monotonic() + 90
        while time.monotonic() < deadline:
            if q.exception() is not None or spark.table(name).count() >= 3:
                break
            time.sleep(0.3)
        q.stop()
        q.awaitTermination()
        t0s = T0 // S
        emitted = [(r["w_start"] - t0s, r["n"]) for r in spark.table(name).collect()]
        got = dict(emitted)
        assert len(emitted) == len(got), f"window re-emitted after late data: {emitted}"
        assert got[0] == 3, f"late event leaked into the evicted window: {got}"
        assert got[10] == 2 and got[20] == 4
        # the 40 s window never finalizes (watermark stops at 32 s)
        assert 40 not in got


class TestStreamingDedup:
    def test_watermark_dedup_on_replay(self, spark, tmp_path):
        """O6: a replayed (duplicated) stream collapses to distinct
        (pk, offset) pairs."""
        from spark_binlog_spark.streaming.pipeline import dedup_stream, parse_stream, read_stream

        rows = [(i, T0 + i * 10**9, i % 3, "click", float(i), "{}") for i in range(10)]
        dup_rows = rows + rows[:5]  # at-least-once replay of a prefix
        path = str(tmp_path / "dups.parquet")
        _write_events(path, sorted(dup_rows, key=lambda r: r[0]))

        changes = dedup_stream(parse_stream(read_stream(spark, path, numPartitions=2)))
        q = (
            changes.writeStream.format("memory")
            .queryName("deduped")
            .option("checkpointLocation", str(tmp_path / "ckpt4"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.table("deduped")
        assert got.count() == 10  # 15 raw -> 10 distinct (pk, offset)


    def test_bounded_dedup_evicts_state_and_still_dedups(self, spark, tmp_path):
        """dedup_stream_bounded: duplicates within the watermark window
        collapse exactly like the unbounded form, AND the dedup state
        is EVICTED as the watermark advances (numRowsTotal in the state
        operator ends below the distinct count) — the property that
        keeps an infinite CDC stream's dedup state bounded."""
        import time

        from spark_binlog_spark.streaming.pipeline import (
            dedup_stream_bounded,
            parse_stream,
            read_stream,
        )

        S = 10**9
        # 30 events spread over 300 s of event time; a replayed prefix
        # duplicates the first 10 within their own window
        rows = [(i, T0 + i * 10 * S, i % 3, "click", float(i), "{}") for i in range(30)]
        dup_rows = sorted(rows + rows[:10], key=lambda r: r[0])
        path = str(tmp_path / "dups.parquet")
        _write_events(path, dup_rows)

        changes = dedup_stream_bounded(
            parse_stream(read_stream(spark, path, numPartitions=2, maxEventsPerTrigger=10)),
            watermark_ms=30_000,
        )
        q = (
            changes.writeStream.format("memory")
            .queryName("bounded_dedup")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .outputMode("append")
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            if q.exception() is not None:
                raise AssertionError(f"stream died: {q.exception()}")
            if spark.table("bounded_dedup").count() >= 30:
                break
            time.sleep(0.3)
        q.processAllAvailable()
        progress = q.lastProgress
        q.stop()
        q.awaitTermination()

        got = spark.table("bounded_dedup")
        assert got.count() == 30  # 40 raw -> 30 distinct (pk, offset)
        # eviction: by stream end the watermark has passed most events'
        # 30 s windows, so retained state is far below the 30 distinct
        # keys the unbounded form would hold forever
        state = progress["stateOperators"][0]
        assert state["numRowsTotal"] < 30, state["numRowsTotal"]


class TestStreamStreamJoin:
    def test_interval_join_insert_to_delete(self, spark, tmp_path):
        """Stream-stream INNER interval join with watermarks on both
        sides (state-backed, multi-batch): pair each insert with the
        delete of the same pk arriving within 10 s of event time.
        The final pair set must equal the batch interval join.

        Retries (bounded, fresh checkpoint) ONLY on the documented
        Spark-internal ``TreeNode.makeCopy`` planning race
        (DEVNOTES "Known one-off flake"; VERDICT r7 #4).  An isolated
        ``spark.newSession()`` was tried first but Python DataSources
        don't survive it: the child session's exists-check sees the
        parent's registration while its LOOKUP does not
        (DATA_SOURCE_NOT_FOUND on read) — so the shared session plus a
        narrowly-scoped retry is the correct isolation here."""
        import time

        from pyspark.sql import functions as F

        from spark_binlog_spark.streaming.pipeline import parse_stream, read_stream

        S = 10**9
        # pk1: insert@1 delete@5   -> pair
        # pk2: insert@2 delete@30  -> outside the 10 s bound, no pair
        # pk3: insert@8 delete@12  -> pair (crosses batch boundary)
        # pk4: delete@3 only       -> no pair
        rows = [
            (0, T0 + 1 * S, 1, "signup", 1.0, "{}"),
            (1, T0 + 2 * S, 2, "signup", 1.0, "{}"),
            (2, T0 + 3 * S, 4, "error", 0.0, "{}"),
            (3, T0 + 5 * S, 1, "error", 0.0, "{}"),
            (4, T0 + 8 * S, 3, "signup", 1.0, "{}"),
            (5, T0 + 12 * S, 3, "error", 0.0, "{}"),
            (6, T0 + 30 * S, 2, "error", 0.0, "{}"),
            (7, T0 + 40 * S, 9, "click", 1.0, "{}"),  # watermark pusher
        ]
        path = str(tmp_path / "ssj.parquet")
        _write_events(path, rows)

        def side(op_name, prefix):
            ch = parse_stream(read_stream(spark, path, numPartitions=2, maxEventsPerTrigger=3))
            return (
                ch.filter(F.col("op") == op_name)
                .withColumn(f"{prefix}_time", F.timestamp_millis(F.col("ts_ms")))
                .select(
                    F.col("pk").alias(f"{prefix}_pk"),
                    F.col(f"{prefix}_time"),
                    F.col("cdc_offset").alias(f"{prefix}_off"),
                )
                .withWatermark(f"{prefix}_time", "10 seconds")
            )

        joined = side("insert", "i").join(
            side("delete", "d"),
            F.expr(
                "i_pk = d_pk AND d_time >= i_time AND d_time <= i_time + interval 10 seconds"
            ),
        ).select("i_pk", "i_off", "d_off")

        name = "ssj_pairs"
        for attempt in range(3):
            q = (
                joined.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / f"ck{attempt}"))
                .trigger(processingTime="200 milliseconds")
                .start()
            )
            deadline = time.monotonic() + 120
            while time.monotonic() < deadline:
                if q.exception() is not None or spark.table(name).count() >= 2:
                    break
                time.sleep(0.3)
            q.stop()
            exc = q.exception()
            incomplete = spark.table(name).count() < 2
            if attempt < 2 and incomplete and (
                exc is None or "makeCopy" in str(exc)
            ):
                # retry (fresh checkpoint) on the documented planning
                # race OR a load-starved run that never reached both
                # pairs before the deadline (a loaded shared host can
                # stall micro-batches past any fixed wait; r9 full-suite
                # run with a concurrent oracle sweep hit exactly this).
                # Any OTHER streaming exception still fails immediately.
                # Print WHICH reason fired (ADVICE r9): a consistently
                # incomplete run (product regression stalling batches)
                # must be distinguishable from host noise in CI output.
                reason = "makeCopy-race" if exc is not None else "load-starved"
                print(
                    f"[ssj retry] attempt {attempt + 1} incomplete "
                    f"({spark.table(name).count()}/2 rows), reason={reason}",
                    flush=True,
                )
                continue
            # a COMPLETE run may still have terminated with the makeCopy
            # race on a later (empty) micro-batch — the appended result
            # is already in the sink and correct, so the race is not a
            # failure here (r11 full-suite run: both pairs committed at
            # offset 6, the race fired planning offset 7-8, and the
            # unconditional awaitTermination re-raised it).  Tightened
            # r12 (ADVICE r11): suppress ONLY the documented benign
            # race — it must surface as a StreamingQueryException (not
            # an arbitrary error that mentions makeCopy), AND the sink
            # must provably hold the exact expected pairs BEFORE we
            # suppress.  Any other terminal exception propagates.
            from pyspark.errors import StreamingQueryException

            committed = {
                (r["i_pk"], r["i_off"], r["d_off"])
                for r in spark.table(name).collect()
            }
            benign_race = (
                isinstance(exc, StreamingQueryException)
                and "makeCopy" in str(exc)
                and committed == {(1, 0, 3), (3, 4, 5)}
            )
            if exc is None or not benign_race:
                q.awaitTermination()
            else:
                print("[ssj] makeCopy race after completion - result kept", flush=True)
            break
        got = {(r["i_pk"], r["i_off"], r["d_off"]) for r in spark.table(name).collect()}
        assert got == {(1, 0, 3), (3, 4, 5)}, got


class TestFullPipeline:
    def test_dedup_enrich_upsert_with_crash_resume(self, spark, tmp_path):
        """The production shape end-to-end in ONE query: replayed
        (duplicated) source -> parse -> watermark dedup (O6) ->
        stream-static enrichment join (segment filter) -> merge-on-read
        upsert sink (D3+D4), crashed mid-run and resumed from the
        checkpoint.  Final state must equal the batch computation:
        distinct events, A-segment keys only, applied onto the base."""
        from pyspark.sql import Row
        from pyspark.sql import functions as F

        from spark_binlog_spark.operators import cdc_apply
        from spark_binlog_spark.streaming.mor import MergeOnReadSink
        from spark_binlog_spark.streaming.pipeline import (
            await_stream,
            dedup_stream,
            parse_stream,
            read_stream,
        )

        S = 10**9
        base_rows = [
            Row(c_custkey=k, c_mktsegment=("A" if k % 2 == 0 else "B"),
                c_acctbal=float(k * 10))
            for k in range(8)
        ]
        base = spark.createDataFrame(base_rows)
        events = [
            (i, T0 + i * S, i % 8,
             ["click", "click", "error", "click", "signup"][i % 5], float(100 + i), "{}")
            for i in range(24)
        ]
        replayed = sorted(events + events[:10], key=lambda r: r[0])  # at-least-once input
        path = str(tmp_path / "ev.parquet")
        _write_events(path, replayed)

        dim = F.broadcast(
            base.filter(F.col("c_mktsegment") == "A").select(F.col("c_custkey").alias("dim_pk"))
        )

        def pipeline():
            ch = dedup_stream(
                parse_stream(read_stream(spark, path, numPartitions=2, maxEventsPerTrigger=9))
            )
            return ch.join(dim, ch["pk"] == F.col("dim_pk"), "inner").drop("dim_pk")

        state, ckpt = str(tmp_path / "state"), str(tmp_path / "ck")
        sink1 = MergeOnReadSink(spark, state, base, "c_custkey", {"c_acctbal": "value"},
                                compact_every=100)

        def crashing(batch_df, batch_id):
            sink1(batch_df, batch_id)
            if sink1.applied_rows >= 6:
                raise RuntimeError("injected crash")

        q1 = (
            pipeline().writeStream.foreachBatch(crashing)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        with pytest.raises(Exception):
            q1.awaitTermination()

        sink2 = MergeOnReadSink(spark, state, base, "c_custkey", {"c_acctbal": "value"},
                                compact_every=100, resume=True)
        q2 = (
            pipeline().writeStream.foreachBatch(sink2)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        # 12 distinct A-segment events (even pks) exist; the crashed
        # batch is redelivered, so the exact total is 12 + its size
        replayed = sink1.applied_batches[-1][1]
        await_stream(
            q2, lambda: sink1.applied_rows + sink2.applied_rows >= 12 + replayed
        )

        ch_batch = (
            spark.read.parquet(path)
            .select(
                F.col("event_id").alias("cdc_offset"),
                F.col("user_id").alias("pk"),
                F.when(F.col("event_type") == "signup", "insert")
                .when(F.col("event_type") == "error", "delete")
                .otherwise("update").alias("op"),
                F.col("value"),
            )
            .dropDuplicates(["pk", "cdc_offset"])
            .filter(F.col("pk") % 2 == 0)
        )
        expected = {
            (r["c_custkey"], r["c_mktsegment"], r["c_acctbal"])
            for r in cdc_apply(base, ch_batch, key_col="c_custkey",
                               set_cols={"c_acctbal": "value"}).collect()
        }
        got = {
            (r["c_custkey"], r["c_mktsegment"], r["c_acctbal"])
            for r in sink2.current().collect()
        }
        assert got == expected


def _crash_every_commit_step(spark, tmp_path, monkeypatch, make, texts):
    """For k = 1, 2, ...: copy a store holding batch 0, crash batch 1's
    commit at its k-th filesystem step, open a fresh sink on the copy,
    replay batch 1 and feed batch 2; the accepted set must equal the
    no-crash run's, with no aside left.  Batch 1 repeats document 0 and
    batch 2 document 2.  Returns the sink of the first uncrashed commit
    and that k."""
    import glob
    import shutil

    from tests.conftest import _CrashAt

    def batch(ids, dup=None):
        rows = [(i, texts[i]) for i in ids] + ([(100, texts[dup])] if dup is not None else [])
        return spark.createDataFrame(rows, "doc_id long, text string")

    b0, b1, b2 = batch([0, 1]), batch([2, 3], dup=0), batch([4], dup=2)

    def accepted(sink):
        return sorted(map(tuple, sink.accepted().collect()))

    ref = make(str(tmp_path / "ref"))
    for bid, b in enumerate([b0, b1, b2]):
        ref(b, bid)
    want = accepted(ref)
    assert [r[0] for r in want] == [0, 1, 2, 3, 4]
    seed = str(tmp_path / "seed")
    make(seed)(b0, 0)
    crash = _CrashAt(
        monkeypatch,
        [(shutil, "move"), (shutil, "rmtree"), (os, "rename"), (os, "replace"), (os, "remove")],
    )
    step = 0
    while True:
        step += 1
        assert step <= 16, "a batch commit should take a handful of filesystem steps"
        path = str(tmp_path / f"step{step}")
        shutil.copytree(seed, path)
        sink = make(path)
        crash.reset(step)
        crash.armed = True
        try:
            sink(b1, 1)
        except OSError:
            pass
        finally:
            crash.armed = False
        if not crash.fired:
            return sink, step
        resumed = make(path)  # restart: sweep, then replay batch 1
        resumed(b1, 1)
        resumed(b2, 2)
        assert accepted(resumed) == want, f"crash at commit step {step}"
        assert not glob.glob(os.path.join(path, "_aside*")), f"step {step}"


class TestDedupIngestSink:
    def test_streaming_dedup_admits_first_copies_and_replays_idempotently(
        self, spark, tmp_path
    ):
        """Two micro-batches with in-batch and cross-batch duplicates:
        only first copies are admitted (earlier batch wins); a replayed
        batch admits nothing (at-least-once absorbed); a RESUMED stream
        over the same checkpoint picks up a new file and dedups it
        against everything accepted before."""
        import os

        import pyarrow as pa_
        import pyarrow.parquet as pq_

        from spark_binlog_spark.streaming.dedup_sink import DedupIngestSink
        from spark_binlog_spark.streaming.runner import run_files

        def write_docs(name, rows, mtime):
            path = str(tmp_path / "docs" / name)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq_.write_table(
                pa_.table(
                    {
                        "doc_id": pa_.array([r[0] for r in rows], pa_.int64()),
                        "text": pa_.array([r[1] for r in rows], pa_.string()),
                    }
                ),
                path,
            )
            os.utime(path, (mtime, mtime))
            return path

        # batch 0: one internal dup pair (1 wins over 3)
        write_docs("b0.parquet", [(1, "alpha beta"), (2, "gamma"), (3, "Alpha  Beta")], 1e9)
        # batch 1: cross-batch dup of doc 2, internal dup pair, one new
        write_docs(
            "b1.parquet",
            [(10, "GAMMA"), (11, "delta"), (12, "delta"), (13, "epsilon")],
            1e9 + 100,
        )
        store = str(tmp_path / "store")
        sink = run_files(
            spark, str(tmp_path / "docs"), "doc_id long, text string", str(tmp_path / "ck"),
            DedupIngestSink(spark, store),
        )
        accepted = {r["doc_id"] for r in sink.accepted().collect()}
        assert accepted == {1, 2, 11, 13}
        assert [n for _, n in sink.admitted_batches] == [2, 2]

        # at-least-once replay: the same batch admits nothing
        sink2 = DedupIngestSink(spark, store)
        sink2(
            spark.createDataFrame([(1, "alpha beta"), (2, "gamma")], "doc_id long, text string"),
            99,
        )
        assert sink2.admitted_batches == [(99, 0)]
        assert {r["doc_id"] for r in sink2.accepted().collect()} == {1, 2, 11, 13}

        # resume: a THIRD file appears; same checkpoint, only new text admitted
        write_docs("b2.parquet", [(20, "alpha beta"), (21, "zeta")], 1e9 + 200)
        sink3 = run_files(
            spark, str(tmp_path / "docs"), "doc_id long, text string", str(tmp_path / "ck"),
            DedupIngestSink(spark, store),
        )
        assert {r["doc_id"] for r in sink3.accepted().collect()} == {1, 2, 11, 13, 21}

    def test_admission_reads_only_matching_bucket_files(self, spark, tmp_path):
        """The accepted store is bucketed by fp48 % n_buckets: a later
        batch's admission anti-join must open ONLY the store files in
        its own fingerprints' buckets — never the whole corpus-so-far.
        The fragment receipt (scan_stats) proves the pruned read, and a
        replay of an already-admitted doc still dedups correctly
        through the pruned path."""
        import glob
        import os

        from spark_binlog_spark.streaming.dedup_sink import DedupIngestSink

        store = str(tmp_path / "store")
        sink = DedupIngestSink(spark, store, n_buckets=16)
        # batch 0: 64 distinct docs → fingerprints spread over many buckets
        sink(
            spark.createDataFrame(
                [(i, f"document number {i} unique words") for i in range(64)],
                "doc_id long, text string",
            ),
            0,
        )
        total_files = len(sink.store.all_files())
        assert total_files >= 8  # the store really is spread over buckets
        occupied = {os.path.basename(os.path.dirname(f)) for f in sink.store.all_files()}
        assert len(occupied) >= 8 and all(d.startswith("bucket=") for d in occupied)

        # batch 1: ONE new doc + ONE dup of doc 3 → at most 2 buckets touched
        sink(
            spark.createDataFrame(
                [(100, "a brand new document"), (101, "document number 3 unique words")],
                "doc_id long, text string",
            ),
            1,
        )
        bid, n_buckets_scanned, n_files_scanned = sink.scan_stats[-1]
        assert bid == 1
        assert n_buckets_scanned <= 2
        assert n_files_scanned < total_files  # strict pruning, not a full scan
        # correctness through the pruned path: dup dropped, new admitted
        assert dict(sink.admitted_batches) == {0: 64, 1: 1}
        assert 100 in {r["doc_id"] for r in sink.accepted().collect()}
        assert 101 not in {r["doc_id"] for r in sink.accepted().collect()}

        # publish only ever touches the batch's own buckets: batch 1's
        # delta spans one bucket dir
        b1_files = glob.glob(os.path.join(store, "d_b1_*", "bucket=*", "*.parquet"))
        assert len({os.path.dirname(f) for f in b1_files}) == 1

    def test_crash_mid_publish_replay_preserves_published_prefix(self, spark, tmp_path):
        """Crash between part-file moves: the first attempt published
        only a prefix of the batch ({eta}); the replay of the SAME
        batch id admits the remainder — and must not overwrite the
        prefix's store file (publish names are unique per attempt)."""
        from spark_binlog_spark.streaming.dedup_sink import DedupIngestSink

        store = str(tmp_path / "store")
        sink = DedupIngestSink(spark, store)
        # attempt 1 got only the first doc in before "crashing"
        sink(spark.createDataFrame([(1, "eta")], "doc_id long, text string"), 7)
        # replay of batch 7 with its full content
        sink2 = DedupIngestSink(spark, store)
        sink2(
            spark.createDataFrame([(1, "eta"), (2, "theta")], "doc_id long, text string"),
            7,
        )
        assert {r["doc_id"] for r in sink2.accepted().collect()} == {1, 2}


    def test_crash_at_every_commit_step_converges(self, spark, tmp_path, monkeypatch):
        """For k = 1, 2, ...: crash batch 1's commit at its k-th
        filesystem step (publish rename, merged-file deletes, directory
        prunes), open a fresh sink on the same directory, replay batch 1
        and feed batch 2; the accepted set must equal the no-crash
        run's.  With 2 buckets and a threshold of 2, batch 1's publish
        also compacts its bucket.  The loop ends at the first k the
        commit no longer reaches."""
        import hashlib

        from spark_binlog_spark.streaming.dedup_sink import DedupIngestSink

        # fp48 is the first 12 hex digits of the text's md5: keep every
        # document in bucket 0, so the commit takes few steps
        texts = [
            t for t in (f"crash matrix doc {i}" for i in range(40))
            if int(hashlib.md5(t.encode()).hexdigest()[:12], 16) % 2 == 0
        ]

        def make(path):
            return DedupIngestSink(spark, path, n_buckets=2, compact_threshold=2)

        sink, step = _crash_every_commit_step(spark, tmp_path, monkeypatch, make, texts)
        assert sink.n_compactions == 1
        assert step > 6, "expected publish, compaction and prune steps"

    def test_crash_at_every_commit_step_of_a_folded_neardup_batch(
        self, spark, tmp_path, monkeypatch
    ):
        """The same crash matrix over ``NearDupIngestSink``, whose rows
        spread over both buckets: batch 1's publish folds both buckets'
        files into its write, then deletes them and prunes their dirs.
        A crash at the rename, at any delete or at any prune must
        converge after a replay."""
        from spark_binlog_spark.streaming.neardup_sink import NearDupIngestSink

        texts = [
            f"crash matrix doc {i} " + " ".join(f"w{i * 31 + t}" for t in range(12))
            for i in range(5)
        ]

        def make(path):
            return NearDupIngestSink(spark, path, min_agree=2, n_buckets=2, compact_threshold=2)

        sink, step = _crash_every_commit_step(spark, tmp_path, monkeypatch, make, texts)
        assert sink.n_compactions == 2
        assert step > 8, "expected publish, two buckets' deletes and prune steps"

    def test_crash_removing_an_empty_aside_converges(self, spark, tmp_path, monkeypatch):
        """A replayed batch admits nothing: its write is empty and the
        store removes that aside instead of publishing it.  Crash the
        replay at each file or directory delete of that removal, open
        a fresh sink on the same directory and replay the batch again;
        the accepted set must equal the no-crash run's, with the
        replay recorded as ``(batch_id, 0)`` and no aside left."""
        import glob
        import shutil

        from spark_binlog_spark.streaming.dedup_sink import DedupIngestSink
        from tests.conftest import _CrashAt

        def batch(rows):
            return spark.createDataFrame(rows, "doc_id long, text string")

        b0 = batch([(1, "eta"), (2, "theta")])
        b1 = batch([(3, "iota"), (4, "eta"), (5, "kappa")])

        def make(path):
            return DedupIngestSink(spark, path, n_buckets=2, compact_threshold=2)

        def accepted(sink):
            return sorted(map(tuple, sink.accepted().collect()))

        ref = make(str(tmp_path / "ref"))
        ref(b0, 0)
        ref(b1, 1)
        ref(b1, 1)
        want = accepted(ref)
        assert ref.admitted_batches == [(0, 2), (1, 2), (1, 0)]
        seed = str(tmp_path / "seed")
        s = make(seed)
        s(b0, 0)
        s(b1, 1)
        crash = _CrashAt(monkeypatch, [(os, "unlink"), (os, "rmdir")])
        step = 0
        while True:
            step += 1
            assert step <= 16, "removing an empty aside should take a handful of steps"
            path = str(tmp_path / f"step{step}")
            shutil.copytree(seed, path)
            deltas = sorted(glob.glob(os.path.join(path, "d_*")))
            sink = make(path)
            crash.reset(step)
            crash.armed = True
            try:
                sink(b1, 1)
            except OSError:
                pass
            finally:
                crash.armed = False
            if not crash.fired:
                break
            assert sorted(glob.glob(os.path.join(path, "d_*"))) == deltas, f"step {step}"
            resumed = make(path)  # restart: sweep, then replay batch 1
            resumed(b1, 1)
            assert resumed.admitted_batches == [(1, 0)], f"step {step}"
            assert accepted(resumed) == want, f"crash at removal step {step}"
            assert not glob.glob(os.path.join(path, "_aside*")), f"step {step}"
        assert step > 1, "the replay never reached the empty-aside removal"
        assert sink.admitted_batches == [(1, 0)]
        assert not glob.glob(os.path.join(path, "_aside*"))


class TestNearDupIngestSink:
    DOCS = [
        # batch 0: 2 is a light rewrite of 1 (shares most shingles); 3 distinct
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and AGAIN"),
        (3, "completely different text about streaming analytics engines"),
        # batch 1: 10 near-dups admitted doc 1; 11 new; 12 near-dups 11 in-batch
        (10, "the quick brown fox jumps over the lazy dog again and once more"),
        (11, "an entirely novel document about bucketed signature indexes"),
        (12, "an entirely novel document about bucketed signature INDEXES"),
    ]

    def _run(self, spark, tmp_path, **kw):
        import os

        import pyarrow as pa_
        import pyarrow.parquet as pq_

        from spark_binlog_spark.streaming.neardup_sink import NearDupIngestSink
        from spark_binlog_spark.streaming.runner import run_files

        docs = str(tmp_path / "docs")
        os.makedirs(docs, exist_ok=True)
        for i, rows in enumerate([self.DOCS[:3], self.DOCS[3:]]):
            p = os.path.join(docs, f"b{i}.parquet")
            pq_.write_table(
                pa_.table(
                    {
                        "doc_id": pa_.array([r[0] for r in rows], pa_.int64()),
                        "text": pa_.array([r[1] for r in rows], pa_.string()),
                    }
                ),
                p,
            )
            os.utime(p, (1e9 + i * 100, 1e9 + i * 100))
        return run_files(
            spark, docs, "doc_id long, text string", str(tmp_path / "ck"),
            NearDupIngestSink(spark, str(tmp_path / "store"), **kw),
        )

    def test_admission_and_replay_idempotence(self, spark, tmp_path):
        """Batch-sequential near-dup admission: in-batch smaller id
        wins, cross-batch the index wins; a replayed batch admits
        nothing (self-match on all bands)."""
        from spark_binlog_spark.streaming.neardup_sink import NearDupIngestSink

        sink = self._run(spark, tmp_path, min_agree=2)
        accepted = {r["doc_id"] for r in sink.accepted().collect()}
        assert accepted == {1, 3, 11}
        assert dict(sink.admitted_batches) == {0: 2, 1: 1}

        # at-least-once replay of batch 1's content: admits nothing
        sink2 = NearDupIngestSink(spark, str(tmp_path / "store"), min_agree=2)
        sink2(
            spark.createDataFrame(self.DOCS[3:], "doc_id long, text string"), 99
        )
        assert sink2.admitted_batches == [(99, 0)]
        assert {r["doc_id"] for r in sink2.accepted().collect()} == {1, 3, 11}

    def test_crash_before_publish_leaves_nothing(self, spark, tmp_path):
        """Atomic per-batch publish: an aside dir from a crashed
        attempt is invisible to the index and swept on restart."""
        import os

        from spark_binlog_spark.streaming.neardup_sink import NearDupIngestSink

        store = str(tmp_path / "store")
        sink = NearDupIngestSink(spark, store, min_agree=2)
        sink(spark.createDataFrame(self.DOCS[:3], "doc_id long, text string"), 0)
        # simulate a crash AFTER the aside write, BEFORE the rename:
        # rebuild the aside from a published delta, then restart
        deltas = [p for p in os.listdir(store) if p.startswith("d_b0")]
        assert len(deltas) == 1
        os.rename(
            os.path.join(store, deltas[0]), os.path.join(store, "_aside_b0_dead")
        )
        sink2 = NearDupIngestSink(spark, store, min_agree=2)
        assert not os.path.exists(os.path.join(store, "_aside_b0_dead"))
        assert sink2.accepted().count() == 0
        # the replay then re-admits the full batch
        sink2(spark.createDataFrame(self.DOCS[:3], "doc_id long, text string"), 0)
        assert {r["doc_id"] for r in sink2.accepted().collect()} == {1, 3}

    def test_band_join_reads_only_matching_buckets(self, spark, tmp_path):
        """The signature index is bucketed by minhash % n_buckets: a
        later batch's band join must open only its own band values'
        bucket dirs, not the whole index."""
        from spark_binlog_spark.streaming.neardup_sink import NearDupIngestSink

        store = str(tmp_path / "store")
        sink = NearDupIngestSink(spark, store, min_agree=2, n_buckets=64)
        sink(
            spark.createDataFrame(
                [(i, f"wholly distinct document number {i} with words {i * 7}")
                 for i in range(48)],
                "doc_id long, text string",
            ),
            0,
        )
        import glob
        import os

        total = len(glob.glob(os.path.join(store, "d_*", "bucket=*", "*.parquet")))
        occupied = {
            os.path.basename(p)
            for p in glob.glob(os.path.join(store, "d_*", "bucket=*"))
        }
        assert len(occupied) >= 16  # the index really is spread over buckets
        # one tiny batch: 8 bands → at most 8 bucket dirs probed
        sink(
            spark.createDataFrame(
                [(100, "one single probe document here")], "doc_id long, text string"
            ),
            1,
        )
        bid, n_buckets_scanned, n_files = sink.scan_stats[-1]
        assert bid == 1 and n_buckets_scanned <= 8 and n_files < total


    def test_warm_batch_round_trip_budget(self, spark, tmp_path, monkeypatch):
        """The admission plan is built as SQL text, so a warm batch
        costs ~1,000 py4j round trips.  Built from one Column call per
        band expression it cost ~13,000: PySpark captures the call site
        on every ``functions`` call and Column operator."""
        from spark_binlog_spark.streaming.neardup_sink import NearDupIngestSink
        from tests.conftest import _RoundTrips

        sink = NearDupIngestSink(spark, str(tmp_path / "store"), min_agree=2)
        batches = [
            spark.createDataFrame(
                [(b * 100 + i, f"batch {b} document {i} about topic {i % 3} words {i * 7}")
                 for i in range(20)],
                "doc_id long, text string",
            )
            for b in range(3)
        ]
        sink(batches[0], 0)
        sink(batches[1], 1)
        rt = _RoundTrips(monkeypatch)
        sink(batches[2], 2)
        assert sink.admitted_batches[2][1] > 0
        assert rt.n <= 2500, f"{rt.n} py4j round trips for one warm batch"


class TestNearDupCompactionHygiene:
    def test_compaction_prunes_emptied_directories(self, spark, tmp_path):
        """After per-bucket compaction, the store must not accumulate
        empty delta/bucket directories: dir count stays bounded as
        batches pass (the O(batches) listing-cost leak), and the
        admitted doc set survives compaction intact."""
        import os

        from pyspark.sql import Row

        from spark_binlog_spark.streaming.neardup_sink import NearDupIngestSink

        sink = NearDupIngestSink(
            spark, str(tmp_path / "store"), n_buckets=4, compact_threshold=3
        )
        n_batches = 20
        for bid in range(n_batches):
            batch = spark.createDataFrame(
                [
                    Row(doc_id=bid * 10 + j, text=f"doc {bid} {j} " + " ".join(
                        f"w{(bid * 10 + j) * 13 + t}" for t in range(12)))
                    for j in range(3)
                ]
            )
            sink(batch, bid)
        assert sink.n_compactions > 0  # compaction actually ran
        store = str(tmp_path / "store")
        empty = [
            os.path.join(root, d)
            for root, dirs, files in os.walk(store)
            for d in dirs
            if not os.listdir(os.path.join(root, d))
        ]
        assert empty == [], f"emptied dirs left behind: {empty}"
        # steady-state dir count is bounded by fragmentation
        # (~compact_threshold live dirs per bucket), NOT by batch count —
        # without pruning this would be >= n_batches + compactions
        d_dirs = [d for d in os.listdir(store) if d.startswith("d_")]
        assert len(d_dirs) <= (3 + 1) * 4, d_dirs
        # the admitted set survives compaction + pruning intact
        assert sink.accepted().count() == sink.admitted_rows


class TestScd2Sink:
    """Incremental SCD2 maintenance (streaming/scd2_sink.py): after any
    prefix of offset-ordered batches, history() must equal the batch
    scd2_history over the same events; replays and crashes converge
    (VERDICT r5 ask #4 — mirrors the other sink batteries)."""

    SCHEMA = "pk long, value double, cdc_offset long, op string"
    # key 1: insert, update, update (spans batches); key 2: insert then
    # delete (delete closes, emits nothing); key 3: insert, delete,
    # re-insert ALL in one batch; key 4: untouched after batch 0
    BATCH0 = [
        (1, 10.0, 1, "insert"),
        (2, 20.0, 2, "insert"),
        (1, 11.0, 3, "update"),
        (4, 40.0, 4, "insert"),
    ]
    BATCH1 = [
        (1, 12.0, 5, "update"),
        (2, None, 6, "delete"),
        (3, 30.0, 7, "insert"),
        (3, None, 8, "delete"),
        (3, 31.0, 9, "insert"),
    ]

    def _batch(self, spark, rows):
        return spark.createDataFrame(rows, self.SCHEMA)

    def _expected(self, spark, rows):
        from spark_binlog_spark.operators import scd2_history

        return {
            tuple(r)
            for r in scd2_history(
                self._batch(spark, rows), key_col="pk", value_cols=["value"]
            ).collect()
        }

    def test_incremental_equals_batch_recompute(self, spark, tmp_path):
        from spark_binlog_spark.streaming.scd2_sink import Scd2HistorySink

        sink = Scd2HistorySink(spark, str(tmp_path / "store"))
        sink(self._batch(spark, self.BATCH0), 0)
        # invariant holds at EVERY batch boundary, not just the end
        assert {tuple(r) for r in sink.history().collect()} == self._expected(
            spark, self.BATCH0
        )
        sink(self._batch(spark, self.BATCH1), 1)
        got = {tuple(r) for r in sink.history().collect()}
        assert got == self._expected(spark, self.BATCH0 + self.BATCH1)
        # spot semantics: key 2 fully closed, key 3's final version
        # open at 9, key 1 has three chained versions
        by_key = {}
        for pk, value, vf, vt, cur in got:
            by_key.setdefault(pk, []).append((vf, vt, cur))
        assert all(not cur for _, _, cur in by_key[2])
        assert (9, None, True) in by_key[3]
        assert sorted(by_key[1]) == [(1, 3, False), (3, 5, False), (5, None, True)]

    def test_as_of_matches_interval_filter(self, spark, tmp_path):
        from spark_binlog_spark.streaming.scd2_sink import Scd2HistorySink

        sink = Scd2HistorySink(spark, str(tmp_path / "store"))
        sink(self._batch(spark, self.BATCH0), 0)
        sink(self._batch(spark, self.BATCH1), 1)
        # at offset 6: key 1 at value 12 (open), key 2 deleted at 6
        # (closure bound is exclusive), key 4 still at 40
        got = {(r["pk"], r["value"]) for r in sink.as_of(6).collect()}
        assert got == {(1, 12.0), (4, 40.0)}

    def test_replay_and_crash_recovery_converge(self, spark, tmp_path):
        import os
        import shutil

        from spark_binlog_spark.streaming.scd2_sink import Scd2HistorySink

        store = str(tmp_path / "store")
        sink = Scd2HistorySink(spark, store)
        sink(self._batch(spark, self.BATCH0), 0)
        # at-least-once replay of batch 0 (including via a RESTARTED
        # sink): deterministic delta name -> publish-if-absent no-op
        sink(self._batch(spark, self.BATCH0), 0)
        sink2 = Scd2HistorySink(spark, store)
        sink2(self._batch(spark, self.BATCH0), 0)
        assert {tuple(r) for r in sink2.history().collect()} == self._expected(
            spark, self.BATCH0
        )
        # crash BEFORE publish of batch 1: aside debris only, invisible
        sink2(self._batch(spark, self.BATCH1), 1)
        deltas = [p for p in os.listdir(store) if p == "d_b1"]
        assert deltas == ["d_b1"]
        shutil.move(os.path.join(store, "d_b1"), os.path.join(store, "_aside_b1_x"))
        sink3 = Scd2HistorySink(spark, store)  # sweeps the aside
        assert not os.path.exists(os.path.join(store, "_aside_b1_x"))
        assert {tuple(r) for r in sink3.history().collect()} == self._expected(
            spark, self.BATCH0
        )
        # the redelivery recomputes identical rows (store state unchanged)
        sink3(self._batch(spark, self.BATCH1), 1)
        assert {tuple(r) for r in sink3.history().collect()} == self._expected(
            spark, self.BATCH0 + self.BATCH1
        )

    def test_replay_after_compaction_stays_idempotent(self, spark, tmp_path):
        """Compaction must never eat the CURRENT batch's deterministic
        d_b<id> delta (the replay guard): with compact_threshold=1
        every batch triggers compaction, older deltas drain into
        d_compact_*, but each batch's own delta survives its call — so
        a redelivery of the latest batch (crash before checkpoint
        commit) is still a no-op and history stays exact."""
        import os

        from spark_binlog_spark.streaming.scd2_sink import Scd2HistorySink

        store = str(tmp_path / "store")
        sink = Scd2HistorySink(spark, store, n_buckets=1, compact_threshold=1)
        sink(self._batch(spark, self.BATCH0), 0)
        sink(self._batch(spark, self.BATCH1), 1)
        # batch 1's compaction merged batch 0's delta away; batch 1's
        # own delta must still exist under its deterministic name
        assert os.path.isdir(os.path.join(store, "d_b1"))
        # crash-before-commit: batch 1 is redelivered to a fresh sink
        sink2 = Scd2HistorySink(spark, store, n_buckets=1, compact_threshold=1)
        sink2(self._batch(spark, self.BATCH1), 1)
        assert sink2.applied_batches == [(1, 0)]  # no-op replay
        assert {tuple(r) for r in sink2.history().collect()} == self._expected(
            spark, self.BATCH0 + self.BATCH1
        )

    def test_batch_reads_only_its_key_buckets(self, spark, tmp_path):
        """The open-version probe must read only the bucket dirs the
        batch's own keys hash into — the pruning receipt, same contract
        as the admission sinks."""
        from spark_binlog_spark.streaming.scd2_sink import Scd2HistorySink

        sink = Scd2HistorySink(spark, str(tmp_path / "store"), n_buckets=32)
        wide = [(i, float(i), i, "insert") for i in range(1, 65)]
        sink(self._batch(spark, wide), 0)
        sink(self._batch(spark, [(7, 7.5, 100, "update")]), 1)
        _, n_buckets_scanned, _ = sink.scan_stats[-1]
        assert n_buckets_scanned <= 1
        got = {tuple(r) for r in sink.history().collect()}
        assert got == self._expected(spark, wide + [(7, 7.5, 100, "update")])


class TestInvertedIndexSink:
    DOCS0 = [(1, "hash join hash scan"), (2, "window sort window")]
    DOCS1 = [(3, "hash stream batch"), (4, "scan scan sort")]
    SCHEMA = "doc_id long, text string"

    def _batch(self, spark, rows):
        return spark.createDataFrame(rows, self.SCHEMA)

    @staticmethod
    def _served_vs_batch(spark, sink, docs):
        from spark_binlog_spark.functions.text import bm25_topk

        q = {0: ["hash", "scan"], 1: ["window"]}
        served = {tuple(r) for r in sink.bm25(q, k=3).collect()}
        batch = {tuple(r) for r in bm25_topk(docs, q, k=3).collect()}
        assert served == batch and served

    def test_replay_never_double_counts(self, spark, tmp_path):
        """The additive totals are NOT idempotent by themselves —
        the marker ratchet must make a replayed batch a no-op, and the
        served ranking must equal the one-shot batch BM25."""
        from spark_binlog_spark.streaming.inverted_index import InvertedIndexSink

        store = str(tmp_path / "store")
        sink = InvertedIndexSink(spark, store, n_buckets=4)
        sink(self._batch(spark, self.DOCS0), 0)
        sink(self._batch(spark, self.DOCS1), 1)
        # at-least-once replay of BOTH batches (new sink = restart too)
        sink2 = InvertedIndexSink(spark, store, n_buckets=4)
        sink2(self._batch(spark, self.DOCS0), 0)
        sink2(self._batch(spark, self.DOCS1), 1)
        tot = sink2.totals().collect()[0]
        assert (tot["n_docs"], tot["total_words"]) == (4, 13)
        self._served_vs_batch(
            spark, sink2, self._batch(spark, self.DOCS0 + self.DOCS1)
        )

    def test_empty_index_serves_empty_not_null(self, spark, tmp_path):
        """bm25() on a store with no applied batches returns an EMPTY
        correctly-typed frame (before the ADVICE-r5 fix the NULL totals
        row silently produced null scores), and totals() coalesces to
        zeros rather than NULLs."""
        from spark_binlog_spark.streaming.inverted_index import InvertedIndexSink

        sink = InvertedIndexSink(spark, str(tmp_path / "store"), n_buckets=4)
        tot = sink.totals().collect()[0]
        assert (tot["n_docs"], tot["total_words"]) == (0, 0)
        res = sink.bm25({0: ["hash"]}, k=3)
        assert res.collect() == []
        assert [f.name for f in res.schema.fields] == [
            "query_id", "doc_id", "rank", "bm25s",
        ]

    def test_crash_between_postings_and_marker_recovers(self, spark, tmp_path):
        """Worst crash point: postings delta published, marker missing.
        The replay must NOT re-publish postings (publish-if-absent on
        the deterministic name) and must complete the marker — totals
        and postings both end exact."""
        import os

        from spark_binlog_spark.streaming.inverted_index import InvertedIndexSink

        store = str(tmp_path / "store")
        sink = InvertedIndexSink(spark, store, n_buckets=4)
        sink(self._batch(spark, self.DOCS0), 0)
        # simulate the torn batch: delete batch 0's marker only
        os.remove(os.path.join(store, "totals", "t_b0.parquet"))
        sink2 = InvertedIndexSink(spark, store, n_buckets=4)
        sink2(self._batch(spark, self.DOCS0), 0)  # the redelivery
        tot = sink2.totals().collect()[0]
        assert (tot["n_docs"], tot["total_words"]) == (2, 7)
        # postings hold exactly one row per (term, doc)
        from pyspark.sql import functions as F

        dup = (
            sink2.postings()
            .groupBy("term", "doc_id")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > 1)
        )
        assert dup.count() == 0
        self._served_vs_batch(spark, sink2, self._batch(spark, self.DOCS0))

    def test_torn_replay_records_the_published_postings(self, spark, tmp_path):
        """The applied count comes from the publish, with no count job:
        a replay whose postings delta landed but whose marker did not
        records that delta's row count, as the first attempt did."""
        import os

        from spark_binlog_spark.streaming.inverted_index import InvertedIndexSink

        store = str(tmp_path / "store")
        sink = InvertedIndexSink(spark, store, n_buckets=4)
        sink(self._batch(spark, self.DOCS0), 0)
        assert sink.applied_batches == [(0, 5)]  # distinct (term, doc) pairs
        os.remove(os.path.join(store, "totals", "t_b0.parquet"))
        sink2 = InvertedIndexSink(spark, store, n_buckets=4)
        sink2(self._batch(spark, self.DOCS0), 0)
        assert sink2.applied_batches == [(0, 5)]

    def test_query_reads_only_matching_term_buckets(self, spark, tmp_path):
        """BM25 serving must open only the query terms' bucket dirs —
        the pruning receipt, same contract as the admission sinks."""
        from spark_binlog_spark.streaming.inverted_index import InvertedIndexSink

        store = str(tmp_path / "store")
        sink = InvertedIndexSink(spark, store, n_buckets=32)
        docs = [
            (i, " ".join(f"word{i}x{j}" for j in range(8))) for i in range(40)
        ]
        sink(self._batch(spark, docs), 0)
        sink.bm25({0: ["word3x1"]}, k=1).collect()
        _, n_buckets_scanned, _ = sink.scan_stats[-1]
        assert n_buckets_scanned <= 1  # one term → at most its bucket


class TestSimHashIngestSink:
    """Hamming sibling of the MinHash battery.  doc 3 repeats doc 1's
    words (identical signature, hamming 0 → in-batch reject, smaller
    id wins); doc 11 is a word-permutation of doc 1 (SimHash is
    order-insensitive → hamming 0 vs the index); docs 2 and 13 are
    unrelated word sets and survive."""

    DOCS = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "one two three four five six seven"),
        (3, "alpha beta gamma delta epsilon zeta"),
        (11, "zeta epsilon delta gamma beta alpha"),
        (13, "red green blue cyan magenta yellow"),
    ]

    def _batch(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_admission_and_replay_idempotence(self, spark, tmp_path):
        from spark_binlog_spark.streaming.simhash_sink import SimHashIngestSink

        store = str(tmp_path / "store")
        sink = SimHashIngestSink(spark, store, max_hamming=2)
        sink(self._batch(spark, self.DOCS[:3]), 0)
        sink(self._batch(spark, self.DOCS[3:]), 1)
        assert {r["doc_id"] for r in sink.accepted().collect()} == {1, 2, 13}
        assert dict(sink.admitted_batches) == {0: 2, 1: 1}

        # at-least-once replay: batch 1's docs self-match at hamming 0
        sink2 = SimHashIngestSink(spark, store, max_hamming=2)
        sink2(self._batch(spark, self.DOCS[3:]), 99)
        assert sink2.admitted_batches == [(99, 0)]
        assert {r["doc_id"] for r in sink2.accepted().collect()} == {1, 2, 13}

    def test_wide_signature_admission_and_replay(self, spark, tmp_path):
        """The 60-bit scale path (r11): identical word sets still
        collide at hamming 0 (SimHash is order-insensitive at any
        width), unrelated docs survive, and a replayed batch admits
        nothing (self-match).  Wide signatures are the form that keeps
        band-value space sparse at corpus scale — the 16-bit default is
        the graded/oracle setting, not the 100 TB one."""
        from spark_binlog_spark.streaming.simhash_sink import SimHashIngestSink

        store = str(tmp_path / "store")
        sink = SimHashIngestSink(spark, store, max_hamming=3, bits=60, bands=4)
        sink(self._batch(spark, self.DOCS[:3]), 0)
        sink(self._batch(spark, self.DOCS[3:]), 1)
        assert {r["doc_id"] for r in sink.accepted().collect()} == {1, 2, 13}
        assert dict(sink.admitted_batches) == {0: 2, 1: 1}
        sink2 = SimHashIngestSink(spark, store, max_hamming=3, bits=60, bands=4)
        sink2(self._batch(spark, self.DOCS), 99)
        assert sink2.admitted_batches == [(99, 0)]

    def test_crash_before_publish_leaves_nothing(self, spark, tmp_path):
        import os

        from spark_binlog_spark.streaming.simhash_sink import SimHashIngestSink

        store = str(tmp_path / "store")
        sink = SimHashIngestSink(spark, store, max_hamming=2)
        sink(self._batch(spark, self.DOCS[:3]), 0)
        deltas = [p for p in os.listdir(store) if p.startswith("d_b0")]
        assert len(deltas) == 1
        os.rename(
            os.path.join(store, deltas[0]), os.path.join(store, "_aside_b0_dead")
        )
        sink2 = SimHashIngestSink(spark, store, max_hamming=2)
        assert not os.path.exists(os.path.join(store, "_aside_b0_dead"))
        assert sink2.accepted().count() == 0
        sink2(self._batch(spark, self.DOCS[:3]), 0)
        assert {r["doc_id"] for r in sink2.accepted().collect()} == {1, 2}

    def test_parameter_guards(self, spark, tmp_path):
        import pytest as _pytest

        from spark_binlog_spark.streaming.simhash_sink import SimHashIngestSink

        with _pytest.raises(ValueError, match="pigeonhole"):
            SimHashIngestSink(spark, str(tmp_path / "s1"), max_hamming=4, bands=4)
        with _pytest.raises(ValueError, match="evenly divide"):
            SimHashIngestSink(spark, str(tmp_path / "s2"), bits=16, bands=5, max_hamming=2)


class TestEmbeddingNearDupIngestSink:
    """Vector sibling of the MinHash admission battery: dim-8 vectors,
    sign-LSH candidacy (4 planes × 2 tables), exact quantized cosine >=
    0.8 rejection.  Expected sets are hand-derived: within batch 0,
    vec 3 is a scaled copy of vec 1 (cosine 1, smaller id wins); in
    batch 1, vec 11 is a near-copy of admitted vec 1, vec 12 a scaled
    copy of admitted vec 2, vec 15 a scaled copy of in-batch vec 14;
    vec 13 is the NEGATION of vec 1 (cosine −1: bucket-separated AND
    below threshold) and must survive."""

    V = {
        1: [1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0],
        2: [0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0],
        3: [2.0, 0.0, 0.0, 0.0, 2.0, 0.0, 0.0, 0.0],
        11: [1.0, 0.01, 0.0, 0.0, 1.0, 0.01, 0.0, 0.0],
        12: [0.0, 2.0, 0.0, 0.0, 0.0, 2.0, 0.0, 0.0],
        13: [-1.0, 0.0, 0.0, 0.0, -1.0, 0.0, 0.0, 0.0],
        14: [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0],
        15: [0.0, 0.0, 3.0, 0.0, 0.0, 0.0, 3.0, 0.0],
    }
    SCHEMA = "vec_id long, embedding array<float>"

    def _batch(self, spark, ids):
        return spark.createDataFrame([(i, self.V[i]) for i in ids], self.SCHEMA)

    def _run(self, spark, tmp_path):
        import os

        import pyarrow as pa_
        import pyarrow.parquet as pq_

        from spark_binlog_spark.streaming.embedding_sink import EmbeddingNearDupIngestSink
        from spark_binlog_spark.streaming.runner import run_files

        vecs = str(tmp_path / "vecs")
        os.makedirs(vecs, exist_ok=True)
        for i, ids in enumerate([[1, 2, 3], [11, 12, 13, 14, 15]]):
            p = os.path.join(vecs, f"b{i}.parquet")
            pq_.write_table(
                pa_.table(
                    {
                        "vec_id": pa_.array(ids, pa_.int64()),
                        "embedding": pa_.array(
                            [self.V[i_] for i_ in ids], pa_.list_(pa_.float32())
                        ),
                    }
                ),
                p,
            )
            os.utime(p, (1e9 + i * 100, 1e9 + i * 100))
        return run_files(
            spark, vecs, self.SCHEMA, str(tmp_path / "ck"),
            EmbeddingNearDupIngestSink(
                spark, str(tmp_path / "store"), min_cosine4=8000, planes=4, n_tables=2
            ),
        )

    def test_admission_and_replay_idempotence(self, spark, tmp_path):
        from spark_binlog_spark.streaming.embedding_sink import (
            EmbeddingNearDupIngestSink,
        )

        sink = self._run(spark, tmp_path)
        accepted = {r["vec_id"] for r in sink.accepted().collect()}
        assert accepted == {1, 2, 13, 14}
        assert dict(sink.admitted_batches) == {0: 2, 1: 2}

        # at-least-once replay of batch 1's content: every vector
        # self-matches the index at cosine4 = 10000 and admits nothing
        sink2 = EmbeddingNearDupIngestSink(
            spark, str(tmp_path / "store"), min_cosine4=8000, planes=4, n_tables=2
        )
        sink2(self._batch(spark, [11, 12, 13, 14, 15]), 99)
        assert sink2.admitted_batches == [(99, 0)]
        assert {r["vec_id"] for r in sink2.accepted().collect()} == {1, 2, 13, 14}

    def test_crash_before_publish_leaves_nothing(self, spark, tmp_path):
        """Atomic per-batch publish: an aside dir from a crashed
        attempt is invisible to the index and swept on restart."""
        import os

        from spark_binlog_spark.streaming.embedding_sink import (
            EmbeddingNearDupIngestSink,
        )

        store = str(tmp_path / "store")
        sink = EmbeddingNearDupIngestSink(spark, store, min_cosine4=8000, n_tables=2)
        sink(self._batch(spark, [1, 2, 3]), 0)
        deltas = [p for p in os.listdir(store) if p.startswith("d_b0")]
        assert len(deltas) == 1
        os.rename(
            os.path.join(store, deltas[0]), os.path.join(store, "_aside_b0_dead")
        )
        sink2 = EmbeddingNearDupIngestSink(spark, store, min_cosine4=8000, n_tables=2)
        assert not os.path.exists(os.path.join(store, "_aside_b0_dead"))
        assert sink2.accepted().count() == 0
        # the replay then re-admits the full batch
        sink2(self._batch(spark, [1, 2, 3]), 0)
        assert {r["vec_id"] for r in sink2.accepted().collect()} == {1, 2}

    def test_search_topk_serves_from_the_index(self, spark, tmp_path):
        """After ingest the store answers ANN queries directly: a query
        aligned with admitted vec 1 ranks it first at cosine4 = 10000;
        an identical-id query vector never self-matches; only admitted
        vectors appear."""
        sink = self._run(spark, tmp_path)  # admitted = {1, 2, 13, 14}
        queries = spark.createDataFrame(
            [(1, self.V[1]), (200, self.V[14])], self.SCHEMA
        )
        got = {
            (r["query_id"], r["rank"]): (r["vec_id"], r["cosine4"])
            for r in sink.search_topk(queries, k=2).collect()
        }
        # query 200 == vec 14's direction: vec 14 first at exact 10000
        assert got[(200, 1)] == (14, 10000)
        # query 1 IS admitted vec 1: it must not match itself; its top
        # hits are other admitted vectors only
        hits_q1 = [v for (q, _), (v, _) in got.items() if q == 1]
        assert 1 not in hits_q1
        assert set(hits_q1) <= {2, 13, 14}

    def test_derived_planes_stable_across_batches_and_restarts(self, spark, tmp_path):
        """planes=None is an INDEX property: derived once from the
        first batch, persisted beside the store, and reused by later
        batches, restarts, and search — a replayed duplicate in a
        much smaller batch must still bucket identically and be
        rejected (the cross-batch key-comparability regression)."""
        import numpy as np

        from spark_binlog_spark.streaming.embedding_sink import (
            EmbeddingNearDupIngestSink,
        )

        rng = np.random.RandomState(3)
        vecs = rng.randn(1500, 16).astype("float32")
        big = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(1500)], self.SCHEMA
        )
        store = str(tmp_path / "store")
        sink = EmbeddingNearDupIngestSink(
            spark, store, min_cosine4=9990, planes=None, n_tables=2
        )
        sink(big, 0)
        n0 = sink.admitted_rows
        assert n0 > 0
        # restart: a NEW sink instance must load the same plane count
        sink2 = EmbeddingNearDupIngestSink(
            spark, store, min_cosine4=9990, planes=None, n_tables=2
        )
        assert sink2._resolve_planes(big) == sink._planes_resolved
        # a tiny batch (different derived count if re-derived) replaying
        # already-admitted vectors admits NOTHING
        tiny = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(3)], self.SCHEMA
        )
        sink2(tiny, 1)
        assert sink2.admitted_batches[-1] == (1, 0)
        # search with planes=None before any batch refuses loudly
        import pytest as _pytest

        fresh = EmbeddingNearDupIngestSink(
            spark, str(tmp_path / "s2"), planes=None, n_tables=2
        )
        with _pytest.raises(ValueError, match="resolved plane count"):
            fresh.search_topk(tiny, k=1)

    def test_empty_first_batch_defers_plane_resolution(self, spark, tmp_path):
        """An empty FIRST micro-batch must not resolve the plane count
        (the fallback dim would either trip the planes*n_tables guard
        or persist a wrong derived count — ADVICE r5); the first
        NON-empty batch resolves and admits normally."""
        import os

        from spark_binlog_spark.streaming.embedding_sink import (
            EmbeddingNearDupIngestSink,
        )

        store = str(tmp_path / "store")
        # planes*n_tables = 8 > the _vec_dim fallback of 4: before the
        # fix an empty first batch raised and killed the stream
        sink = EmbeddingNearDupIngestSink(
            spark, store, min_cosine4=8000, planes=4, n_tables=2
        )
        empty = spark.createDataFrame([], self.SCHEMA)
        sink(empty, 0)
        assert sink.admitted_batches == [(0, 0)]
        assert sink._planes_resolved is None
        assert not os.path.exists(os.path.join(store, "_planes.json"))
        # derived form: an empty first batch must not bind planes either
        sink_d = EmbeddingNearDupIngestSink(
            spark, str(tmp_path / "store_d"), min_cosine4=8000,
            planes=None, n_tables=2,
        )
        sink_d(empty, 0)
        assert sink_d._planes_resolved is None
        # the first non-empty batch resolves and admits as usual
        sink(self._batch(spark, [1, 2, 3]), 1)
        assert sink._planes_resolved == 4
        assert {r["vec_id"] for r in sink.accepted().collect()} == {1, 2}

    def test_threshold_above_self_cosine_rejected(self, spark, tmp_path):
        import pytest as _pytest

        from spark_binlog_spark.streaming.embedding_sink import (
            EmbeddingNearDupIngestSink,
        )

        # the boundary ITSELF is rejected: a self-cosine can floor to
        # 9999 when norm^2 > 2^53, so ==10000 would break replay
        # idempotence (ADVICE r5)
        for bad in (10000, 10001):
            with _pytest.raises(ValueError, match="10000"):
                EmbeddingNearDupIngestSink(
                    spark, str(tmp_path / "s"), min_cosine4=bad
                )


class TestAdmissionPublish:
    """The publish step the four admission sinks share: the admitted
    rows are evaluated once, by the write (no cached copy, no count
    job), and a replay, whose write is empty, publishes nothing."""

    def _sink_and_batch(self, spark, kind, store):
        from spark_binlog_spark.streaming.dedup_sink import DedupIngestSink
        from spark_binlog_spark.streaming.embedding_sink import EmbeddingNearDupIngestSink
        from spark_binlog_spark.streaming.neardup_sink import NearDupIngestSink
        from spark_binlog_spark.streaming.simhash_sink import SimHashIngestSink

        if kind == "embedding":
            return (
                EmbeddingNearDupIngestSink(spark, store, min_cosine4=8000, planes=4, n_tables=2),
                TestEmbeddingNearDupIngestSink()._batch(spark, [1, 2, 3]),
            )
        sink = {
            "dedup": lambda: DedupIngestSink(spark, store),
            "neardup": lambda: NearDupIngestSink(spark, store, min_agree=2),
            "simhash": lambda: SimHashIngestSink(spark, store, max_hamming=2),
        }[kind]()
        return sink, spark.createDataFrame(
            TestNearDupIngestSink.DOCS[:3], "doc_id long, text string"
        )

    @pytest.mark.parametrize("kind", ["dedup", "neardup", "simhash", "embedding"])
    def test_publish_caches_nothing_and_replay_publishes_nothing(self, spark, tmp_path, kind):
        import glob

        store = str(tmp_path / "store")
        sink, batch = self._sink_and_batch(spark, kind, store)
        persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
        sink(batch, 0)
        assert sink.admitted_batches[0][1] > 0
        assert len(spark.sparkContext._jsc.getPersistentRDDs()) <= persisted
        deltas = sorted(glob.glob(os.path.join(store, "d_*")))
        assert len(deltas) == 1
        sink(batch, 0)  # at-least-once replay
        assert sink.admitted_batches[1] == (0, 0)
        assert sorted(glob.glob(os.path.join(store, "d_*"))) == deltas
        assert not glob.glob(os.path.join(store, "_aside*"))


class TestDistributedCompaction:
    def test_crash_between_compact_publish_and_deletes_is_absorbed(
        self, spark, tmp_path
    ):
        """The compaction protocol publishes the merged delta BEFORE
        deleting the old files, so a crash in between leaves every
        merged row twice.  Admission (countDistinct-based agreement)
        and accepted() (distinct) must both absorb the duplicates, and
        the NEXT compaction must drain them back to one copy."""
        import glob
        import os
        import shutil

        from spark_binlog_spark.streaming.neardup_sink import NearDupIngestSink

        store = str(tmp_path / "store")
        sink = NearDupIngestSink(spark, store, min_agree=2, n_buckets=2)
        docs = [
            (i, f"document number {i} with tokens " + " ".join(f"w{i * 13 + t}" for t in range(10)))
            for i in range(6)
        ]
        sink(spark.createDataFrame(docs[:3], "doc_id long, text string"), 0)
        sink(spark.createDataFrame(docs[3:], "doc_id long, text string"), 1)
        accepted_before = {r["doc_id"] for r in sink.accepted().collect()}
        assert accepted_before == {0, 1, 2, 3, 4, 5}
        # simulate the torn compaction: clone a published delta dir
        # (same rows now visible twice — exactly what publish-then-
        # crash-before-deletes leaves)
        delta = sorted(p for p in os.listdir(store) if p.startswith("d_b0"))[0]
        shutil.copytree(
            os.path.join(store, delta), os.path.join(store, "d_compact_torn")
        )
        sink2 = NearDupIngestSink(spark, store, min_agree=2, n_buckets=2)
        assert {r["doc_id"] for r in sink2.accepted().collect()} == accepted_before
        # a replay of batch 0 still admits nothing (duplicate index rows
        # must not break the countDistinct agreement, nor re-admit)
        sink2(spark.createDataFrame(docs[:3], "doc_id long, text string"), 0)
        assert sink2.admitted_batches == [(0, 0)]
        # admitting fresh docs still works with the torn store present
        sink2(
            spark.createDataFrame(
                [(100, "entirely new content " + " ".join(f"z{t}" for t in range(10)))],
                "doc_id long, text string",
            ),
            2,
        )
        assert {r["doc_id"] for r in sink2.accepted().collect()} == accepted_before | {100}
        # force a compaction over every bucket: duplicates drain to one
        # copy (file count bounded again) and the admitted set is intact
        sink2.store.compact_threshold = 1
        sink2.store.maybe_compact(list(range(2)))
        assert {r["doc_id"] for r in sink2.accepted().collect()} == accepted_before | {100}
        files = glob.glob(os.path.join(store, "d_*", "bucket=*", "*.parquet"))
        assert len(files) <= 2  # one merged file per bucket

    def test_compaction_never_reads_data_on_the_driver(self, spark, tmp_path, monkeypatch):
        """Bucket compaction must be a Spark job: executors read and
        re-encode the over-threshold buckets; the driver only renames
        files.  Proven by counting pyarrow read_table calls (the old
        driver-side merge path) during a battery that compacts both
        sinks several times — must stay at zero, with the admitted set
        intact and the file counts actually reduced."""
        import glob
        import os

        import pyarrow.parquet as pq_

        calls: list = []
        real = pq_.read_table

        def counting_read_table(*a, **k):
            calls.append(a)
            return real(*a, **k)

        monkeypatch.setattr(pq_, "read_table", counting_read_table)

        from spark_binlog_spark.streaming.dedup_sink import DedupIngestSink
        from spark_binlog_spark.streaming.neardup_sink import NearDupIngestSink

        store = str(tmp_path / "store")
        sink = DedupIngestSink(spark, store, n_buckets=2, compact_threshold=3)
        for bid in range(8):
            sink(
                spark.createDataFrame(
                    [(bid * 10 + j, f"wholly unique text {bid} {j}") for j in range(3)],
                    "doc_id long, text string",
                ),
                bid,
            )
        assert sink.n_compactions > 0
        assert calls == [], "compaction read data files on the driver"
        assert sink.accepted().count() == sink.admitted_rows == 24
        # each bucket's fragments stay below the threshold steady-state
        for b in range(2):
            n = len(glob.glob(os.path.join(store, "d_*", f"bucket={b}", "*.parquet")))
            assert n <= 3 + 1, f"bucket {b} holds {n} files after compaction"

        store2 = str(tmp_path / "store2")
        sink2 = NearDupIngestSink(spark, store2, n_buckets=2, compact_threshold=3)
        for bid in range(8):
            batch = [
                (
                    bid * 10 + j,
                    f"doc {bid} {j} "
                    + " ".join(f"w{(bid * 10 + j) * 13 + t}" for t in range(12)),
                )
                for j in range(3)
            ]
            sink2(spark.createDataFrame(batch, "doc_id long, text string"), bid)
        assert sink2.n_compactions > 0
        assert calls == [], "near-dup compaction read data files on the driver"
        assert sink2.accepted().count() == sink2.admitted_rows


class TestWarmBatchJobBudget:
    """Spark jobs per warm batch, counted through the status tracker.
    Under AQE every shuffle stage of a small batch runs as its own job
    at a fixed cost, so a side job costs about as much as admission
    work.  The admission stores compact inside the publish write
    (2 buckets at threshold 2 compact in every warm batch), NearDup
    rejects in one anti-join, and the summary store reads its batch-id
    ratchet from parquet footers and merges sums in one aggregate."""

    @pytest.mark.parametrize(
        "name,budget", [("dedup", 8), ("neardup", 11), ("corpus_stats", 5)]
    )
    def test_jobs_per_warm_batch(self, spark, tmp_path, name, budget):
        from spark_binlog_spark.streaming.corpus_stats import CorpusStatsSink
        from spark_binlog_spark.streaming.dedup_sink import DedupIngestSink
        from spark_binlog_spark.streaming.neardup_sink import NearDupIngestSink
        from tests.conftest import _Jobs

        store = str(tmp_path / "store")
        sink = {
            "dedup": lambda: DedupIngestSink(spark, store, n_buckets=2, compact_threshold=2),
            "neardup": lambda: NearDupIngestSink(
                spark, store, min_agree=2, n_buckets=2, compact_threshold=2
            ),
            "corpus_stats": lambda: CorpusStatsSink(spark, store, resume=False),
        }[name]()

        def text(b, i):
            return f"doc {i} of batch {b} " + " ".join(f"w{b * 97 + i * 13 + t}" for t in range(10))

        def batch(b):
            # each batch repeats one document of the one before it
            rows = [(b * 100 + i, text(b, i), f"s{i % 3}") for i in range(1, 20)]
            return spark.createDataFrame(
                rows + [(b * 100, text(b - 1, 1), "s0")],
                "doc_id long, text string, source string",
            ).persist()

        batches = [batch(b) for b in range(3)]
        try:
            sink(batches[0], 0)
            sink(batches[1], 1)
            with _Jobs(spark) as jobs:
                sink(batches[2], 2)
            if name != "corpus_stats":
                assert sink.admitted_batches[2][1] > 0
                assert sink.n_compactions >= 2  # both warm batches compacted
            assert jobs.n <= budget, f"{name}: {jobs.n} Spark jobs for one warm batch"
        finally:
            for b in batches:
                b.unpersist()


class TestRegionPartitionedStore:
    def test_pruned_scan_and_identical_stream(self, spark, tmp_path):
        """A region-partitioned store must (a) let a region task open
        only its own fragments — ~1/N of the data — and (b) produce the
        identical stream to the flat store."""
        import json as _json

        import pyarrow.dataset as ds

        from spark_binlog_spark.sources.binlog_fixture import region_partition_dataset
        from spark_binlog_spark.streaming.pipeline import read_stream

        rows = [(i, T0 + i, i % 5, "click", float(i), "{}") for i in range(30)]
        flat = str(tmp_path / "ev.parquet")
        _write_events(flat, rows)
        part = region_partition_dataset(spark, flat, str(tmp_path / "by_region"), 4)

        # (a) fragment pruning: the per-region filter opens a strict
        # subset of fragments (one directory of four)
        dataset = ds.dataset(part, partitioning="hive")
        all_frags = len(list(dataset.get_fragments()))
        r1_frags = len(list(dataset.get_fragments(ds.field("region") == 1)))
        assert all_frags >= 4 and r1_frags <= all_frags // 4

        # (b) same stream content as the flat store
        wire = read_stream(spark, part, regions=4)
        q = (
            wire.writeStream.format("memory")
            .queryName("region_part_stream")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        envs = [_json.loads(r["value"]) for r in spark.table("region_part_stream").collect()]
        assert sorted(e["rows"][0]["cdc_offset"] for e in envs) == list(range(30))
        assert all(e["schema"] is None for e in envs)  # region mode = schema-less


class TestPerBatchTaskSizing:
    """``numPartitions`` is a per-batch maximum: a batch plans one read
    task per ``EVENTS_PER_TASK`` events (at least one per segment file
    it touches), so a live-tail trigger pays one Python task's start
    cost, not one per core, while a backlog still fans out fully."""

    N = 40_000  # two 20,000-event segment files

    def _stores(self, tmp_path):
        from spark_binlog_spark.sources.binlog_fixture import write_segments

        flat = str(tmp_path / "ev.parquet")
        _write_events(flat, [(i, T0 + i, i % 5, "click", float(i), "{}") for i in range(self.N)])
        seg_dir = str(tmp_path / "binlog")
        assert write_segments(flat, seg_dir, n_segments=2) == self.N // 2
        return flat, seg_dir

    @staticmethod
    def _segmented(seg_dir, lo, hi, num_partitions=4):
        from spark_binlog_spark.sources.binlog_fixture import (
            BinlogFixtureStreamReader,
            _global_to_packed,
        )

        rdr = BinlogFixtureStreamReader({"path": seg_dir, "numPartitions": str(num_partitions)})
        idx = rdr._seg_index()
        parts = rdr.partitions(
            {"offset": _global_to_packed(idx, lo)}, {"offset": _global_to_packed(idx, hi)}
        )
        spans = {s["path"]: (s["min"], s["max"] + 1) for s in idx}
        for p in parts:  # no task crosses a file
            f_lo, f_hi = spans[p.path]
            assert f_lo <= p.start < p.end <= f_hi, (p, spans[p.path])
        return parts

    @staticmethod
    def _flat(flat, lo, hi, num_partitions=4):
        from spark_binlog_spark.sources.binlog_fixture import (
            BinlogFixtureBatchReader,
            BinlogFixtureStreamReader,
        )

        n = str(num_partitions)
        stream = BinlogFixtureStreamReader({"path": flat, "numPartitions": n}).partitions(
            {"offset": lo}, {"offset": hi}
        )
        batch = BinlogFixtureBatchReader(
            {"path": flat, "numPartitions": n, "startingOffset": lo, "endingOffset": hi}
        ).partitions()
        assert [(p.start, p.end) for p in stream] == [(p.start, p.end) for p in batch]
        return stream

    @staticmethod
    def _covers_once(parts, lo, hi):
        ids = sorted(i for p in parts for i in range(p.start, p.end))
        assert ids == list(range(lo, hi))

    def test_live_tail_batch_plans_one_task_per_file(self, tmp_path):
        flat, seg_dir = self._stores(tmp_path)
        for lo, hi, n_files in ((100, 1650, 1), (19_000, 20_550, 2)):
            parts = self._segmented(seg_dir, lo, hi)
            assert len(parts) == n_files and len({p.path for p in parts}) == n_files
            self._covers_once(parts, lo, hi)
            parts = self._flat(flat, lo, hi)
            assert len(parts) == 1
            self._covers_once(parts, lo, hi)

    def test_backlog_fans_out_to_num_partitions(self, tmp_path):
        from collections import Counter

        from spark_binlog_spark.sources.binlog_fixture import EVENTS_PER_TASK

        flat, seg_dir = self._stores(tmp_path)
        lo, hi = 500, 500 + 4 * EVENTS_PER_TASK + 7  # inside the first file
        for parts in (self._segmented(seg_dir, lo, hi), self._flat(flat, lo, hi)):
            assert len(parts) == 4
            self._covers_once(parts, lo, hi)
        # the whole log: 10 tasks' worth of events, capped at 4 (two per
        # file) and, with a larger maximum, one task per 4,096 events
        parts = self._segmented(seg_dir, 0, self.N)
        assert sorted(Counter(p.path for p in parts).values()) == [2, 2]
        self._covers_once(parts, 0, self.N)
        for parts in (self._segmented(seg_dir, 0, self.N, 32), self._flat(flat, 0, self.N, 32)):
            assert len(parts) == -(-self.N // EVENTS_PER_TASK)
            self._covers_once(parts, 0, self.N)


class TestRolledWALRegions:
    """HBase rolled-WAL layout: region=K dirs of wal.%06d segment files
    (oldWALs + active sets per region, HBaseWALClient.scala:66,128)."""

    def _store(self, tmp_path, n=30, n_regions=4, n_segments=3, only=None):
        from spark_binlog_spark.sources.binlog_fixture import write_region_wal_segments

        rows = [(i, T0 + i, i % 5, "click", float(i), "{}") for i in range(n)]
        flat = str(tmp_path / "ev.parquet")
        if not os.path.exists(flat):
            _write_events(flat, rows)
        store = str(tmp_path / "wals")
        eps = write_region_wal_segments(
            flat, store, n_regions=n_regions, n_segments=n_segments, only=only
        )
        return flat, store, eps

    def test_partitions_are_file_bounded_and_region_owned(self, tmp_path):
        """Unit probe of the planning path: offsets keep the {rK: seq}
        map shape, each partition's path is ONE wal file inside its own
        region directory (never spans a roll boundary), and per-region
        spans reassemble each region's exact event set."""
        from spark_binlog_spark.sources.binlog_fixture import (
            BinlogFixtureStreamReader,
            is_region_rolled,
        )

        flat, store, eps = self._store(tmp_path)
        assert is_region_rolled(store)
        rdr = BinlogFixtureStreamReader({"path": store, "regions": "4"})
        start = rdr.initialOffset()
        end = rdr.latestOffset()
        assert set(start) == {"r0", "r1", "r2", "r3"}
        # per-region watermark = that region's own log end
        exp_end = {}
        for i in range(30):
            exp_end[f"r{(i % 5) % 4}"] = i + 1
        assert end == exp_end
        parts = rdr.partitions(start, end)
        import re

        for p in parts:
            assert re.search(rf"region={p.region}[/\\]wal\.\d{{6}}$", p.path), p.path
            # a partition never crosses a roll boundary (eps-aligned)
            assert (p.start // eps) == ((p.end - 1) // eps)
        # spans per region cover the region's events exactly once
        by_region = {}
        for p in parts:
            by_region.setdefault(p.region, []).append((p.start, p.end))
        for r, spans in by_region.items():
            ids = sorted(i for lo, hi in spans for i in range(lo, hi) if (i % 5) % 4 == r)
            assert ids == [i for i in range(30) if (i % 5) % 4 == r]

    def test_partition_budget_subdivides_spans_without_crossing_rolls(self, tmp_path):
        """r15: ``numPartitions`` is a TOTAL task budget for a rolled
        batch — spans subdivide proportionally to length, every chunk
        stays inside one WAL file, per-region coverage is still exact,
        and the default budget keeps the one-task-per-(region, file)
        shape."""
        from spark_binlog_spark.sources.binlog_fixture import (
            BinlogFixtureStreamReader,
        )

        flat, store, eps = self._store(tmp_path, n=120)
        start_end = lambda rdr: (rdr.initialOffset(), rdr.latestOffset())

        rdr4 = BinlogFixtureStreamReader({"path": store, "regions": "4"})
        s4, e4 = start_end(rdr4)
        base = [p for p in rdr4.partitions(s4, e4) if p.end > p.start]

        rdr32 = BinlogFixtureStreamReader(
            {"path": store, "regions": "4", "numPartitions": "32"}
        )
        s32, e32 = start_end(rdr32)
        parts = [p for p in rdr32.partitions(s32, e32) if p.end > p.start]
        # budget fans out past one-per-span
        assert len(parts) > len(base)
        import re

        for p in parts:
            assert re.search(rf"region={p.region}[/\\]wal\.\d{{6}}$", p.path), p.path
            # a chunk never crosses a roll boundary (eps-aligned files)
            assert (p.start // eps) == ((p.end - 1) // eps)
        # per-region chunks reassemble each region's exact event set
        for r in range(4):
            spans = [(p.start, p.end) for p in parts if p.region == r]
            ids = sorted(i for lo, hi in spans for i in range(lo, hi) if (i % 5) % 4 == r)
            assert ids == [i for i in range(120) if (i % 5) % 4 == r]

    def test_rolled_stream_matches_flat_and_commits_map_offsets(self, spark, tmp_path):
        """The rolled store must stream the identical event set to the
        flat store, schema-less envelopes, and checkpoint the region-map
        offset shape with per-region ends."""
        from spark_binlog_spark.streaming.pipeline import read_stream

        flat, store, eps = self._store(tmp_path)
        wire = read_stream(spark, store, regions=4)
        q = (
            wire.writeStream.format("memory")
            .queryName("rolled_region_stream")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        envs = [json.loads(r["value"]) for r in spark.table("rolled_region_stream").collect()]
        assert sorted(e["rows"][0]["cdc_offset"] for e in envs) == list(range(30))
        assert all(e["schema"] is None for e in envs)

        off_files = sorted(os.listdir(str(tmp_path / "ck" / "offsets")))
        content = open(str(tmp_path / "ck" / "offsets" / off_files[-1])).read().splitlines()
        committed = json.loads(content[-1])
        exp = {}
        for i in range(30):
            exp[f"r{(i % 5) % 4}"] = i + 1
        assert committed == exp

    def test_roll_appears_under_live_tail(self, spark, tmp_path):
        """LIVE ROLL: start a processing-time stream on a store holding
        only wal.000001 per region; while it runs, every region rolls
        wal.000002/3 into place.  The per-trigger region re-probe must
        pick the new files up and deliver every event exactly once with
        no restart — the rolled-file pickup the reference gets from
        re-listing oldWALs + active WALs each batch."""
        import time

        from spark_binlog_spark.sources.binlog_fixture import write_region_wal_segments
        from spark_binlog_spark.streaming.pipeline import read_stream

        flat, store, eps = self._store(tmp_path, only=[1])
        seen = []

        def record(bdf, bid):
            seen.extend(
                json.loads(r["value"])["rows"][0]["cdc_offset"]
                for r in bdf.collect()
            )

        wire = read_stream(spark, store, regions=4)
        q = (
            wire.writeStream.foreachBatch(record)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )

        def wait_for(target, timeout_s=120.0):
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                if q.exception() is not None:
                    raise AssertionError(f"stream died: {q.exception()}")
                if len(seen) >= target:
                    return True
                time.sleep(0.2)
            return False

        assert wait_for(eps), f"first WAL files stalled at {len(seen)}"
        write_region_wal_segments(flat, store, n_regions=4, n_segments=3, only=[2, 3])
        assert wait_for(30), f"rolled tail stalled at {len(seen)}/30"
        q.stop()
        q.awaitTermination()
        assert sorted(seen) == list(range(30))  # exactly once across the roll

    def test_wal_file_gap_raises(self, tmp_path):
        """A missing middle WAL file in any region (purged rolled WAL)
        fails the probe — data-loss failfast, not silent skip."""
        from spark_binlog_spark.sources.binlog_fixture import BinlogFixtureStreamReader

        flat, store, eps = self._store(tmp_path)
        os.remove(os.path.join(store, "region=1", "wal.000002"))
        rdr = BinlogFixtureStreamReader({"path": store, "regions": "4"})
        with pytest.raises(ValueError, match="WAL file-id gap"):
            rdr.latestOffset()

    def test_cdc_upsert_over_rolled_region_store_matches_batch_apply(self, spark, tmp_path):
        """INTEGRATION: the full CDC upsert pipeline fed from the
        rolled-WAL region store, with the last two WAL rolls appearing
        only after the stream started — final materialized state must
        equal a one-shot batch cdc_apply of the whole change stream."""
        import time

        from pyspark.sql import Row

        from spark_binlog_spark.operators import cdc_apply
        from spark_binlog_spark.sources.binlog_fixture import write_region_wal_segments
        from spark_binlog_spark.streaming.pipeline import (
            ParquetUpsertSink,
            parse_stream,
            read_stream,
        )

        rows = [
            (i, T0 + i, i % 6, ["signup", "click", "view", "purchase", "error"][i % 5],
             float(i), "{}")
            for i in range(40)
        ]
        flat = str(tmp_path / "ev.parquet")
        _write_events(flat, rows)
        store = str(tmp_path / "wals")
        write_region_wal_segments(flat, store, n_regions=4, n_segments=3, only=[1])
        base = spark.createDataFrame(
            [Row(c_custkey=k, c_name=f"n{k}", c_acctbal=float(k)) for k in range(6)]
        )

        sink = ParquetUpsertSink(
            spark, str(tmp_path / "state"), base, "c_custkey", {"c_acctbal": "value"}
        )
        wire = read_stream(spark, store, regions=4)
        q = (
            parse_stream(wire)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )

        def wait_applied(target, timeout_s=120.0):
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                if q.exception() is not None:
                    raise AssertionError(f"stream died: {q.exception()}")
                if sink.applied_rows >= target:
                    return True
                time.sleep(0.2)
            return False

        # first WAL files (events 0..13) drain through the live query...
        assert wait_applied(14), f"first roll stalled at {sink.applied_rows}"
        # ...then every region rolls twice under the running stream
        write_region_wal_segments(flat, store, n_regions=4, n_segments=3, only=[2, 3])
        assert wait_applied(40), f"rolled tail stalled at {sink.applied_rows}/40"
        q.stop()
        q.awaitTermination()

        # batch replay of the identical change stream (flat store) for
        # the expected state — region fan-out must not change semantics
        batch_changes = parse_stream(
            spark.read.format("binlog_fixture").option("path", flat).load()
        )
        expected = cdc_apply(
            base, batch_changes, key_col="c_custkey", set_cols={"c_acctbal": "value"}
        )
        got = {(r["c_custkey"], r["c_acctbal"]) for r in sink.current().collect()}
        want = {(r["c_custkey"], r["c_acctbal"]) for r in expected.collect()}
        assert got == want

    def test_footer_probe_memoized_on_immutable_files(self, tmp_path, monkeypatch):
        """Per-trigger re-probes must NOT re-open footers of unchanged
        (immutable, already-rolled) files: after the first index build,
        another latestOffset costs zero ParquetFile opens; a NEW rolled
        file costs exactly the new files' opens."""
        import pyarrow.parquet as pq

        from spark_binlog_spark.sources import binlog_fixture as bf

        flat, store, eps = self._store(tmp_path, only=[1, 2])
        rdr = bf.BinlogFixtureStreamReader({"path": store, "regions": "4"})

        opens = []
        real = pq.ParquetFile

        def counting(path, *a, **kw):
            opens.append(str(path))
            return real(path, *a, **kw)

        monkeypatch.setattr(pq, "ParquetFile", counting)
        rdr.latestOffset()
        first = len(opens)
        assert first == 8  # 4 regions × 2 files, cold
        rdr.latestOffset()
        assert len(opens) == first  # warm re-probe: zero footer opens
        # a roll appears: only the 4 new files are opened
        bf.write_region_wal_segments(flat, store, n_regions=4, n_segments=3, only=[3])
        rdr.latestOffset()
        assert len(opens) == first + 4

    def test_rolled_region_checkpoint_restart_across_roll(self, spark, tmp_path):
        """Stop a rolled-region stream mid-store, roll new WAL files in,
        restart from the checkpoint — the union of both runs must be
        exactly-once across the region-map offsets."""
        from spark_binlog_spark.sources.binlog_fixture import write_region_wal_segments
        from spark_binlog_spark.streaming.pipeline import read_stream

        flat, store, eps = self._store(tmp_path, only=[1])
        seen = []

        def record(bdf, bid):
            seen.extend(
                json.loads(r["value"])["rows"][0]["cdc_offset"] for r in bdf.collect()
            )

        ck = str(tmp_path / "ck")

        def run_once():
            q = (
                read_stream(spark, store, regions=4)
                .writeStream.foreachBatch(record)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_once()
        assert sorted(seen) == list(range(eps))  # first WAL files only
        # two rolls land while the stream is DOWN; restart resumes from
        # the committed region map and reads only the new files
        write_region_wal_segments(flat, store, n_regions=4, n_segments=3, only=[2, 3])
        run_once()
        assert sorted(seen) == list(range(30))  # exactly once, no re-delivery

    def test_rolled_store_composes_with_ingest_filters(self, spark, tmp_path):
        """Ingest-side filters (tableNamePattern, startTimeMs) must
        compose with the rolled-WAL layout: non-matching events never
        materialize, matching ones all arrive, offsets stay the
        region-map shape."""
        from spark_binlog_spark.streaming.pipeline import read_stream

        flat, store, eps = self._store(tmp_path)
        wire = read_stream(
            spark, store, regions=4,
            tableNamePattern="t_[12]",
            startTimeMs=(T0 + 5) // 1_000_000,
        )
        q = (
            wire.writeStream.format("memory")
            .queryName("rolled_filtered")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        envs = [json.loads(r["value"]) for r in spark.table("rolled_filtered").collect()]
        # fixture rows: event i -> uid i%5 -> table t_{uid%4}; ts = T0+i ns
        want = sorted(
            i for i in range(30)
            if (i % 5) % 4 in (1, 2) and (T0 + i) >= ((T0 + 5) // 1_000_000) * 1_000_000
        )
        assert sorted(e["rows"][0]["cdc_offset"] for e in envs) == want
        assert all(e["tableName"] in ("t_1", "t_2") for e in envs)

    def test_capped_region_offsets_advance_by_allowance(self, tmp_path):
        """B2 in region mode (unit probe): with maxEventsPerTrigger=8,
        each region's map offset advances at most 8 event-IDs per
        planning round (ids are shared across regions, so an id-span of
        the full cap per region admits ~cap events per trigger in
        total), and the per-round partition spans reassemble every
        region's event set exactly once."""
        from spark_binlog_spark.sources.binlog_fixture import BinlogFixtureStreamReader

        flat, store, eps = self._store(tmp_path)
        rdr = BinlogFixtureStreamReader(
            {"path": store, "regions": "4", "maxEventsPerTrigger": "8"}
        )
        cur = rdr.initialOffset()
        delivered = {r: [] for r in range(4)}
        for _ in range(40):
            nxt = rdr.latestOffset()
            for k in nxt:
                assert nxt[k] - cur.get(k, 0) <= 8, (cur, nxt)  # id-span cap
                assert nxt[k] >= cur.get(k, 0)  # monotone
            for p in rdr.partitions(cur, nxt):
                delivered[p.region].extend(
                    i for i in range(p.start, p.end) if (i % 5) % 4 == p.region
                )
            if nxt == cur:
                break
            cur = nxt
        for r in range(4):
            want = [i for i in range(30) if (i % 5) % 4 == r]
            assert sorted(delivered[r]) == want, f"region {r}"
            assert len(delivered[r]) == len(want)  # exactly once

    def test_capped_region_restart_with_floor_dir_never_redelivers(self, spark, tmp_path):
        """DOUBLE clean-stop restart of a CAPPED region stream
        mid-catch-up with floorDir: restarted fresh per-region cursors
        under-report, Spark plans regressed region batches, and the
        JSON per-region floor map persisted by commit() must survive
        both restarts and clamp every re-read — no committed event
        re-delivers, everything arrives exactly once."""
        import time

        from spark_binlog_spark.sources.binlog_fixture import write_region_wal_segments
        from spark_binlog_spark.streaming.pipeline import parse_stream, read_stream

        flat, store, eps = self._store(tmp_path, only=[1])
        floor_dir = str(tmp_path / "floor")

        def run(seen, target=None, n_triggers=None, timeout_s=120.0):
            wire = read_stream(
                spark, store, regions=4, maxEventsPerTrigger=8, floorDir=floor_dir
            )
            triggers = []

            def sink(bdf, bid):
                triggers.append(bid)
                seen.extend(r["cdc_offset"] for r in bdf.select("cdc_offset").collect())

            q = (
                parse_stream(wire)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", str(tmp_path / "ck"))
                .trigger(processingTime="200 milliseconds")
                .start()
            )
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                if q.exception() is not None:
                    raise AssertionError(f"stream died: {q.exception()}")
                if target is not None and len(seen) >= target:
                    break
                if n_triggers is not None and len(triggers) >= n_triggers:
                    break
                time.sleep(0.1)
            if n_triggers is None:
                q.processAllAvailable()  # drain AND commit for a clean stop
            q.stop()
            q.awaitTermination()

        phase1 = []
        run(phase1, target=eps)
        assert sorted(set(phase1)) == list(range(eps))

        # every region rolls twice while the stream is DOWN
        write_region_wal_segments(flat, store, n_regions=4, n_segments=3, only=[2, 3])
        # restart #1, stopped almost immediately (mid-catch-up — the
        # window where fresh capped cursors sit below the committed map)
        phase2 = []
        run(phase2, n_triggers=1, timeout_s=30.0)
        # restart #2 — the window the persisted floor map must cover
        phase3 = []
        run(phase3, target=30 - len(set(phase1) | set(phase2)))

        all_seen = phase1 + phase2 + phase3
        assert set(all_seen) == set(range(30))
        assert len(all_seen) == len(set(all_seen)), (
            f"re-delivered {len(all_seen) - len(set(all_seen))} committed events"
        )

class TestCorpusStatsSink:
    def _docs(self, spark, rows):
        from pyspark.sql import Row

        return spark.createDataFrame(
            [Row(doc_id=i, text=t, source=s) for i, (t, s) in enumerate(rows)]
        )

    def test_replayed_batch_never_double_counts(self, spark, tmp_path):
        """foreachBatch replay (same batch_id) must be a no-op: the
        additive merge is guarded by the batch-id ratchet."""
        from spark_binlog_spark.streaming.corpus_stats import CorpusStatsSink

        sink = CorpusStatsSink(spark, str(tmp_path / "stats"), resume=False)
        b0 = self._docs(spark, [("a b c", "s0"), ("d e", "s1")])
        sink(b0, 0)
        sink(b0, 0)  # replay after a crash between swap and commit
        got = {r["source"]: (r["n_docs"], r["n_tokens"]) for r in sink.current().collect()}
        assert got == {"s0": (1, 3), "s1": (1, 2)}
        # a LATER batch still applies and merges
        sink(self._docs(spark, [("x y z w", "s0")]), 1)
        got = {r["source"]: (r["n_docs"], r["n_tokens"]) for r in sink.current().collect()}
        assert got == {"s0": (2, 7), "s1": (1, 2)}
        # mixture derives the flattening rate from the live stats
        mix = {r["source"]: r["sample_rate4"] for r in sink.mixture().collect()}
        assert mix == {"s0": 2 * 10000 // 7, "s1": 10000}

    def test_null_key_merges_into_one_row(self, spark, tmp_path):
        """A NULL ``source`` in two batches is one group, as in a batch
        ``groupBy``: the store keeps one row per (source, len_bin), the
        NULL key included."""
        from spark_binlog_spark.streaming.corpus_stats import CorpusStatsSink

        sink = CorpusStatsSink(spark, str(tmp_path / "stats"), resume=False)
        schema = "doc_id long, text string, source string"
        sink(spark.createDataFrame([(0, "a b", None), (1, "c d", "s0")], schema), 0)
        sink(spark.createDataFrame([(2, "e f", None)], schema), 1)
        rows = sorted(
            (r["source"] or "", r["len_bin"], r["n_docs"], r["n_tokens"])
            for r in sink._stats().collect()
        )
        assert rows == [("", 1, 2, 4), ("s0", 1, 1, 2)]

    def test_drift_matches_reference_and_survives_replay(self, spark, tmp_path):
        """drift() = exact integer L1 distance between the last batch's
        length-bin distribution and the prior corpus's; a replayed
        batch changes nothing; a source with no prior corpus scores the
        maximal 20000."""
        from spark_binlog_spark.streaming.corpus_stats import CorpusStatsSink

        sink = CorpusStatsSink(spark, str(tmp_path / "stats"), resume=False)
        # batch 0: s0 has two 1-token docs (bin 0) and one 2-token (bin 1)
        sink(self._docs(spark, [("a", "s0"), ("b", "s0"), ("c d", "s0")]), 0)
        # batch 1: s0 ships one bin-0 and three bin-1 docs; s1 is new
        sink(
            self._docs(
                spark,
                [("x", "s0"), ("p q", "s0"), ("r s", "s0"), ("t u", "s0"), ("n", "s1")],
            ),
            1,
        )
        got = {r["source"]: r for r in sink.drift().collect()}
        # s0: prev = {bin0: 2, bin1: 1} (P=3), last = {bin0: 1, bin1: 3} (L=4)
        # numer = |2*4 - 1*3| + |1*4 - 3*3| = 5 + 5 = 10
        # drift4 = 10 * 10000 // 12 = 8333
        assert got["s0"]["prev_docs"] == 3 and got["s0"]["last_docs"] == 4
        assert got["s0"]["drift4"] == 10 * 10000 // 12
        assert got["s1"]["prev_docs"] == 0 and got["s1"]["drift4"] == 20000
        # replaying batch 1 is a complete no-op (totals AND delta)
        sink(
            self._docs(
                spark,
                [("x", "s0"), ("p q", "s0"), ("r s", "s0"), ("t u", "s0"), ("n", "s1")],
            ),
            1,
        )
        again = {r["source"]: r for r in sink.drift().collect()}
        assert {k: (v["prev_docs"], v["last_docs"], v["drift4"]) for k, v in got.items()} == {
            k: (v["prev_docs"], v["last_docs"], v["drift4"]) for k, v in again.items()
        }

    def test_crash_between_delta_and_totals_swaps_converges(self, spark, tmp_path, monkeypatch):
        """The delta store publishes BEFORE the totals store; a crash
        between the two swaps leaves a fresh delta with stale totals.
        Replay must re-apply the batch (totals ratchet is still behind)
        and converge both stores to the no-crash state."""
        from spark_binlog_spark.streaming import corpus_stats as cs
        from spark_binlog_spark.streaming import store

        sink = cs.CorpusStatsSink(spark, str(tmp_path / "stats"), resume=False)
        sink(self._docs(spark, [("a", "s0"), ("b c", "s0")]), 0)

        real_swap = store.safe_swap
        calls = {"n": 0}

        def crashing_swap(dst, tmp):
            calls["n"] += 1
            if calls["n"] == 2:  # the totals swap of this batch
                raise RuntimeError("simulated crash between swaps")
            return real_swap(dst, tmp)

        monkeypatch.setattr(store, "safe_swap", crashing_swap)
        b1 = self._docs(spark, [("x y z", "s0"), ("w", "s1")])
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="simulated crash"):
            sink(b1, 1)
        monkeypatch.setattr(store, "safe_swap", real_swap)
        # foreachBatch replays batch 1 after the crash (checkpoint never
        # committed); the ratchet sees totals still at batch 0
        sink(b1, 1)
        got = {r["source"]: (r["n_docs"], r["n_tokens"]) for r in sink.current().collect()}
        assert got == {"s0": (3, 6), "s1": (1, 1)}
        drift = {r["source"]: r["drift4"] for r in sink.drift().collect()}
        # s0 prev {bin0:1, bin1:1} P=2; last {bin1:1} L=1
        # numer = |1*1 - 0*2| + |1*1 - 1*2| = 1 + 1 = 2 -> 2*10000//2 = 10000
        assert drift == {"s0": 10000, "s1": 20000}

    def test_restart_resumes_and_matches_batch_totals(self, spark, tmp_path):
        """availableNow run, then new files land, then a second run on
        the same checkpoint: only the new files apply, and the final
        stats equal a one-shot batch aggregation."""
        import pyarrow as pa
        import pyarrow.parquet as pq_

        from spark_binlog_spark.streaming.corpus_stats import CorpusStatsSink
        from spark_binlog_spark.streaming.runner import run_files

        docs_dir = tmp_path / "docs"
        docs_dir.mkdir()

        def write_batch(name, rows):
            tbl = pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                    "source": pa.array([r[2] for r in rows], pa.string()),
                }
            )
            pq_.write_table(tbl, str(docs_dir / name))

        write_batch("b0.parquet", [(0, "a b", "s0"), (1, "c", "s1")])
        schema = spark.read.parquet(str(docs_dir)).schema
        args = (spark, str(docs_dir), schema, str(tmp_path / "ck"))
        sink = run_files(*args, CorpusStatsSink(spark, str(tmp_path / "stats")))
        got = {r["source"]: r["n_tokens"] for r in sink.current().collect()}
        assert got == {"s0": 2, "s1": 1}

        write_batch("b1.parquet", [(2, "d e f", "s0"), (3, "g h", "s2")])
        # restart on the same checkpoint
        sink = run_files(*args, CorpusStatsSink(spark, str(tmp_path / "stats")))
        got = {r["source"]: (r["n_docs"], r["n_tokens"]) for r in sink.current().collect()}
        assert got == {"s0": (2, 5), "s1": (1, 1), "s2": (1, 2)}

def _jdbc_cdc_fixture(tmp_path):
    """Shared 40-event CDC fixture for the JDBC sink tests + its
    expected final latest state (per-key last event wins; op='delete'
    removes the key) — one definition so both tests assert the same
    contract."""
    rows = [
        (i, T0 + i, i % 6, ["signup", "click", "view", "purchase", "error"][i % 5],
         float(i), "{}")
        for i in range(40)
    ]
    flat = str(tmp_path / "ev.parquet")
    _write_events(flat, rows)
    latest = {}
    for i in range(40):
        uid = i % 6
        op = {"signup": "insert", "error": "delete"}.get(
            ["signup", "click", "view", "purchase", "error"][i % 5], "update"
        )
        latest[uid] = (op, float(i))
    want = {(k, v) for k, (op, v) in latest.items() if op != "delete"}
    return flat, want


class TestJdbcUpsertSink:
    def test_stream_merges_into_live_derby_and_replay_is_idempotent(self, spark, tmp_path):
        """S5 JDBC sink: a CDC stream MERGEs into a LIVE embedded-Derby
        table (set-based two-phase: distributed staging append + one
        database MERGE); final table equals the batch cdc_apply-style
        latest state, and replaying a batch changes nothing."""
        from spark_binlog_spark.streaming.jdbc_sink import JdbcUpsertSink
        from spark_binlog_spark.streaming.pipeline import parse_stream, read_stream

        flat, want = _jdbc_cdc_fixture(tmp_path)
        url = f"jdbc:derby:{tmp_path}/derby_db;create=true"

        sink = JdbcUpsertSink(
            spark, url, "applied", key_col="pk", val_cols={"val": "value"}
        )
        wire = read_stream(spark, flat, numPartitions=2, maxEventsPerTrigger=15)
        q = (
            parse_stream(wire)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        import time

        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and sum(n for _, n in sink.applied_batches) == 0:
            if q.exception() is not None:
                raise AssertionError(f"stream died: {q.exception()}")
            time.sleep(0.2)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

        got = {(r["PK"], r["VAL"]) for r in sink.current().collect()}
        assert got == want

        # replaying the final micro-batch's rows must change nothing
        from pyspark.sql import functions as F

        last_batch = parse_stream(
            spark.read.format("binlog_fixture").option("path", flat).load()
        ).filter(F.col("cdc_offset") >= 30)
        sink(last_batch, 999)
        got2 = {(r["PK"], r["VAL"]) for r in sink.current().collect()}
        assert got2 == want

    def test_kill_after_merge_and_resume_effectively_once(self, spark, tmp_path):
        """Worst-case crash point for the JDBC sink: die AFTER the
        database MERGE but BEFORE the batch commit — the uncommitted
        batch is redelivered on resume and the set-based re-MERGE must
        absorb it (effectively-once), final table == expected latest
        state."""
        import time

        from spark_binlog_spark.streaming.jdbc_sink import JdbcUpsertSink
        from spark_binlog_spark.streaming.pipeline import parse_stream, read_stream

        flat, want = _jdbc_cdc_fixture(tmp_path)
        url = f"jdbc:derby:{tmp_path}/derby_db;create=true"
        ckpt = str(tmp_path / "ck")

        sink1 = JdbcUpsertSink(spark, url, "applied", key_col="pk", val_cols={"val": "value"})

        def crashing(batch_df, batch_id):
            sink1(batch_df, batch_id)  # MERGE committed in the database...
            if sum(n for _, n in sink1.applied_batches) >= 6:
                raise RuntimeError("injected crash after MERGE")  # ...batch commit never happens

        wire = read_stream(spark, flat, numPartitions=2, maxEventsPerTrigger=10)
        q1 = (
            parse_stream(wire).writeStream.foreachBatch(crashing)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and q1.exception() is None:
            time.sleep(0.2)
        assert q1.exception() is not None  # the crash fired
        try:
            q1.awaitTermination()
        except Exception:
            pass

        # phase 2: resume from the same checkpoint with a fresh sink —
        # the crashed batch replays (at-least-once) and re-merges
        sink2 = JdbcUpsertSink(spark, url, "applied", key_col="pk", val_cols={"val": "value"})
        wire2 = read_stream(spark, flat, numPartitions=2, maxEventsPerTrigger=10)
        q2 = (
            parse_stream(wire2).writeStream.foreachBatch(sink2)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and sum(n for _, n in sink2.applied_batches) == 0:
            if q2.exception() is not None:
                raise AssertionError(f"resume died: {q2.exception()}")
            time.sleep(0.2)
        q2.processAllAvailable()
        q2.stop()
        q2.awaitTermination()

        got = {(r["PK"], r["VAL"]) for r in sink2.current().collect()}
        assert got == want



class TestJdbcDialects:
    """The Derby MERGE path is live-tested above; MySQL and Postgres
    servers aren't installable in this container, so their dialects are
    checked at the SQL level — and the Postgres pair is additionally
    EXECUTED against DuckDB (whose SQL is Postgres-flavored and supports
    DELETE…USING and ON CONFLICT…EXCLUDED) as a live-engine semantics
    check of the two-statement upsert protocol."""

    ARGS = ("tgt", "tgt_staging", ["k"], ["a", "b"], "op")

    def test_derby_emits_single_merge(self):
        from spark_binlog_spark.streaming.jdbc_sink import DIALECTS

        (stmt,) = DIALECTS["derby"].upsert_statements(*self.ARGS)
        assert stmt.startswith("MERGE INTO tgt t USING tgt_staging s")
        assert "WHEN MATCHED AND s.op = 'delete' THEN DELETE" in stmt
        assert "UPDATE SET a = s.a, b = s.b" in stmt
        assert "INSERT (k, a, b) VALUES (s.k, s.a, s.b)" in stmt

    def test_composite_key_upsert_live_on_derby(self, spark, tmp_path):
        """idCols="a,b" form against the LIVE embedded database: two
        rows sharing k1 but differing k2 are distinct keys; an update
        re-merges, a delete removes exactly its composite key."""
        from spark_binlog_spark.streaming.jdbc_sink import JdbcUpsertSink

        url = f"jdbc:derby:{tmp_path}/derby_ck;create=true"
        sink = JdbcUpsertSink(
            spark, url, "ck_tbl", key_col="k1,k2", val_cols={"v": "v"}
        )
        schema = "k1 long, k2 long, v long, op string, cdc_offset long"
        sink(
            spark.createDataFrame(
                [(1, 1, 10, "insert", 1), (1, 2, 20, "insert", 2)], schema
            ),
            0,
        )
        sink(
            spark.createDataFrame(
                [(1, 1, 11, "update", 3), (1, 2, 0, "delete", 4),
                 (2, 1, 30, "insert", 5)],
                schema,
            ),
            1,
        )
        got = {(r["K1"], r["K2"], r["V"]) for r in sink.current().collect()}
        assert got == {(1, 1, 11), (2, 1, 30)}

    def test_composite_keys_conjoin_in_every_dialect(self):
        from spark_binlog_spark.streaming.jdbc_sink import DIALECTS

        args = ("tgt", "tgt_staging", ["k1", "k2"], ["a"], "op")
        (merge,) = DIALECTS["derby"].upsert_statements(*args)
        assert "ON t.k1 = s.k1 AND t.k2 = s.k2" in merge
        assert "INSERT (k1, k2, a) VALUES (s.k1, s.k2, s.a)" in merge
        delete, _update, insert = DIALECTS["mysql"].upsert_statements(*args)
        assert "tgt.k1 = s.k1 AND tgt.k2 = s.k2" in delete
        assert "INSERT INTO tgt (k1, k2, a)" in insert
        assert "t.k1 = s.k1 AND t.k2 = s.k2" in insert
        delete, upsert = DIALECTS["postgres"].upsert_statements(*args)
        assert "tgt.k1 = s.k1 AND tgt.k2 = s.k2" in delete
        assert "ON CONFLICT (k1, k2) DO UPDATE" in upsert

    def test_mysql_emits_portable_delete_update_insert(self):
        from spark_binlog_spark.streaming.jdbc_sink import DIALECTS

        delete, update, insert = DIALECTS["mysql"].upsert_statements(*self.ARGS)
        # WHERE EXISTS delete (MySQL-8-legal AND DuckDB-parseable —
        # VERDICT r5 ask #5), correlated-subquery update, NOT EXISTS
        # insert; none reads its own target in a FROM clause (MySQL 1093)
        assert delete == (
            "DELETE FROM tgt WHERE EXISTS ("
            "SELECT 1 FROM tgt_staging s WHERE tgt.k = s.k AND s.op = 'delete')"
        )
        assert update.startswith("UPDATE tgt SET a = (SELECT s.a FROM tgt_staging s")
        assert "WHERE EXISTS (" in update
        assert insert.startswith("INSERT INTO tgt (k, a, b) ")
        assert "NOT EXISTS (SELECT 1 FROM tgt t WHERE t.k = s.k)" in insert

    def test_dialect_ddl_type_overrides(self):
        from spark_binlog_spark.streaming.jdbc_sink import DIALECTS

        assert DIALECTS["mysql"].ddl_type("timestamp") == "DATETIME"
        assert DIALECTS["postgres"].ddl_type("string") == "TEXT"
        assert DIALECTS["postgres"].ddl_type("double") == "DOUBLE PRECISION"
        assert DIALECTS["derby"].ddl_type("string") == "VARCHAR(255)"
        import pytest as _pytest

        with _pytest.raises(ValueError, match="mysql DDL mapping"):
            DIALECTS["mysql"].ddl_type("array<int>")

    @staticmethod
    def _run_dialect_on_duckdb(dialect_name: str, args):
        """EXECUTE a dialect's full statement sequence against DuckDB
        (live-engine semantics, not string checks): update key 1,
        delete key 2, insert key 3, delete of absent key 4 matches
        nothing; then replay the identical statements and require
        idempotence (effectively-once)."""
        import duckdb

        from spark_binlog_spark.streaming.jdbc_sink import DIALECTS

        con = duckdb.connect()
        con.sql("CREATE TABLE tgt (k BIGINT PRIMARY KEY, a BIGINT, b TEXT)")
        con.sql(
            "CREATE TABLE tgt_staging (k BIGINT, a BIGINT, b TEXT, "
            "op VARCHAR(16), PRIMARY KEY (k))"
        )
        con.sql("INSERT INTO tgt VALUES (1, 10, 'old'), (2, 20, 'gone')")
        con.sql(
            "INSERT INTO tgt_staging VALUES "
            "(1, 11, 'new', 'update'), (2, NULL, NULL, 'delete'), "
            "(3, 30, 'ins', 'insert'), (4, NULL, NULL, 'delete')"
        )
        stmts = DIALECTS[dialect_name].upsert_statements(*args)
        for s in stmts:
            con.sql(s)
        expect = {(1, 11, "new"), (3, 30, "ins")}
        assert set(map(tuple, con.sql("SELECT * FROM tgt").fetchall())) == expect
        # replay the identical statements: idempotent (effectively-once)
        for s in stmts:
            con.sql(s)
        assert set(map(tuple, con.sql("SELECT * FROM tgt").fetchall())) == expect

    def test_postgres_statements_execute_and_upsert_on_duckdb(self):
        self._run_dialect_on_duckdb("postgres", self.ARGS)

    def test_mysql_statements_execute_and_upsert_on_duckdb(self):
        """With the portable rewrite (VERDICT r5 ask #5) the MySQL
        sequence executes on a live engine too — all three dialects'
        statements now run for real (Derby live above, these two on
        DuckDB), none is string-checked only."""
        self._run_dialect_on_duckdb("mysql", self.ARGS)


class TestLayoutDetection:
    def test_mixed_and_plain_layouts_detected_correctly(self, tmp_path):
        """is_segmented / is_region_rolled contracts: a flat file is
        neither; a mysql-bin.%06d dir is segmented only; a full rolled
        region store is region-rolled only; a MIXED store (one region
        dir unsegmented) is NOT region-rolled (falls back to the flat
        hive-pruned region scan rather than half-applying roll
        semantics)."""
        import pyarrow as pa
        import pyarrow.parquet as pq_

        from spark_binlog_spark.sources.binlog_fixture import (
            is_region_rolled,
            is_segmented,
            write_region_wal_segments,
            write_segments,
        )

        rows = [(i, T0 + i, i % 5, "click", float(i), "{}") for i in range(20)]
        flat = str(tmp_path / "ev.parquet")
        _write_events(flat, rows)
        assert not is_segmented(flat) and not is_region_rolled(flat)

        seg = str(tmp_path / "binlog")
        write_segments(flat, seg, n_segments=2)
        assert is_segmented(seg) and not is_region_rolled(seg)

        rolled = str(tmp_path / "wals")
        write_region_wal_segments(flat, rolled, n_regions=2, n_segments=2)
        assert is_region_rolled(rolled) and not is_segmented(rolled)

        # mixed: overwrite region=1 with ONE unsegmented file
        import shutil

        shutil.rmtree(f"{rolled}/region=1")
        import os

        os.makedirs(f"{rolled}/region=1")
        pq_.write_table(
            pa.table({"event_id": pa.array([0], pa.int64())}),
            f"{rolled}/region=1/part-0.parquet",
        )
        assert not is_region_rolled(rolled)


class TestDsirModelSink:
    def _docs(self, spark, rows, start_id=0):
        from pyspark.sql import Row

        return spark.createDataFrame(
            [Row(doc_id=start_id + i, text=t, lang=lg) for i, (t, lg) in enumerate(rows)]
        )

    def test_incremental_model_matches_batch_and_survives_replay(
        self, spark, tmp_path
    ):
        """Two batches through the sink build the SAME distributions as
        the one-shot batch estimate (scores bit-identical), a replayed
        batch never double-counts, and the store never exceeds
        n_buckets rows."""
        from spark_binlog_spark.functions.text import dsir_importance
        from spark_binlog_spark.streaming.dsir_sink import DsirModelSink

        rows0 = [("the cat sat on the mat", "en"), ("der hund lief schnell", "de")]
        rows1 = [("the dog ran to the mat", "en"), ("die katze sass still", "de"),
                 ("the the the cat cat", "xx")]
        sink = DsirModelSink(spark, str(tmp_path / "stats"), resume=False)
        b0 = self._docs(spark, rows0)
        sink(b0, 0)
        sink(b0, 0)  # replay after a crash between swap and commit
        sink(self._docs(spark, rows1, start_id=10), 1)

        full = self._docs(spark, rows0).unionByName(
            self._docs(spark, rows1, start_id=10)
        )
        want = {r["doc_id"]: r for r in dsir_importance(full).collect()}
        got = {r["doc_id"]: r for r in sink.score(full).collect()}
        assert set(got) == set(want)
        for k in want:
            assert got[k] == want[k], k
        assert sink.distributions().count() <= 4096

    def test_crash_before_swap_resumes_clean(self, spark, tmp_path):
        """A tmp directory left by a crash mid-write is ignored on
        resume (recover_dir) and the interrupted batch re-applies."""
        import os

        from spark_binlog_spark.streaming.dsir_sink import DsirModelSink

        stats = str(tmp_path / "stats")
        sink = DsirModelSink(spark, stats, resume=False)
        sink(self._docs(spark, [("the cat", "en")]), 0)
        # simulate a crash AFTER writing the next batch's tmp dir but
        # BEFORE the swap: the tmp must not shadow the live store
        os.makedirs(stats + ".b1", exist_ok=True)
        with open(os.path.join(stats + ".b1", "junk"), "w") as f:
            f.write("partial")
        sink2 = DsirModelSink(spark, stats)  # resume
        assert sink2._last_batch_id() == 0
        sink2(self._docs(spark, [("the dog", "en")], start_id=5), 1)
        assert sink2._last_batch_id() == 1


class TestLmModelSink:
    def _docs(self, spark, rows, start_id=0):
        from pyspark.sql import Row

        return spark.createDataFrame(
            [Row(doc_id=start_id + i, text=t, lang=lg) for i, (t, lg) in enumerate(rows)]
        )

    def test_incremental_model_matches_batch_and_survives_replay(
        self, spark, tmp_path
    ):
        """Two batches through the sink build the SAME trigram model as
        the one-shot batch estimate (familiarity scores AND tercile
        buckets bit-identical), and a replayed batch never
        double-counts."""
        from spark_binlog_spark.functions.text import ccnet_buckets, lm_familiarity
        from spark_binlog_spark.streaming.lm_sink import LmModelSink

        rows0 = [("the cat sat on the mat", "en"), ("der hund lief schnell", "de")]
        rows1 = [("the dog sat on the rug", "en"), ("die katze sass still", "de"),
                 ("zzq xvk wqj pff", "en")]
        sink = LmModelSink(spark, str(tmp_path / "stats"), resume=False)
        b0 = self._docs(spark, rows0)
        sink(b0, 0)
        sink(b0, 0)  # replay after a crash between swap and commit
        sink(self._docs(spark, rows1, start_id=10), 1)

        full = self._docs(spark, rows0).unionByName(
            self._docs(spark, rows1, start_id=10)
        )
        want_fam = {r["doc_id"]: r for r in lm_familiarity(full).collect()}
        got_fam = {r["doc_id"]: r for r in sink.familiarity(full).collect()}
        assert got_fam == want_fam
        want_b = {r["doc_id"]: r for r in ccnet_buckets(full).collect()}
        got_b = {r["doc_id"]: r for r in sink.quality_buckets(full).collect()}
        assert got_b == want_b
        # the model is the merged trigram table, bounded and queryable
        assert sink.model().count() == sink.model().select("tri").distinct().count()


class TestMiniBatchKmeansSink:
    def test_sequential_batches_replay_guard_and_centroid_shape(
        self, spark, tmp_path
    ):
        """Two batches fold into the additive store exactly once under
        replay; the served centroids have k rows of dim-length vectors;
        counts equal the ingested vector count."""
        from pyspark.sql import Row

        from spark_binlog_spark.streaming.kmeans_sink import MiniBatchKmeansSink

        def vecs(ids):
            return spark.createDataFrame(
                [Row(vec_id=i, embedding=[float((i * 7 + d * 3) % 11) - 5.0
                                          for d in range(4)]) for i in ids]
            )

        sink = MiniBatchKmeansSink(spark, str(tmp_path / "stats"), n_clusters=2)
        b0 = vecs([0, 2, 4, 6])
        sink(b0, 0)
        sink(b0, 0)  # replay after a crash between swap and commit
        mid = {(r["centroid_id"], r["dim"]): r for r in sink.model().collect()}
        assert sum(v["n_members"] for (c, d), v in mid.items() if d == 0) == 4
        sink(vecs([1, 3, 5]), 1)
        rows = sink.model().collect()
        # counts now cover all 7 vectors, once each
        assert sum(r["n_members"] for r in rows if r["dim"] == 0) == 7
        cents = {r["centroid_id"]: r["cq"] for r in sink.centroids().collect()}
        assert set(cents) <= {0, 2} and all(len(v) == 4 for v in cents.values())
        # deterministic: a fresh sink fed the same sequence agrees
        sink2 = MiniBatchKmeansSink(spark, str(tmp_path / "stats2"), n_clusters=2)
        sink2(vecs([0, 2, 4, 6]), 0)
        sink2(vecs([1, 3, 5]), 1)
        assert {tuple(sorted(r.asDict().items())) for r in rows} == {
            tuple(sorted(r.asDict().items())) for r in sink2.model().collect()
        }

    def test_empty_first_batch_does_not_shift_seeding(self, spark, tmp_path):
        """An EMPTY batch 0 (e.g. an empty input file) is skipped
        explicitly (ADVICE r8): seeding deterministically lands on the
        first NON-EMPTY batch, so the model equals a run where the same
        data arrived as batch 0 — batch numbering does not change the
        served centroids."""
        from pyspark.sql import Row

        from spark_binlog_spark.streaming.kmeans_sink import MiniBatchKmeansSink

        def vecs(ids):
            return spark.createDataFrame(
                [Row(vec_id=i, embedding=[float((i * 7 + d * 3) % 11) - 5.0
                                          for d in range(4)]) for i in ids]
            )

        empty = vecs([1]).limit(0)
        a = MiniBatchKmeansSink(spark, str(tmp_path / "a"), n_clusters=2)
        a(empty, 0)           # skipped — store stays empty, no ratchet
        a(vecs([0, 2, 4]), 1)  # seeds here
        a(vecs([1, 3]), 2)

        b = MiniBatchKmeansSink(spark, str(tmp_path / "b"), n_clusters=2)
        b(vecs([0, 2, 4]), 0)  # same data, no empty prefix
        b(vecs([1, 3]), 1)

        def snap(s):
            return {
                tuple(sorted((k, v) for k, v in r.asDict().items()
                             if k != "batch_id"))
                for r in s._stats().collect()
            }

        assert snap(a) == snap(b)


class TestSketchSinks:
    def test_cms_sink_replay_guard_and_batch_equality(self, spark, tmp_path):
        """Two batches fold into the grid exactly once under replay,
        and the streamed grid equals the one-shot batch cms_build over
        the full corpus (the additive-monoid contract)."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import sketch
        from spark_binlog_spark.streaming.sketch_sink import CmsSketchSink

        def docs(ids):
            return spark.createDataFrame(
                [Row(doc_id=i, text=f"t{i % 3} t{i % 5} common") for i in ids]
            )

        sink = CmsSketchSink(spark, str(tmp_path / "cms"))
        b0 = docs(range(0, 6))
        sink(b0, 0)
        sink(b0, 0)  # replay after a crash between swap and commit
        sink(docs(range(6, 10)), 1)

        want = sorted(map(tuple, sketch.cms_build(docs(range(10))).collect()))
        got = sorted(map(tuple, sink.grid().collect()))
        assert got == want

    def test_hist_sink_replay_guard_and_batch_equality(self, spark, tmp_path):
        """The streamed log-bin histogram equals the one-shot batch
        hist_build over the full corpus under replay, and the served
        quantiles match the batch quantiles off the same state."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import sketch
        from spark_binlog_spark.streaming.sketch_sink import HistSketchSink

        def docs(ids):
            return spark.createDataFrame(
                [Row(doc_id=i, source=f"s{i % 2}",
                     text=" ".join(["w"] * (i * 7 + 1))) for i in ids]
            )

        sink = HistSketchSink(spark, str(tmp_path / "hist"))
        b0 = docs(range(0, 12))
        sink(b0, 0)
        sink(b0, 0)  # replay after a crash between swap and commit
        sink(docs(range(12, 20)), 1)

        want = sorted(map(tuple, sketch.hist_build(docs(range(20))).collect()))
        got = sorted(map(tuple, sink.histogram().collect()))
        assert got == want
        want_q = sorted(map(tuple, sketch.hist_quantiles(
            sketch.hist_build(docs(range(20)))).collect()))
        got_q = sorted(map(tuple, sink.quantiles().collect()))
        assert got_q == want_q

    def test_kmv_sink_replay_and_batch_equality(self, spark, tmp_path):
        """The streamed bottom-k store equals the one-shot batch
        kmv_sketch over the full corpus under replay (union-retake
        monoid + the ratchet), and the served Jaccard matches the
        batch Jaccard off the same state."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import sketch
        from spark_binlog_spark.streaming.sketch_sink import KmvSketchSink

        def docs(ids):
            return spark.createDataFrame(
                [Row(doc_id=i, source=f"s{i % 2}",
                     text=" ".join(f"w{(i * 13 + j) % 40}" for j in range(8)))
                 for i in ids]
            )

        sink = KmvSketchSink(spark, str(tmp_path / "kmv"))
        b0 = docs(range(0, 10))
        sink(b0, 0)
        sink(b0, 0)  # replay after a crash between swap and commit
        sink(docs(range(10, 16)), 1)

        want = sorted(map(tuple, sketch.kmv_sketch(docs(range(16))).collect()))
        got = sorted(map(tuple, sink.sketch().collect()))
        assert got == want
        want_j = sorted(map(tuple, sketch.kmv_jaccard(
            sketch.kmv_sketch(docs(range(16)))).collect()))
        got_j = sorted(map(tuple, sink.jaccard().collect()))
        assert got_j == want_j

    def test_word_freq_sink_replay_and_learn_equality(self, spark, tmp_path):
        """The streamed word-frequency store equals the one-shot batch
        word counts under replay, and BPE training off the live store
        produces the identical merge table."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import bpe
        from spark_binlog_spark.streaming.vocab_sink import WordFreqSink

        def docs(ids):
            return spark.createDataFrame(
                [Row(doc_id=i, text=f"aa bb aa cc{i % 3} Xskip9 dd")
                 for i in ids]
            )

        sink = WordFreqSink(spark, str(tmp_path / "wf"))
        b0 = docs(range(0, 6))
        sink(b0, 0)
        sink(b0, 0)  # replay after a crash between swap and commit
        sink(docs(range(6, 10)), 1)

        want_wc = sorted(map(tuple, bpe.bpe_vocab(docs(range(10)))
                             .select("word", "cnt").collect()))
        got_wc = sorted(map(tuple, sink.word_counts().collect()))
        assert got_wc == want_wc
        want = bpe.bpe_learn(spark, bpe.bpe_vocab(docs(range(10))), steps=3).collect()
        got = bpe.bpe_learn(spark, sink.vocab(), steps=3).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]

    def test_priority_sample_sink_replay_and_batch_equality(self, spark, tmp_path):
        """The streamed weighted sample equals the one-shot batch
        priority_sample over the full corpus under replay (bottom-k
        union-retake monoid + the ratchet)."""
        from pyspark.sql import Row
        from pyspark.sql import functions as F

        from spark_binlog_spark.functions import sketch
        from spark_binlog_spark.streaming.sketch_sink import PrioritySampleSink

        def docs(ids):
            return spark.createDataFrame(
                [Row(doc_id=i, source=f"s{i % 2}",
                     text=" ".join(["w"] * (i % 7 + 1))) for i in ids]
            )

        class Sink(PrioritySampleSink):
            k = 8

        sink = Sink(spark, str(tmp_path / "prio"))
        b0 = docs(range(0, 30))
        sink(b0, 0)
        sink(b0, 0)  # replay after a crash between swap and commit
        sink(docs(range(30, 50)), 1)

        want = sorted(map(tuple, sketch.priority_sample(
            docs(range(50)), weight=F.expr(sketch.token_count_expr()), k=8
        ).collect()))
        got = sorted(map(tuple, sink.sample().collect()))
        assert got == want

    def test_bloom_bits_sink_replay_and_batch_equality(self, spark, tmp_path):
        """The streamed set-bit store equals the one-shot batch
        bloom_bits under replay (union monoid + the ratchet), the
        ingest `where` routes only benchmark rows into the filter, and
        the served probe matches the batch bloom_decontaminate."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import dedup
        from spark_binlog_spark.streaming.sketch_sink import BloomBitsSink

        def docs(ids):
            return spark.createDataFrame(
                [Row(doc_id=i, text=" ".join(f"w{(i + j) % 9}" for j in range(6)))
                 for i in ids]
            )

        sink = BloomBitsSink(spark, str(tmp_path / "bloom"), where="doc_id % 2 = 0")
        b0 = docs(range(0, 8))
        sink(b0, 0)
        sink(b0, 0)  # replay after a crash between swap and commit
        sink(docs(range(8, 14)), 1)

        bench = docs(range(14)).where("doc_id % 2 = 0")
        want = sorted(r["bit"] for r in dedup.bloom_bits(bench).collect())
        got = sorted(r["bit"] for r in sink.bits().collect())
        assert got == want
        corpus = docs(range(14)).where("doc_id % 2 = 1")
        want_p = sorted(map(tuple, dedup.bloom_decontaminate(corpus, bench).collect()))
        got_p = sorted(map(tuple, sink.probe(corpus).collect()))
        assert got_p == want_p

    def test_hll_sink_replay_and_batch_equality(self, spark, tmp_path):
        """The streamed registers equal the one-shot batch
        hll_registers over the full corpus; a replayed batch changes
        nothing (max-merge idempotence + the ratchet)."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import sketch
        from spark_binlog_spark.streaming.sketch_sink import HllSketchSink

        def docs(ids):
            return spark.createDataFrame(
                [Row(doc_id=i, source=f"s{i % 2}", text=f"w{i} w{i + 1} shared")
                 for i in ids]
            )

        sink = HllSketchSink(spark, str(tmp_path / "hll"))
        sink(docs(range(0, 5)), 0)
        sink(docs(range(0, 5)), 0)  # replay
        sink(docs(range(5, 9)), 1)

        want = sorted(map(tuple, sketch.hll_registers(docs(range(9))).collect()))
        got = sorted(map(tuple, sink.registers().collect()))
        assert got == want
        # served estimate matches the batch estimate off the same state
        want_est = sorted(map(tuple, sketch.hll_estimate(
            sketch.hll_registers(docs(range(9)))).collect()))
        got_est = sorted(map(tuple, sink.distinct_counts().collect()))
        assert got_est == want_est
