"""The CDC workload, cdc_tail.

It runs the chain ``run_cdc_upsert`` builds, plus the bounded dedup
stage of the ROADMAP's flagship path, from public functions:

    read_stream -> parse_stream -> dedup_stream_bounded
                -> foreachBatch(ParquetUpsertSink)

then serve reads from ``sink.current()`` and check the final table
against a DuckDB one-shot reference.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

from perfbench import check, gen
from perfbench.common import (
    Tracer,
    closed_loop_reads,
    cpu_seconds,
    dir_bytes_files,
    median,
    nproc,
    percentile,
    start_spark,
    trace_overhead,
    weighted_percentile,
)

KEY = "c_custkey"
SET_COLS = {"c_acctbal": "value"}
TRIGGER_TAIL = "500 milliseconds"

# Why these sizes (4-core host, local[4]): a warm trigger costs 2.5-4 s
# whether it applies 1k or 3k events onto 20k-30k rows, nearly all of
# it fixed per trigger (state rewrite, dedup state commit, planning of a
# dozen small jobs); 150k rows with 6k-12k events cost 5.5-6.4 s on the
# same host.  A 30k-row table keeps the state rewrite in every trigger
# and leaves two or three triggers in an 8 s run, plus the one that
# drains.  Triggers run back to back and each takes everything
# published since the last, so at 1000 events/s (~3k events per
# trigger) the lag stays at about one trigger's worth of events instead
# of growing.  Flushes every 100 ms and a rotation every 4k events put
# two rotations inside an 8 s run.
# The cold batch costs 15-20 s whatever its size, so the warm-up
# publish is small.
TAIL = {"base_rows": 30_000, "rate": 1000, "warmup": 500, "flush_ms": 100,
        "rotate": 4000, "reads": 4}
SMOKE_TAIL = {"base_rows": 2000, "rate": 200, "warmup": 200, "flush_ms": 100,
              "rotate": 500, "reads": 2}


class BatchRecorder:
    """The foreachBatch function: calls the sink and records each
    batch's wall time and applied rows.  A traced batch is split into
    the upstream work (persist+count runs read, parse and dedup) and the
    sink call; in a traced run every batch records the state size after
    its swap, outside its timed interval."""

    def __init__(self, sink, tracer, state_dir: str):
        self.sink = sink
        self.tracer = tracer
        self.state_dir = state_dir
        self.batches: list[dict] = []

    def __call__(self, df, batch_id: int) -> None:
        before = self.sink.applied_rows
        cpu0 = cpu_seconds()
        t0 = time.monotonic()
        traced = self.tracer.traces(batch_id)
        if traced:
            with self.tracer.span("foreach_batch", batch=batch_id):
                with self.tracer.span("operators.upstream", batch=batch_id):
                    df = df.persist()
                    df.count()
                with self.tracer.span("streaming.upsert.apply", batch=batch_id):
                    self.sink(df, batch_id)
                df.unpersist()
        else:
            self.sink(df, batch_id)
        rec = {"batch": batch_id, "start": t0, "end": time.monotonic(),
               "cpu_s": cpu_seconds() - cpu0,
               "rows": self.sink.applied_rows - before, "traced": traced}
        if self.tracer.enabled and rec["rows"]:
            rec["state_bytes"], rec["state_files"] = dir_bytes_files(self.state_dir)
        self.batches.append(rec)

    def data_batches(self) -> list[dict]:
        """Batches that applied rows, each with its [lo, hi) range of
        global event ids: offsets are dense and nothing is dropped, so
        the sink's cumulative applied rows map events to batches."""
        out, cum = [], 0
        for b in self.batches:
            if b["rows"]:
                out.append(dict(b, lo=cum, hi=cum + b["rows"]))
                cum += b["rows"]
        return out


def progress_listener():
    """A StreamingQueryListener keeping every progress event in memory
    (``durationMs`` breakdown and state-operator sizes)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.events.append({
                "batch": p.batchId,
                "ms": dict(p.durationMs),
                "input_rows": p.numInputRows,
                "state": [{"rows": s.numRowsTotal, "mem": s.memoryUsedBytes,
                           "dropped": s.numRowsDroppedByWatermark}
                          for s in p.stateOperators],
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


def start_chain(spark, store: str, recorder, checkpoint: str, trigger: str | None, **options):
    from spark_binlog_spark.streaming.pipeline import (
        dedup_stream_bounded,
        parse_stream,
        read_stream,
    )

    changes = dedup_stream_bounded(parse_stream(read_stream(spark, store, **options)))
    writer = changes.writeStream.foreachBatch(recorder).option("checkpointLocation", checkpoint)
    if trigger:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()


def wait_until(pred, query, timeout_s: float, what: str) -> None:
    deadline = time.monotonic() + timeout_s
    while not pred():
        if query.exception() is not None:
            raise RuntimeError(f"stream failed while waiting for {what}: {query.exception()}")
        if time.monotonic() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.01)


def serve(sink, con, seed: int, n_reads: int, tracer) -> dict:
    """Closed-loop reads on the final table, alternating a 100-key point
    lookup and a group-by aggregate, each checked against the DuckDB
    reference.  Grouping is by key bucket, not by an unset column,
    because unset columns of re-inserted keys depend on batch
    boundaries."""
    from pyspark.sql import functions as F

    ref_bal = dict(con.execute("SELECT c_custkey, c_acctbal FROM ref").fetchall())
    ref_agg = {g: (n, s) for g, n, s in con.execute(
        "SELECT c_custkey % 16, count(*), sum(c_acctbal) FROM ref GROUP BY 1").fetchall()}
    key_space = max(ref_bal) + 1
    rng = np.random.default_rng([seed, 5])

    def point():
        keys = sorted(set(rng.integers(0, key_space, 100).tolist()))
        return keys, sink.current().filter(F.col(KEY).isin(keys)).select(KEY, "c_acctbal").collect()

    def point_ok(result):
        keys, rows = result
        got = {r[0]: r[1] for r in rows}
        want = {k: ref_bal[k] for k in keys if k in ref_bal}
        return got.keys() == want.keys() and all(abs(got[k] - want[k]) <= 1e-6 for k in want)

    def agg():
        return (sink.current().groupBy((F.col(KEY) % 16).alias("g"))
                .agg(F.count("*").alias("n"), F.sum("c_acctbal").alias("s")).collect())

    def agg_ok(rows):
        got = {r["g"]: (r["n"], r["s"]) for r in rows}
        return got.keys() == ref_agg.keys() and all(
            got[g][0] == n and abs(got[g][1] - s) <= 1e-6 * max(1.0, abs(s))
            for g, (n, s) in ref_agg.items())

    return closed_loop_reads({"point": (point, point_ok), "agg": (agg, agg_ok)},
                             n_reads, tracer, "streaming.upsert")


def _replay(spark, store: str, ranges: list[tuple[int, int]]) -> dict:
    """Post-run replay of recorded batch ranges through the batch
    reader into a noop sink, then through ``parse_stream`` into a noop
    sink: splits source read + wire encode from ``from_json`` parse."""
    from spark_binlog_spark.streaming.pipeline import parse_stream

    def wire(lo, hi):
        return (spark.read.format("binlog_fixture").option("path", store)
                .option("startingOffset", lo).option("endingOffset", hi)
                .option("numPartitions", nproc()).load())

    read_s = parse_s = 0.0
    for lo, hi in ranges:
        t0 = time.monotonic()
        wire(lo, hi).write.format("noop").mode("overwrite").save()
        t1 = time.monotonic()
        parse_stream(wire(lo, hi)).write.format("noop").mode("overwrite").save()
        read_s += t1 - t0
        parse_s += time.monotonic() - t1
    lo, hi = ranges[0]
    rows_per_event = parse_stream(wire(lo, hi)).count() / wire(lo, hi).count()
    events = sum(hi - lo for lo, hi in ranges)
    return {"read_s_per_mevent": read_s / events * 1e6,
            "parse_s_per_mevent": (parse_s - read_s) / events * 1e6,
            "rows_per_event": rows_per_event}


def _engine_layers(listener, tracer, timed: list[dict]) -> dict:
    """Per-trigger phases from Spark's progress, joined to our spans by
    batch id.  ``engine.span_gap_ms``: trigger time of a traced batch
    not covered by the engine's own phases plus the foreachBatch span."""
    ids = {b["batch"] for b in timed}
    prog = [e for e in listener.events if e["batch"] in ids]
    fb = {s["attrs"]["batch"]: (s["end"] - s["start"]) * 1000
          for s in tracer.spans if s["name"] == "foreach_batch" and s["end"] is not None}
    phases = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")

    def p50(key):
        return median([e["ms"].get(key, 0) for e in prog]) if prog else 0.0

    gaps = [e["ms"].get("triggerExecution", 0) - sum(e["ms"].get(k, 0) for k in phases)
            - fb[e["batch"]] for e in prog if e["batch"] in fb]
    states = [s for e in listener.events for s in e["state"][:1]]
    return {
        "engine.trigger_ms": p50("triggerExecution"),
        "engine.add_batch_ms": p50("addBatch"),
        "engine.planning_ms": p50("queryPlanning"),
        "engine.wal_commit_ms": p50("walCommit"),
        "engine.commit_offsets_ms": p50("commitOffsets"),
        "engine.span_gap_ms": median(gaps) if gaps else 0.0,
        "sources.latest_offset_ms": p50("latestOffset"),
        "operators.dedup_state_rows": max((s["rows"] for s in states), default=0),
        "operators.dedup_state_mb": max((s["mem"] for s in states), default=0) / 2**20,
        "operators.dedup_dropped_rows": sum(s["dropped"] for s in states),
    }


def _cdc_layers(ctx, spark, con, store, listener, timed, serve_out, state_dir) -> dict:
    ranges = [(b["lo"], b["hi"]) for b in timed]
    tr = ctx.tracer
    events = sum(b["rows"] for b in timed)
    ratios = [con.execute(
        f"SELECT count(DISTINCT pk) / count(*) FROM ev WHERE eid >= {lo} AND eid < {hi}").fetchone()[0]
        for lo, hi in ranges]
    state_bytes, state_files = dir_bytes_files(state_dir)
    ids = {b["batch"] for b in timed}
    out = {
        "operators.upstream_s": median(tr.batch_durations("operators.upstream", ids)),
        "operators.latest_image_ratio": sum(ratios) / len(ratios),
        "streaming.upsert.apply_s": median(tr.batch_durations("streaming.upsert.apply", ids)),
        "streaming.upsert.state_rows": con.execute("SELECT count(*) FROM got").fetchone()[0],
        "streaming.upsert.state_files": state_files,
        "streaming.upsert.state_mb": state_bytes / 2**20,
        "streaming.upsert.write_amplification": sum(b["state_bytes"] for b in timed) / events,
        "streaming.upsert.read_point_s": median(serve_out["times"]["point"]),
        "streaming.upsert.read_agg_s": median(serve_out["times"]["agg"]),
        "streaming.upsert.read_cpu_ms": serve_out["cpu_ms_per_read"],
        "engine.batch_events": median([b["rows"] for b in timed]),
    }
    out.update(_engine_layers(listener, tr, timed))
    with tr.span("replay"):
        out.update({f"sources.{k}" if k.startswith("read") else f"envelope.{k}": v
                    for k, v in _replay(spark, store, ranges[:6]).items()})
    return out


def _throughput(timed: list[dict], feed_end: float) -> dict:
    """``applied_eps``: events admitted per second between the first
    and the last trigger that started while the generator ran; each
    trigger takes everything published since the one before, so in
    steady state this is the offered rate.  ``drain_eps``: events per
    second of batch wall time, what the chain sustains while busy."""
    steady = [b for b in timed if b["start"] <= feed_end]
    durs = [b["end"] - b["start"] for b in timed]
    return {
        # 0 when a loaded host let fewer than two triggers start
        "applied_eps": sum(b["rows"] for b in steady[1:]) / (steady[-1]["start"] - steady[0]["start"])
        if len(steady) >= 2 else 0.0,
        "drain_eps": sum(b["rows"] for b in timed) / sum(durs),
        "batch_p50_s": median(durs),
    }


def run_tail(ctx) -> dict:
    """Open loop: a separate generator process offers ``rate`` events/s
    into a rotating binlog store for ``seconds``; the stream applies
    them onto a 30k-row table.  Freshness runs from each flush's due
    time to the commit of the batch that holds its events.  The gated
    figures are CPU time (set-up, per batch), which other guests of a
    shared host barely move; the wall-clock figures go to ``chain``."""
    from spark_binlog_spark.streaming.pipeline import ParquetUpsertSink

    cfg = SMOKE_TAIL if ctx.smoke else TAIL
    w = ctx.work
    store, state, ckpt = (os.path.join(w, d) for d in ("binlog", "state", "ckpt"))
    base_path = os.path.join(w, "base.parquet")
    pq.write_table(gen.base_table(cfg["base_rows"], ctx.seed), base_path)
    marks = {k: os.path.join(w, f"feeder.{k}") for k in ("ready", "go", "log", "out")}
    with open(marks["out"], "w") as out:
        feeder = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"), "feed",
             "--seed", str(ctx.seed), "--store", store, "--rate", str(cfg["rate"]),
             "--seconds", str(ctx.seconds), "--warmup", str(cfg["warmup"]),
             "--base-rows", str(cfg["base_rows"]), "--flush-ms", str(cfg["flush_ms"]),
             "--rotate", str(cfg["rotate"]), "--ready", marks["ready"], "--go", marks["go"],
             "--log", marks["log"]],
            stdout=out, stderr=subprocess.STDOUT, env=ctx.env)
    ctx.children.append(feeder)
    spark = ctx.spark = start_spark(w, f"local[{nproc()}]")
    ctx.phase("session")
    deadline = time.monotonic() + 120
    while not os.path.exists(marks["ready"]):
        if feeder.poll() is not None or time.monotonic() > deadline:
            raise RuntimeError("load generator did not publish its warm-up events")
        time.sleep(0.01)
    sink = ParquetUpsertSink(spark, state, spark.read.parquet(base_path), KEY, SET_COLS)
    ctx.phase("bootstrap")
    recorder = BatchRecorder(sink, ctx.tracer, state)
    listener = None
    if ctx.tracer.enabled:
        listener = progress_listener()
        spark.streams.addListener(listener)
    q = start_chain(spark, store, recorder, ckpt, TRIGGER_TAIL, numPartitions=nproc())
    ctx.phase("query_start")
    wait_until(lambda: sink.applied_rows >= cfg["warmup"], q, 150, "the cold batch")
    ctx.mark_setup_done()

    cpu_go = cpu_seconds(exclude=(feeder.pid,))
    t_go = time.monotonic() + 0.05
    with open(marks["go"] + ".tmp", "w") as fh:
        fh.write(repr(t_go))
    os.replace(marks["go"] + ".tmp", marks["go"])
    if feeder.wait(timeout=ctx.seconds + 90) != 0:
        raise RuntimeError("load generator failed")
    ctx.phase("feed")
    with open(marks["log"]) as fh:
        feed = json.load(fh)
    total = feed["total"]
    try:
        wait_until(lambda: sink.applied_rows >= total, q, 90, "the stream to drain")
        cpu_s = cpu_seconds() - cpu_go
    finally:
        q.stop()
    ctx.phase("drain")
    if listener is not None:
        time.sleep(0.5)  # let the last progress events reach the listener

    timed = [b for b in recorder.data_batches() if b["hi"] > cfg["warmup"]]
    # freshness of every event: (commit - due), weighted by the events
    # each batch shares with each flush; lag: events published but not
    # yet in the table at each commit
    pairs, lag = [], []
    flushes = feed["flushes"]
    for b in timed:
        for lo, hi, due, _, _ in flushes:
            n = min(hi, b["hi"]) - max(lo, b["lo"], cfg["warmup"])
            if n > 0:
                pairs.append((b["end"] - due, n))
        published = max((hi for lo, hi, _, _, t_end in flushes if t_end <= b["end"]),
                        default=cfg["warmup"])
        lag.append(published - b["hi"])

    con = duckdb.connect()
    ev_path = os.path.join(w, "events_ref.parquet")
    pq.write_table(gen.event_table(gen.tail_events(ctx.seed, cfg["base_rows"], total)), ev_path)
    check.cdc_reference(con, base_path, ev_path, total)
    ctx.phase("reference")
    serve_out = serve(sink, con, ctx.seed, cfg["reads"], ctx.tracer)
    ctx.phase("serve")
    segs = [os.path.join(store, s) for s in feed["segments"] if s.startswith("mysql-bin.")]
    checks = check.check_cdc_table(con, state)
    checks["applied_vs_generated"] = abs(sink.applied_rows - total)
    checks["store_vs_generated"] = abs(
        sum(pq.ParquetFile(p).metadata.num_rows for p in segs) - total)

    ctx.phase("checks")
    reads = serve_out["times"]["point"] + serve_out["times"]["agg"]
    chain = dict(_throughput(timed, flushes[-1][4]),
                 freshness_p50_s=weighted_percentile(pairs, 50),
                 freshness_p90_s=weighted_percentile(pairs, 90),
                 read_p50_s=median(reads), read_p90_s=percentile(reads, 90))
    layers = {}
    if ctx.tracer.enabled:
        layers = _cdc_layers(ctx, spark, con, store, listener, timed, serve_out, state)
        late = [t_start - due for _, _, due, t_start, _ in flushes]
        layers.update({
            "sources.publish_s": median([t_end - t_start for _, _, _, t_start, t_end in flushes]),
            "sources.lag_events_max": max(lag),
            "sources.segment_files": len(segs),
            "loadgen.late_p99_s": percentile(late, 99),
            "loadgen.offered_eps": (total - cfg["warmup"]) / (flushes[-1][4] - t_go),
        })
        layers.update(trace_overhead(timed))
        for _, _, due, t_start, t_end in flushes:
            ctx.tracer.add("loadgen.flush", t_start, t_end, due=due)
        spark.streams.removeListener(listener)
        cap = min(int(layers["engine.batch_events"]), total // 3)
        layers["engine.speedup_vs_1core"] = chain["drain_eps"] / _one_core_drain(
            ctx, store, base_path, cap)
    con.close()
    return {"metrics": {"cpu_ms_per_item": 1000 * cpu_s / (total - cfg["warmup"]),
                        "batch_cpu_s": median([b["cpu_s"] for b in timed])},
            "chain": chain, "layers": layers, "checks": checks,
            "attempted": len(timed) + serve_out["attempted"] + len(checks),
            "failed": serve_out["failed"] + sum(1 for v in checks.values() if v),
            "detail": {"batches": len(timed), "events": total - cfg["warmup"],
                       "batch_s": [b["end"] - b["start"] for b in timed],
                       "offered_eps": cfg["rate"], "lag_events": lag,
                       "freshness_samples": total - cfg["warmup"],
                       "reads": serve_out["attempted"]}}


def _one_core_drain(ctx, store: str, base_path: str, cap: int) -> float:
    """The single-core baseline: the same chain over the same store at
    local[1], in batches of the live run's median size; one cold batch,
    then two timed ones.  Returns events per second of batch wall time,
    the definition of ``drain_eps``."""
    from spark_binlog_spark.streaming.pipeline import ParquetUpsertSink

    ctx.spark.stop()
    w = os.path.join(ctx.work, "one_core")
    spark = ctx.spark = start_spark(ctx.work, "local[1]")
    sink = ParquetUpsertSink(spark, os.path.join(w, "state"), spark.read.parquet(base_path),
                             KEY, SET_COLS)
    recorder = BatchRecorder(sink, Tracer(False), os.path.join(w, "state"))
    q = start_chain(spark, store, recorder, os.path.join(w, "ckpt"), None,
                    maxEventsPerTrigger=cap, numPartitions=1)
    try:
        wait_until(lambda: sink.applied_rows >= 3 * cap, q, 150, "the 1-core drain")
    finally:
        q.stop()
    timed = recorder.data_batches()[1:3]
    return sum(b["rows"] for b in timed) / sum(b["end"] - b["start"] for b in timed)
