"""``binlog_fixture`` — a replayable CDC streaming source (PySpark DataSource API).

Re-architecture of the reference's MySQL-binlog streaming source
(MLSQLBinLogDataSource.scala:54-253): same contract — fixed one-column
``value: string`` schema (:36-44), monotonic long offsets, half-open
``[start, end)`` micro-batches, envelope-JSON records — with the Spark-2.4
plumbing deleted.  The executor-singleton socket server (X2), custom RPC
(X1) and consumer cache (X3) are replaced by ``DataSourceStreamReader``
partitions read directly inside tasks; the WAL (B1) is unnecessary
because the backing store (an offset-ordered parquet file standing in
for the binlog) is itself replayable from any offset — the property the
reference had to build B1+O6 to fake.

Scale/fan-out: ``partitions(start, end)`` splits every micro-batch into
contiguous offset ranges, one read task per ``EVENTS_PER_TASK`` (4,096)
events and at most ``numPartitions`` — a per-batch maximum, so a
1000-executor cluster reads a large backlog with 1000 parallel tasks
and the reference's single-reader bottleneck ("todo: optimize",
MLSQLBinLogDataSource.scala:394-397) is structurally gone, while a
small live-tail trigger runs one task instead of paying every Python
task's fixed start cost (~0.2 CPU-s on a 4-core host) per core.

Backpressure: ``maxEventsPerTrigger`` caps each micro-batch exactly like
the reference's queue-size admission control (B2,
BinLogSocketServerInExecutor.scala:125-133; default cap
MLSQLBinLogDataSource.scala:152), but by bounding ``latestOffset``
instead of disconnecting a socket.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from spark_binlog_spark import POW13

WIRE_SCHEMA = StructType([StructField("value", StringType())])

# Events per Python read task: a batch plans ceil(events / this) tasks,
# capped at ``numPartitions`` (``_task_budget``).
EVENTS_PER_TASK = 4096

OP_MAP = {"signup": "insert", "error": "delete"}  # else 'update' (cdc.py contract)

# Per-event embedded schema: the reference ships the Spark StructType JSON
# inside EVERY MySQL event (io/AbstractEventWriter.java:35-39; consumers
# discover column types from the event itself, BinlogSuite.scala:208-216).
ROW_SCHEMA = StructType(
    [
        StructField("pk", LongType()),
        StructField("value", DoubleType()),
        StructField("op", StringType()),
        StructField("cdc_offset", LongType()),
        StructField("k", LongType()),
    ]
)
ROW_SCHEMA_JSON = ROW_SCHEMA.json()

# Schema epoch 2 (live ALTER TABLE mid-stream): the reference re-resolves
# and re-ships the schema on every TABLE_MAP event
# (BinLogSocketServerInExecutor.scala:228-236), so a column added while
# the stream runs shows up in the very next event's embedded ``schema``.
# With source option ``schemaEpochOffset=K``, events with id >= K embed
# this v2 schema and carry the extra ``ts_ms`` column in their rows.
ROW_SCHEMA_V2 = StructType(ROW_SCHEMA.fields + [StructField("ts_ms", LongType())])
ROW_SCHEMA_V2_JSON = ROW_SCHEMA_V2.json()


def _envelope_json(
    event_id: int,
    ts_ns: int,
    user_id: int,
    event_type: str,
    value,
    props: str,
    schema_json: str | None = ROW_SCHEMA_JSON,
    schema_epoch: int | None = None,
) -> str:
    """One wire record — field order exactly as io/AbstractEventWriter.java:22-46
    (type, timestamp, databaseName, tableName, schema, rows).  MySQL-mode
    events embed the row StructType JSON in ``schema``; the HBase path
    (schema-less) sends null instead (hbase-wal AbstractEventWriter.java:39).
    ``schema_epoch``: events at-or-after it ship the v2 schema + ts_ms
    column (mid-stream ALTER TABLE)."""
    op = OP_MAP.get(event_type, "update")
    v2 = schema_epoch is not None and event_id >= schema_epoch
    if v2 and schema_json == ROW_SCHEMA_JSON:
        schema_json = ROW_SCHEMA_V2_JSON
    # NaN -> null: json.dumps would emit the invalid-JSON `NaN` literal
    row = {
        "pk": user_id,
        "value": None if value != value else value,
        "op": op,
        "cdc_offset": event_id,
    }
    try:
        payload = json.loads(props)
        k = payload.get("k") if isinstance(payload, dict) else None
        # integer payloads only (k is declared long in the row schema);
        # bool is an int subclass in Python — exclude it too
        row["k"] = k if isinstance(k, int) and not isinstance(k, bool) else None
    except (TypeError, ValueError):
        row["k"] = None
    if v2:
        row["ts_ms"] = ts_ns // 1_000_000
    return json.dumps(
        {
            "type": op,
            "timestamp": ts_ns // 1_000_000,
            "databaseName": f"db_{user_id % 2}",
            "tableName": f"t_{user_id % 4}",
            "schema": schema_json,
            "rows": [row],
        },
        separators=(",", ":"),
    )


@dataclass
class OffsetRangePartition(InputPartition):
    """One [start, end) split of a micro-batch — the unit a task reads.
    Mirrors CommonOffsetRange (binlog-common CommonSourceOffset.scala:91)."""

    start: int
    end: int
    path: str
    region: int | None = None  # region mode: only rows of this region
    n_regions: int = 0


def _read_range(path: str, start: int, end: int, filters: dict | None = None):
    """Executor-side range read: offset-predicate pushdown into parquet
    (the O3 scan, BinLogSocketServerInExecutor.scala:436-447).

    ``filters`` mirrors the reference's ingest-side gates — events for
    non-matching tables/times never materialize (F1 applied at source,
    BinLogSocketServerInExecutor.scala:219-237; HBase ``startTime``
    option, MLSQLHBaseWALDataSource):
      db_pattern / table_pattern: regex on the derived db/table names
      start_time_ns: minimum event timestamp (pushed into the scan)
    ``path`` may be a comma-separated list of files/dirs (the reference
    reads walLogPath + oldWALLogPath)."""
    import pyarrow.dataset as ds

    filters = filters or {}
    paths = [p.strip() for p in path.split(",") if p.strip()]
    # hive partition discovery: a region-partitioned store (see
    # region_partition_dataset) exposes its directory key as a `region`
    # column; plain files are unaffected
    dataset = ds.dataset(paths if len(paths) > 1 else paths[0], partitioning="hive")
    flt = (ds.field("event_id") >= start) & (ds.field("event_id") < end)
    region = filters.get("region")
    if region is not None and "region" in dataset.schema.names:
        # partition PRUNING, not post-filtering: fragments of other
        # regions are never opened, so a region task scans ~1/N of the
        # store instead of N tasks each scanning all of it.  The
        # row-level region filter below stays on as a correctness
        # defense against a store partitioned with a different modulus.
        flt = flt & (ds.field("region") == region)
    if filters.get("start_time_ns") is not None:
        import pyarrow as pa

        flt = flt & (ds.field("ts") >= pa.scalar(filters["start_time_ns"], pa.timestamp("ns")))
    import pyarrow as pa

    n_regions = filters.get("n_regions", 0)
    for batch in dataset.to_table(filter=flt).to_batches():
        arr = _encode_batch_vectorized(
            batch,
            db_pattern=filters.get("db_pattern"),
            table_pattern=filters.get("table_pattern"),
            region=region,
            n_regions=n_regions,
            schema_epoch=filters.get("schema_epoch"),
        )
        if len(arr):
            yield pa.RecordBatch.from_arrays([arr], ["value"])


def _mod(x, m):
    """Integer x % m on arrow arrays (no modulo kernel in pyarrow):
    x - (x / m) * m — arrow's integer divide truncates, uids are >= 0."""
    import pyarrow as pa
    import pyarrow.compute as pc

    m = pa.scalar(m, pa.int64())
    return pc.subtract(x, pc.multiply(pc.divide(x, m), m))


def _encode_batch_vectorized(
    batch, db_pattern=None, table_pattern=None, region=None, n_regions=0, schema_epoch=None
):
    """Pure-arrow wire encoding: every step is an Arrow C++ kernel —
    regex filters, modular key derivation, and one
    ``binary_join_element_wise`` building the envelope line per row.
    No pandas round-trip, no per-row Python anywhere (the previous
    pandas version still ran the table-pattern filter as a rowwise
    ``.map``); read() yields the resulting arrays straight through as
    RecordBatches.

    Wire parity with ``_envelope_json`` is SEMANTIC: identical field
    order, identical values after JSON parse (covered by
    test_streaming's parity test).  The only byte-level divergence is
    float formatting — Arrow renders 3.0 as ``3`` where Python writes
    ``3.0`` — which ``from_json``'s double parse erases; every other
    field is integer or controlled-vocabulary, so no escaping needed.
    ``k`` is extracted from props with a regex accepting only integer
    payloads (anything else → null, matching the scalar path).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    uid = batch.column("user_id")
    mask = None
    if region is not None:
        # region mode: region key derived from the row key, exactly the
        # HBase source's per-region WAL ownership (one task per region)
        mask = pc.equal(_mod(uid, n_regions), pa.scalar(region, pa.int64()))
    db = pc.binary_join_element_wise("db_", pc.cast(_mod(uid, 2), pa.string()), "")
    tbl = pc.binary_join_element_wise("t_", pc.cast(_mod(uid, 4), pa.string()), "")
    if db_pattern:
        m = pc.match_substring_regex(db, db_pattern)
        mask = m if mask is None else pc.and_(mask, m)
    if table_pattern:
        m = pc.match_substring_regex(tbl, table_pattern)
        mask = m if mask is None else pc.and_(mask, m)
    if mask is not None:
        batch = batch.filter(mask)
        uid, db, tbl = uid.filter(mask), db.filter(mask), tbl.filter(mask)
    if batch.num_rows == 0:
        return pa.array([], pa.string())

    et = batch.column("event_type")
    op = pa.scalar("update", pa.string())
    for evt, mapped in OP_MAP.items():
        op = pc.if_else(pc.equal(et, evt), pa.scalar(mapped, pa.string()), op)
    # a null event_type must map to 'update' like the scalar OP_MAP.get
    # fallback — pc.equal(null) propagates null through the chain and a
    # null op would null the ENTIRE joined wire line (silent row drop)
    op = pc.fill_null(op, "update")
    # normalize to ns before the ms division — timestamp[us]/[ms] files
    # would otherwise be misinterpreted as ns
    ts_ns = pc.cast(pc.cast(batch.column("ts"), pa.timestamp("ns")), pa.int64())
    ts_ms = pc.cast(pc.divide(ts_ns, pa.scalar(1_000_000, pa.int64())), pa.string())
    pk = pc.cast(uid, pa.string())
    off = pc.cast(batch.column("event_id"), pa.string())
    raw_val = batch.column("value")
    val = pc.if_else(
        pc.or_kleene(pc.is_null(raw_val), pc.is_nan(raw_val)),
        pa.scalar("null", pa.string()),
        pc.cast(raw_val, pa.string()),
    )
    # integer-valued TOP-LEVEL k only: [^{}] forbids crossing into a
    # nested object (so {"a":{"k":9}} -> null, like the scalar
    # json.loads spec) and the [,}] tail rejects float payloads (so
    # {"k":5.0} -> null, not a truncated 5).
    props_str = pc.cast(batch.column("props"), pa.string())
    k = pc.extract_regex(props_str, r'^\s*\{[^{}]*"k"\s*:\s*(?P<k>-?\d+)\s*[,}]')
    k = pc.struct_field(k, "k")
    # RE2 cannot balance braces, so a top-level k AFTER a nested value
    # ({"x":{"a":1},"k":2}) misses above.  Route only the missed rows
    # that still mention "k" through the scalar json.loads spec and
    # scatter the results back — the hot path stays pure-arrow and the
    # two encoders agree on every payload shape.
    miss = pc.fill_null(
        pc.and_kleene(pc.is_null(k), pc.match_substring_regex(props_str, r'"k"\s*:')),
        False,
    )
    if pc.any(miss).as_py():
        vals = []
        for s in pc.filter(props_str, miss).to_pylist():
            try:
                payload = json.loads(s)
                kv = payload.get("k") if isinstance(payload, dict) else None
                vals.append(
                    str(kv) if isinstance(kv, int) and not isinstance(kv, bool) else None
                )
            except (TypeError, ValueError):
                vals.append(None)
        k = pc.replace_with_mask(k, miss, pa.array(vals, pa.string()))
    k = pc.fill_null(k, "null")
    # region (HBase WAL) mode is schema-less -> "schema":null; MySQL mode
    # embeds the row StructType JSON, escaped once as a constant.  Under
    # a schema epoch, events at-or-after the flip ship the v2 schema and
    # the extra ts_ms row column — per-row if_else, still pure arrow.
    if region is not None:
        schema_field = pa.scalar("null", pa.string())
        tail = pa.scalar("}]}", pa.string())
    elif schema_epoch is not None:
        v2 = pc.greater_equal(batch.column("event_id"), pa.scalar(schema_epoch, pa.int64()))
        schema_field = pc.if_else(
            v2,
            pa.scalar(json.dumps(ROW_SCHEMA_V2_JSON), pa.string()),
            pa.scalar(json.dumps(ROW_SCHEMA_JSON), pa.string()),
        )
        tail = pc.if_else(
            v2,
            pc.binary_join_element_wise(',"ts_ms":', ts_ms, "}]}", ""),
            pa.scalar("}]}", pa.string()),
        )
    else:
        schema_field = pa.scalar(json.dumps(ROW_SCHEMA_JSON), pa.string())
        tail = pa.scalar("}]}", pa.string())
    return pc.binary_join_element_wise(
        '{"type":"', op, '","timestamp":', ts_ms,
        ',"databaseName":"', db, '","tableName":"', tbl,
        '","schema":', schema_field,
        ',"rows":[{"pk":', pk, ',"value":', val, ',"op":"', op,
        '","cdc_offset":', off, ',"k":', k, tail,
        "",
    )


# ------------------------------------------------------------------
# Multi-segment (rotating binlog) mode.
#
# A segmented store is a DIRECTORY of parquet files named
# ``mysql-bin.%06d`` (protocols.scala:15-17), each holding a contiguous
# ``event_id`` range — the analogue of a rotating binlog: MySQL closes
# mysql-bin.000001 at its size cap and starts mysql-bin.000002 (the
# ROTATE event the reference handles at
# BinLogSocketServerInExecutor.scala:252-255).  Source offsets become
# the reference's packed composite ``fileId * 10^13 + pos``
# (protocols.scala:6-26) with pos 4-based (binlog files start at byte 4
# after the magic header); WIRE rows keep the global event_id — the
# composite lives in the offset protocol, which is where the reference
# uses it.  New segments appearing between micro-batches are picked up
# by re-probing the directory in ``latestOffset`` (tail mode).

_SEGMENT_RE = r"^(.+)\.(\d{6})$"


def is_segmented(path: str) -> bool:
    """A directory with at least one ``<prefix>.%06d`` member."""
    import os
    import re

    if "," in path or not os.path.isdir(path):
        return False
    return any(re.match(_SEGMENT_RE, n) for n in os.listdir(path))


# path -> ((size, mtime_ns), (lo, hi, rows)): segment/WAL files are
# IMMUTABLE once rotated (only the active file grows, and growth
# changes its stat signature), so per-trigger re-probes of a large
# store only pay footer reads for files that actually changed.  At
# 1000 regions × 100 rolled files this turns ~100k footer opens per
# planning round into ~#changed-files — the same bounded-listing idea
# as the reference's cached oldWALs scan.  Keyed by path (one live
# entry per file; a changed signature overwrites in place).
_FOOTER_CACHE: dict[str, tuple] = {}


def _footer_span(fp: str):
    """(min_event_id, max_event_id, rows) from parquet FOOTER METADATA
    only — no data read.  (None, None, rows) for an empty/stat-less
    file.  Memoized on the file's (size, mtime) signature."""
    import pyarrow.parquet as pq

    st = os.stat(fp)
    sig = (st.st_size, st.st_mtime_ns)
    hit = _FOOTER_CACHE.get(fp)
    if hit is not None and hit[0] == sig:
        return hit[1]
    md = pq.ParquetFile(fp).metadata
    idx = md.schema.to_arrow_schema().get_field_index("event_id")
    lo = hi = None
    for rg in range(md.num_row_groups):
        stt = md.row_group(rg).column(idx).statistics
        if stt is not None:
            lo = stt.min if lo is None else min(lo, stt.min)
            hi = stt.max if hi is None else max(hi, stt.max)
    _FOOTER_CACHE[fp] = (sig, (lo, hi, md.num_rows))
    return lo, hi, md.num_rows


def _segment_index(dir_path: str, prefix: str | None = None) -> list[dict]:
    """Probe the segment directory: per file (file_id, min/max event_id,
    row count) from parquet footer metadata (the same O2 stats probe as
    ``_probe_end``), re-run per planning round so freshly-rotated
    segments join the index.  ``prefix`` restricts the index to ONE
    rotation family (the reference's ``bingLogNamePrefix`` option,
    MLSQLBinLogDataSource.scala:65,95 — a directory may hold several
    prefixes, e.g. after a server rename; mixing them would interleave
    unrelated id sequences)."""
    import os
    import re

    pat = re.escape(prefix) + r"\.(\d{6})$" if prefix else _SEGMENT_RE
    segs = []
    for name in sorted(os.listdir(dir_path)):
        m = re.match(pat, name)
        if not m:
            continue
        fp = os.path.join(dir_path, name)
        lo, hi, rows = _footer_span(fp)
        if lo is None:
            continue  # empty/stat-less file: not yet visible
        segs.append({"fid": int(m.group(m.lastindex)), "path": fp, "min": lo, "max": hi, "rows": rows})
    segs.sort(key=lambda s: s["fid"])
    for a, b in zip(segs, segs[1:]):
        if b["min"] != a["max"] + 1:
            raise ValueError(
                f"segment gap: {a['path']} ends at event {a['max']} but "
                f"{b['path']} starts at {b['min']} — purged/missing binlog file "
                "(the reference fails the stream on a missing binlog too)"
            )
    if not segs:
        want = f"'{prefix}.NNNNNN'" if prefix else "'<prefix>.NNNNNN'"
        raise ValueError(f"no {want} segment files in {dir_path}")
    return segs


def _packed_to_global(index: list[dict], packed: int) -> int:
    """packed (fileId, pos) -> global event_id; pos 4 = first event of
    the file.  A packed offset naming a file no longer in the index is
    data loss (binlog purged under a checkpointed stream) -> raise."""
    fid, pos = divmod(packed, POW13)
    for seg in index:
        if seg["fid"] == fid:
            eid = seg["min"] + (pos - 4)
            # pos must lie within the file: [4, one-past-last] — an
            # out-of-range bootstrap (binlogFileOffset beyond the file)
            # must failfast, not sit forever on an empty stream
            if pos < 4 or eid > seg["max"] + 1:
                raise ValueError(
                    f"pos {pos} outside binlog file id {fid} "
                    f"(valid range [4, {seg['max'] - seg['min'] + 5}])"
                )
            return eid
    raise ValueError(
        f"offset references binlog file id {fid} which is not in the segment "
        f"index ({[s['fid'] for s in index]}) — binlog purged? cannot resume"
    )


def _global_to_packed(index: list[dict], eid: int) -> int:
    """Global event_id -> packed offset.  eid == last.max+1 (stream end)
    packs as one-past-last IN THE LAST FILE, never as pos 4 of a
    not-yet-existing next file — keeps latestOffset stable across
    planning rounds when no data arrives."""
    for seg in index:
        if seg["min"] <= eid <= seg["max"]:
            return seg["fid"] * POW13 + (eid - seg["min"] + 4)
    last = index[-1]
    if eid == last["max"] + 1:
        return last["fid"] * POW13 + (eid - last["min"] + 4)
    if eid < index[0]["min"]:
        return index[0]["fid"] * POW13 + 4
    raise ValueError(f"event {eid} outside segment index")


def _task_budget(events: int, max_tasks: int) -> int:
    """Read tasks for a batch of ``events``: one per ``EVENTS_PER_TASK``,
    at most ``max_tasks`` (``numPartitions``), at least one."""
    return max(1, min(max_tasks, -(-events // EVENTS_PER_TASK)))


def _split_spans(spans: list[tuple], budget: int) -> list[tuple]:
    """Subdivide ``(tag, lo, hi)`` spans into ``(tag, lo, hi)`` task
    ranges: ``budget`` tasks allotted proportionally to span length,
    at least one per span, so no range ever crosses a span."""
    total = sum(hi - lo for _, lo, hi in spans)
    out = []
    for tag, lo, hi in spans:
        n = max(1, round(budget * (hi - lo) / total))
        step = (hi - lo + n - 1) // n
        out.extend((tag, x, min(x + step, hi)) for x in range(lo, hi, step))
    return out


def _offset_partitions(path: str, s: int, e: int, max_tasks: int) -> list["OffsetRangePartition"]:
    """Flat-store [s, e) as ``_task_budget`` contiguous ranges."""
    if e <= s:
        return [OffsetRangePartition(s, s, path)]
    return [
        OffsetRangePartition(lo, hi, path)
        for _, lo, hi in _split_spans([(path, s, e)], _task_budget(e - s, max_tasks))
    ]


def _segment_partitions(
    index: list[dict], start_packed: int, end_packed: int, num_partitions: int
) -> list["OffsetRangePartition"]:
    """Split packed [start, end) into per-segment, per-task event-id
    ranges.  A partition NEVER spans a file boundary (each task reads
    one binlog file — the rotation analogue).  ``num_partitions`` is a
    per-batch maximum: the batch gets one task per ``EVENTS_PER_TASK``
    events, allocated to segments proportionally to their event counts
    (at least one per segment touched), so a live-tail trigger reads
    each of its files in one task and a 1000-task cluster still
    balances a backlog when one file holds the tail."""
    s = _packed_to_global(index, start_packed)
    e = _packed_to_global(index, end_packed)
    spans = []  # (path, lo, hi) global-eid half-open per segment
    for seg in index:
        lo, hi = max(s, seg["min"]), min(e, seg["max"] + 1)
        if lo < hi:
            spans.append((seg["path"], lo, hi))
    if not spans:
        return [OffsetRangePartition(s, s, index[0]["path"])]
    budget = _task_budget(sum(hi - lo for _, lo, hi in spans), num_partitions)
    return [OffsetRangePartition(lo, hi, path) for path, lo, hi in _split_spans(spans, budget)]


def write_segments(
    src_path: str,
    dest_dir: str,
    n_segments: int = 4,
    prefix: str = "mysql-bin",
    only: list[int] | None = None,
) -> int:
    """Fixture prep: split a flat events table into ``n_segments``
    rotating binlog files ``<prefix>.%06d`` by ``event_id div eps``
    (eps = ceil((max_id+1)/n_segments)).  ``only`` writes just those
    file ids (1-based) — a test appends later files to simulate
    rotation under a live tail.  Returns eps so callers/oracles can
    mirror the split arithmetic.  Scan-filtered per segment (never the
    whole table at once); the per-segment materialization is the
    fixture stand-in for the DATABASE SERVER's serial binlog writer —
    this is test-bed prep, not a data-plane operator (the data-plane
    READS the layout distributed, see _segment_partitions)."""
    import os

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    os.makedirs(dest_dir, exist_ok=True)
    end = _probe_end(src_path)
    eps = (end + n_segments - 1) // n_segments
    dataset = ds.dataset(src_path)
    for i in range(n_segments):
        fid = i + 1
        if only is not None and fid not in only:
            continue
        lo, hi = i * eps, min((i + 1) * eps, end)
        if lo >= hi:
            continue
        tbl = dataset.to_table(
            filter=(ds.field("event_id") >= lo) & (ds.field("event_id") < hi)
        )
        tbl = tbl.sort_by("event_id")
        # ATOMIC publish: a live tail re-probes the directory every
        # trigger and would die on the magic-bytes check of a
        # half-written file — write aside, then rename into place
        # (atomic within one filesystem, exactly how MySQL publishes a
        # rotated binlog)
        final = os.path.join(dest_dir, f"{prefix}.{fid:06d}")
        tmp = final + ".inprogress"
        pq.write_table(tbl, tmp)
        os.replace(tmp, final)
    return eps


# ------------------------------------------------------------------
# Rolled-WAL (HBase) region mode.
#
# A real HBase regionserver ROLLS its write-ahead log: the active WAL
# file is closed at a size/time threshold and a new one starts, with
# closed files moving to ``oldWALs`` — the reference reads BOTH sets per
# region, sorted by name (HBaseWALClient.scala:66,128 collects
# oldWALs/<server>* plus the active WALs/<server>/ files).  The fixture
# analogue is ``<store>/region=K/<prefix>.%06d`` — each region directory
# holds its own rolled segment files, probed fresh each planning round so
# files rolled under a live tail join the scan (same live-pickup
# semantic as the MySQL rotate mode above).  Offsets KEEP the
# ``{"r<K>": seq}`` map shape (CommonSourceOffset.scala:24-54) — the
# roll changes the storage layout, not the offset protocol.


def is_region_rolled(path: str) -> bool:
    """A directory of ``region=K`` subdirectories each holding at least
    one ``<prefix>.%06d`` segment file."""
    import re

    if "," in path or not os.path.isdir(path):
        return False
    found = False
    for name in os.listdir(path):
        sub = os.path.join(path, name)
        if not (name.startswith("region=") and os.path.isdir(sub)):
            continue
        if not any(re.match(_SEGMENT_RE, n) for n in os.listdir(sub)):
            return False  # mixed layout: some region dirs un-segmented
        found = True
    return found


def _region_segment_index(region_dir: str) -> list[dict]:
    """Segment index for ONE region's rolled-WAL directory.  Unlike the
    MySQL rotate index, event ids within a region are NOT contiguous
    (ids are global; a region owns the subset hashing to it), so the
    integrity checks are: file ids consecutive (a missing middle WAL =
    purged file = data loss, the same failfast as the MySQL mode) and
    file spans ordered and non-overlapping (WALs roll forward; an
    overlap means a corrupt layout).  Empty files count as present for
    the id-contiguity check but carry no span."""
    import re

    segs, fids = [], []
    for name in sorted(os.listdir(region_dir)):
        m = re.match(_SEGMENT_RE, name)
        if not m:
            continue
        fp = os.path.join(region_dir, name)
        lo, hi, rows = _footer_span(fp)
        fids.append(int(m.group(2)))
        if lo is None:
            continue
        segs.append({"fid": int(m.group(2)), "path": fp, "min": lo, "max": hi, "rows": rows})
    fids.sort()
    if not fids:
        raise ValueError(f"no '<prefix>.NNNNNN' WAL segment files in {region_dir}")
    if fids != list(range(fids[0], fids[0] + len(fids))):
        raise ValueError(
            f"WAL file-id gap in {region_dir}: {fids} — purged/missing rolled "
            "WAL file (the reference fails on a missing WAL too)"
        )
    segs.sort(key=lambda s: s["fid"])
    for a, b in zip(segs, segs[1:]):
        if b["min"] <= a["max"]:
            raise ValueError(
                f"overlapping WAL segments in {region_dir}: {a['path']} ends at "
                f"event {a['max']} but {b['path']} starts at {b['min']}"
            )
    return segs


def write_region_wal_segments(
    src_path: str,
    dest_dir: str,
    n_regions: int,
    n_segments: int = 3,
    prefix: str = "wal",
    only: list[int] | None = None,
) -> int:
    """Fixture prep: lay an events table out as a rolled-WAL region
    store ``dest_dir/region=K/<prefix>.%06d`` — region = user_id %
    n_regions (the source's region-ownership rule), segment boundaries
    shared across regions at ``event_id div eps`` (the analogue of
    time-triggered rolls, which hit every regionserver at about the
    same point in the log).  ``only`` writes just those file ids — a
    test appends later rolls to simulate rolling under a live tail.
    Returns eps.  Serial per (region, segment) by design: this stands
    in for the REGIONSERVER's own serial WAL writer (test-bed prep, not
    a data-plane operator — the data plane reads the layout with one
    task per region per file)."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    end = _probe_end(src_path)
    eps = (end + n_segments - 1) // n_segments
    dataset = ds.dataset(src_path)
    for r in range(n_regions):
        region_dir = os.path.join(dest_dir, f"region={r}")
        os.makedirs(region_dir, exist_ok=True)
        for i in range(n_segments):
            fid = i + 1
            if only is not None and fid not in only:
                continue
            lo, hi = i * eps, min((i + 1) * eps, end)
            if lo >= hi:
                continue
            tbl = dataset.to_table(
                filter=(ds.field("event_id") >= lo)
                & (ds.field("event_id") < hi)
                & (_ds_mod_eq(ds, "user_id", n_regions, r))
            ).sort_by("event_id")
            # empty segments still publish: the file-id contiguity
            # check treats them as present (a quiet region still rolls)
            final = os.path.join(region_dir, f"{prefix}.{fid:06d}")
            tmp = final + ".inprogress"
            pq.write_table(tbl, tmp)
            os.replace(tmp, final)
    return eps


def _ds_mod_eq(ds, col: str, m: int, r: int):
    """dataset-expression ``col % m == r`` (no modulo in ds.field algebra:
    x - (x/m)*m with truncating integer division, ids are >= 0)."""
    f = ds.field(col)
    return (f - (f / m).cast("int64") * m) == r


def _probe_end(path: str) -> int:
    """max(event_id)+1 across all files from row-group statistics —
    metadata-only, no data read (the O2 latest-offset probe)."""
    import pyarrow.dataset as ds

    paths = [p.strip() for p in path.split(",") if p.strip()]
    dataset = ds.dataset(paths if len(paths) > 1 else paths[0], partitioning="hive")
    end = 0
    for frag in dataset.get_fragments():
        md = frag.metadata
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            if col.statistics is not None:
                end = max(end, col.statistics.max + 1)
    return end


def _parse_filters(options: dict) -> dict:
    """Ingest-side filter options, mirroring the reference's source
    options: databaseNamePattern/tableNamePattern
    (MLSQLBinLogDataSource), startTimeMs (HBase startTime)."""
    f: dict = {}
    db = options.get("databasenamepattern", options.get("databaseNamePattern"))
    if db:
        f["db_pattern"] = db
    tb = options.get("tablenamepattern", options.get("tableNamePattern"))
    if tb:
        f["table_pattern"] = tb
    st = options.get("starttimems", options.get("startTimeMs"))
    if st is not None:
        f["start_time_ns"] = int(st) * 1_000_000
    se = options.get("schemaepochoffset", options.get("schemaEpochOffset"))
    if se is not None:
        f["schema_epoch"] = int(se)
    return f


class BinlogFixtureStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("binlog_fixture requires option 'path' (events parquet)")
        self.num_partitions = int(options.get("numpartitions", options.get("numPartitions", 4)))
        self.max_per_trigger = int(options.get("maxeventspertrigger", options.get("maxEventsPerTrigger", 0)))
        self.start_offset = int(options.get("startingoffset", options.get("startingOffset", 0)))
        self.filters = _parse_filters(options)
        # region mode: per-region map offsets, the HBase CommonSourceOffset
        # JSON shape {"<region>": seq} (CommonSourceOffset.scala:24-54);
        # one partition per region per micro-batch
        self.regions = int(options.get("regions", 0))
        # rotating-binlog mode: a directory of <prefix>.%06d segment
        # files; offsets become the packed (fileId, pos) composite and
        # the directory is re-probed per planning round (live tail)
        self.segmented = is_segmented(self.path) if self.path else False
        if self.segmented and self.regions:
            raise ValueError("segmented (MySQL rotate) and regions (HBase) modes are exclusive")
        # rolled-WAL region mode: region=K dirs of <prefix>.%06d files;
        # per-region indexes refreshed per planning round (live roll
        # pickup, HBaseWALClient.scala:66,128 oldWALs + active sets)
        self.region_rolled = bool(self.regions) and is_region_rolled(self.path)
        self._region_idx: dict[int, list[dict]] | None = None
        # reference bootstrap options (MLSQLBinLogDataSource.scala:70-98):
        # start the stream at an explicit (binlogIndex, binlogFileOffset)
        # composite; binlogFileOffset defaults to 4 (first event of the
        # file, after the magic header) like the reference's fallback
        # reference's prefix selector (typo'd spelling preserved for
        # option parity; the sane spelling is accepted too): restrict
        # the rotation family this stream follows when a directory
        # holds several <prefix>.%06d families
        self.seg_prefix = options.get(
            "binglognameprefix",
            options.get("bingLogNamePrefix", options.get("binlogNamePrefix")),
        )
        if self.seg_prefix is not None and not self.segmented:
            raise ValueError(
                "bingLogNamePrefix requires a segmented (<prefix>.%06d) store"
            )
        bi = options.get("binlogindex", options.get("binlogIndex"))
        bf = options.get("binlogfileoffset", options.get("binlogFileOffset"))
        self.start_packed = None
        if bi is not None:
            if not self.segmented:
                raise ValueError("binlogIndex requires a segmented (mysql-bin.%06d) store")
            self.start_packed = int(bi) * POW13 + int(bf if bf is not None else 4)
        elif bf is not None:
            raise ValueError("binlogFileOffset requires binlogIndex")
        self._index = None  # segment index, refreshed per latestOffset
        self._end = None  # lazily-probed end of stream
        self._cur = None  # admission-control cursor (see latestOffset)
        self._floor = -1  # committed-position read floor (see _observe_batch)
        # floorDir: persist the highest COMMITTED offset beside the
        # user's checkpoint, closing the double-restart window of the
        # process-lifetime floor (see _observe_batch's docstring) — the
        # same durable-progress role as the reference's checkpoint
        # offset log recovery (MLSQLBinLogDataSource.scala:109-136).
        # Tie one floorDir to one checkpoint lineage: reusing it with a
        # fresh checkpoint and an earlier startingOffset would clamp
        # the intentional re-read.
        # region-mode admission/floor state: per-region cursor map and
        # per-region committed floors (same roles as _cur/_floor in the
        # single-offset modes — see _observe_batch)
        self._rcur: dict[str, int] | None = None
        self._rfloor: dict[str, int] = {}
        self.floor_dir = options.get("floordir", options.get("floorDir"))
        if self.floor_dir:
            os.makedirs(self.floor_dir, exist_ok=True)
            raw = None
            try:
                with open(os.path.join(self.floor_dir, "floor")) as fh:
                    raw = fh.read().strip()
            except FileNotFoundError:
                pass
            if raw:
                # mode mismatch (a floorDir shared between a region and
                # a single-offset stream) must FAILFAST in both
                # directions: silently starting floorless would allow
                # exactly the committed-event re-delivery the floor
                # exists to prevent
                try:
                    parsed = json.loads(raw)
                except ValueError:
                    raise ValueError(f"corrupt floor file in {self.floor_dir}: {raw!r}")
                if self.regions:
                    if not isinstance(parsed, dict):
                        raise ValueError(
                            f"floorDir {self.floor_dir} holds a single-offset floor "
                            "but the source is in region mode — one floorDir per "
                            "stream lineage"
                        )
                    self._rfloor = {k: int(v) for k, v in parsed.items()}
                else:
                    if isinstance(parsed, dict):
                        raise ValueError(
                            f"floorDir {self.floor_dir} holds a region floor map "
                            "but the source is in single-offset mode — one "
                            "floorDir per stream lineage"
                        )
                    self._floor = max(self._floor, int(parsed))

    def _stream_end(self) -> int:
        if self._end is None:
            self._end = _probe_end(self.path)
        return self._end

    def _seg_index(self, refresh: bool = False) -> list[dict]:
        if self._index is None or refresh:
            self._index = _segment_index(self.path, self.seg_prefix)
        return self._index

    def _region_index(self, refresh: bool = False) -> dict[int, list[dict]]:
        if self._region_idx is None or refresh:
            self._region_idx = {
                r: _region_segment_index(os.path.join(self.path, f"region={r}"))
                for r in range(self.regions)
            }
        return self._region_idx

    def initialOffset(self) -> dict:
        # user-supplied or 0 — mirroring binlogIndex/binlogFileOffset
        # bootstrap (MLSQLBinLogDataSource.scala:70-98).  Region mode
        # emits the map shape with deterministic sorted keys
        # (CommonSourceOffset.scala:27-39).  Segmented mode packs the
        # global start event into (fileId, pos) — the same composite
        # the reference bootstraps from binlogIndex/binlogFileOffset.
        # seed the admission cursor: initialOffset runs exactly once, on
        # a FRESH stream — a capped stream then ratchets from its true
        # start.  On checkpoint restart this is NOT called; latestOffset
        # handles the cursor-less case by never guessing (below).
        if self.segmented:
            if self.start_packed is not None:
                # validate the named file + pos exist (same failfast as resume)
                _packed_to_global(self._seg_index(), self.start_packed)
                self._cur = self.start_packed
                return {"offset": self.start_packed}
            packed = _global_to_packed(self._seg_index(), self.start_offset)
            self._cur = packed
            return {"offset": packed}
        if self.regions:
            return {f"r{r}": self.start_offset for r in range(self.regions)}
        self._cur = self.start_offset
        return {"offset": self.start_offset}

    def latestOffset(self) -> dict:
        # O2 latest-offset probe.  The maxEventsPerTrigger admission cap
        # (B2) MUST be applied here, not in partitions(): Spark records
        # [start, latestOffset) as processed in the offset log, so a
        # partitions() that reads less than that range would silently
        # lose the tail.  A driver-side cursor ratchets the reported
        # offset forward by at most the cap per planning round.
        # Capped cursor bootstrap: with no cursor yet we assume a fresh
        # stream and base at the configured start — the Python stream
        # API gives latestOffset no committed-offset input, and on a
        # clean-stop CHECKPOINT RESTART this report can land BEHIND the
        # committed offset.  That mis-planned batch (end < start) is
        # detected in partitions(), which records the committed
        # position as a read FLOOR so no already-committed event is
        # ever re-delivered (see partitions()); a crash restart replays
        # its uncommitted batch first, which ratchets the cursor before
        # any latestOffset runs — no regression at all in that path.
        if self.segmented:
            # RE-PROBE the directory: segments written since the last
            # trigger (rotation under a live tail) join the index now
            index = self._seg_index(refresh=True)
            last = index[-1]
            end_eid = last["max"] + 1
            if not self.max_per_trigger:
                return {"offset": _global_to_packed(index, end_eid)}
            if self._cur is not None:
                cur_eid = _packed_to_global(index, self._cur)
            elif self.start_packed is not None:
                cur_eid = _packed_to_global(index, self.start_packed)
            else:
                cur_eid = max(self.start_offset, index[0]["min"])
            nxt = _global_to_packed(index, min(end_eid, cur_eid + self.max_per_trigger))
            self._cur = nxt
            return {"offset": nxt}
        if self.region_rolled:
            # RE-PROBE every region directory: WAL files rolled since
            # the last trigger join their region's index now (live
            # tail), and each region's watermark advances to the end of
            # ITS OWN log — per-region progress, like per-regionserver
            # WAL positions in the reference's offset map
            idx = self._region_index(refresh=True)
            return self._cap_region_ends(
                {
                    f"r{r}": (idx[r][-1]["max"] + 1 if idx[r] else self.start_offset)
                    for r in range(self.regions)
                }
            )
        end = self._stream_end()
        if self.regions:
            # every region's seq watermark advances to the shared log end
            # (regions share the event-id sequence in the fixture)
            return self._cap_region_ends({f"r{r}": end for r in range(self.regions)})
        if not self.max_per_trigger:
            return {"offset": end}
        cur = self.start_offset if self._cur is None else self._cur
        nxt = min(end, cur + self.max_per_trigger)
        self._cur = nxt
        return {"offset": nxt}

    def _observe_batch(self, s: int, e: int) -> int:
        """Exactly-once guard around the admission cursor (both offset
        spaces; packed values order like (file, pos)).  Ratchet the
        cursor on both bounds, and on a REGRESSED batch (e < s — only
        produced when a capped stream restarts from a clean stop and
        the fresh cursor under-reported) record ``s``, the committed
        position Spark handed us, as a read floor: Spark's own position
        moves back to the regressed end, so later batches legitimately
        span already-committed offsets — the floor clamps those reads
        to re-deliver nothing.

        Scope: without ``floorDir`` the floor lives for this reader's
        process lifetime — enough to cover the restart that created
        the regression, but a SECOND clean stop before the clamped
        batches commit past the old position starts a third process
        with no floor, and the already-rewound offset log replays the
        gap (the Python stream API offers no committed-offset input).
        The ``floorDir`` option closes that window: commit() persists
        the highest committed offset and __init__ reloads it, so every
        process starts with the durable floor.  Without floorDir, pair
        a capped source with an idempotent sink (cdc_apply merge,
        DedupIngestSink) if double restarts mid-catch-up are a
        concern."""
        for off in (s, e):
            if self._cur is None or off > self._cur:
                self._cur = off
        if e < s:
            self._floor = max(self._floor, s)
        return max(s, self._floor)

    def _cap_region_ends(self, ends: dict) -> dict:
        """B2 admission control for the region map offsets: each region
        advances at most ``maxEventsPerTrigger`` event-IDs per planning
        round.  Region offsets index the SHARED event-id sequence and a
        region owns ~1/n_regions of the ids in any span, so an id-span
        of the full cap per region admits ~cap/n_regions events per
        region ≈ cap events per trigger in total — the same admission
        rate as the single-offset modes (splitting the cap across
        regions would under-admit by n_regions×).  Every region gets
        the same span regardless of its neighbors' backlog, so a hot
        region cannot starve a quiet one (the reference's queue cap is
        per server the same way,
        BinLogSocketServerInExecutor.scala:125-133)."""
        if not self.max_per_trigger:
            return ends
        cur = self._rcur if self._rcur is not None else {}
        nxt = {
            k: min(e, cur.get(k, self.start_offset) + self.max_per_trigger)
            for k, e in ends.items()
        }
        self._rcur = nxt
        return nxt

    def _observe_region_batch(self, key: str, s: int, e: int) -> int:
        """Per-region rendering of _observe_batch: ratchet the region
        cursor on both bounds; a regressed batch records the committed
        position as that region's read floor (same clean-stop-restart
        clamp, same floorDir durability — see _observe_batch)."""
        if self._rcur is None:
            self._rcur = {}
        for off in (s, e):
            if off > self._rcur.get(key, -(1 << 62)):
                self._rcur[key] = off
        if e < s:
            self._rfloor[key] = max(self._rfloor.get(key, -1), s)
        return max(s, self._rfloor.get(key, -1))

    def partitions(self, start: dict, end: dict):
        if self.segmented:
            s, e = start["offset"], end["offset"]
            lo = self._observe_batch(s, e)
            # checkpoint restart may hand us offsets before any
            # latestOffset probe — build the index on demand
            return _segment_partitions(self._seg_index(), lo, max(lo, e), self.num_partitions)
        if self.regions:
            # O4 — per-region CommonOffsetRange alignment
            # (MLSQLHBaseWALDataSource.scala:220-241): a region present
            # only in `end` is new and starts from the initial offset;
            # one partition per region (":248 parallelize per region")
            out = []
            rolled = self._region_index() if self.region_rolled else None
            spans: list[tuple[tuple[int, str], int, int]] = []  # ((region, path), lo, hi)
            for r in range(self.regions):
                key = f"r{r}"
                s = start.get(key, self.start_offset)
                raw_e = end.get(key, s)
                s = self._observe_region_batch(key, s, raw_e)
                e = max(s, raw_e)
                if rolled is not None:
                    # rolled-WAL: a partition NEVER spans a roll
                    # boundary, and each task opens exactly one file of
                    # its own region's directory (structural pruning:
                    # no other region's data is even reachable from the
                    # task's path).  Subdivision below.
                    r_spans = [
                        ((r, seg["path"]), max(s, seg["min"]), min(e, seg["max"] + 1))
                        for seg in rolled[r]
                        if max(s, seg["min"]) < min(e, seg["max"] + 1)
                    ]
                    if not r_spans:
                        out.append(
                            OffsetRangePartition(
                                s, s, self.path, region=r, n_regions=self.regions
                            )
                        )
                    spans.extend(r_spans)
                    continue
                out.append(
                    OffsetRangePartition(s, e, self.path, region=r, n_regions=self.regions)
                )
            if rolled is not None and spans:
                # ``numPartitions`` is the TOTAL task budget for the
                # batch (guide §2.6): (region, file) spans are
                # subdivided proportionally to their event-id length —
                # regions own ~1/n_regions of the ids in any span, so
                # length tracks rows.  One task per span is the floor,
                # so the default budget (4) keeps the historical
                # one-task-per-(region, file) shape while a budget of
                # defaultParallelism fans a big batch out to the
                # cluster.  Splits stay within one file; the range
                # predicate prunes row groups, so subtasks don't re-read
                # each other's data.  Unlike the single-offset modes the
                # budget is not scaled down by event count.
                out.extend(
                    OffsetRangePartition(lo, hi, path, region=r, n_regions=self.regions)
                    for (r, path), lo, hi in _split_spans(spans, self.num_partitions)
                )
            return out
        s, e = start["offset"], end["offset"]
        return _offset_partitions(self.path, self._observe_batch(s, e), e, self.num_partitions)

    def read(self, partition: OffsetRangePartition):
        if partition.end <= partition.start:
            return iter(())
        filters = self.filters
        if partition.region is not None:
            filters = dict(filters, region=partition.region, n_regions=partition.n_regions)
        return _read_range(partition.path, partition.start, partition.end, filters)

    def commit(self, end: dict) -> None:
        # replayable backing store -> nothing to clean up (the reference
        # needed WAL cleanup here, BinlogWriteAheadLog.scala:36-49).
        # With floorDir: persist the committed end as the durable read
        # floor — only AFTER Spark declares the batch durable (a crash
        # replay of an uncommitted batch must still re-deliver), and
        # never backwards (catch-up batches after a restart commit ends
        # below the old position).  Atomic tmp+rename: a torn floor
        # file would silently disable the clamp.
        if not self.floor_dir:
            return
        if self.regions:
            # region map: merge committed ends into the per-region
            # floors, monotonically, and persist as a JSON map
            changed = False
            for k, v in end.items():
                if isinstance(v, int) and v > self._rfloor.get(k, -1):
                    self._rfloor[k] = v
                    changed = True
            if changed:
                tmp = os.path.join(self.floor_dir, "_floor.tmp")
                with open(tmp, "w") as fh:
                    fh.write(json.dumps(self._rfloor))
                os.replace(tmp, os.path.join(self.floor_dir, "floor"))
            return
        off = end.get("offset")
        if off is not None and off > self._floor:
            self._floor = off
            tmp = os.path.join(self.floor_dir, "_floor.tmp")
            with open(tmp, "w") as fh:
                fh.write(str(off))
            os.replace(tmp, os.path.join(self.floor_dir, "floor"))


class BinlogFixtureBatchReader(DataSourceReader):
    """Batch view of the same stream (bounded replay, e.g. bootstrap)."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("binlog_fixture requires option 'path'")
        self.num_partitions = int(options.get("numpartitions", options.get("numPartitions", 4)))
        self.start = int(options.get("startingoffset", options.get("startingOffset", 0)))
        self.end = int(options.get("endingoffset", options.get("endingOffset", 1 << 62)))
        self.filters = _parse_filters(options)

    def partitions(self):
        e = min(self.end, _probe_end(self.path))
        return _offset_partitions(self.path, self.start, e, self.num_partitions)

    def read(self, partition: OffsetRangePartition):
        if partition.end <= partition.start:
            return iter(())
        return _read_range(partition.path, partition.start, partition.end, self.filters)


class BinlogFixtureDataSource(DataSource):
    """spark.readStream.format("binlog_fixture").option("path", ...).load()"""

    @classmethod
    def name(cls) -> str:
        return "binlog_fixture"

    def schema(self) -> str:
        # fixed single-column schema; user schemas rejected just like
        # MLSQLBinLogDataSource.scala:36-44
        return "value string"

    def streamReader(self, schema) -> BinlogFixtureStreamReader:
        return BinlogFixtureStreamReader(self.options)

    def reader(self, schema) -> BinlogFixtureBatchReader:
        return BinlogFixtureBatchReader(self.options)


def region_partition_dataset(spark, src_path: str, dest_dir: str, n_regions: int) -> str:
    """Rewrite an events table hive-partitioned by region (user_id %
    n_regions) — the layout a real HBase deployment already has (one WAL
    directory per region, MLSQLHBaseWALDataSource's per-region readers).

    DISTRIBUTED rewrite: ``partitionBy("region")`` lands each region in
    its own ``region=N`` directory with every task writing only its own
    rows — nothing ever materializes on the driver, so the same call
    works on a 100 TB store (the earlier pyarrow form pulled the whole
    table into driver memory).  The ``repartition`` on the partition key
    shuffles once so each region is one file, not one per task.
    pyarrow's dataset discovery skips Spark's ``_SUCCESS``/dot markers,
    so ``_read_range``'s pruned scans read the layout unchanged.

    With this layout each region task's scan is PRUNED to its own
    directory (see _read_range), eliminating the N-regions × full-scan
    read amplification of a flat store.  Returns ``dest_dir``.
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(src_path)
    (
        df.withColumn("region", F.col("user_id") % n_regions)
        .repartition("region")
        .write.partitionBy("region")
        .mode("overwrite")
        .parquet(dest_dir)
    )
    return dest_dir


def register(spark) -> None:
    """Register the Python DataSource AND ship the package to the
    Python workers.

    The DataSource's reader runs inside executor-side Python workers,
    which import ``spark_binlog_spark`` from THEIR sys.path — not the
    driver's.  Running from the repo root hides the problem (cwd is on
    the worker path); any other cwd, or a real multi-executor cluster,
    fails the first streaming query with an opaque AnalysisException.
    ``addPyFile`` of a once-per-session package zip makes registration
    location-independent — the same mechanism that ships the package
    to a 1000-executor cluster."""
    sc = spark.sparkContext
    if not getattr(sc, "_spark_binlog_pyfile_shipped", False):
        import os
        import tempfile
        import zipfile

        import spark_binlog_spark as pkg

        pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
        fd, zpath = tempfile.mkstemp(prefix="spark_binlog_spark_", suffix=".zip")
        os.close(fd)
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_STORED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        "spark_binlog_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
        sc.addPyFile(zpath)
        sc._spark_binlog_pyfile_shipped = True
    # addPyFile covers the executor-side partition readers, but the
    # PLANNER-side python_streaming_source_runner unpickles the
    # DataSource before any include reaches its sys.path — so the
    # class itself must ship by value inside the pickle.  Registering
    # this module with cloudpickle makes the pickled DataSource
    # self-contained (its referenced module globals ride along).
    import sys as _sys

    try:
        from pyspark import cloudpickle as _cp
    except ImportError:  # vendored location moved in some releases
        from pyspark.serializers import cloudpickle as _cp  # type: ignore
    _cp.register_pickle_by_value(_sys.modules[__name__])
    # NOTE: Python DataSources do not survive spark.newSession() — the
    # child session's exists-check sees the parent's registration
    # (re-register raises DATA_SOURCE_ALREADY_EXISTS) while its lookup
    # does NOT (reads fail DATA_SOURCE_NOT_FOUND).  Register and read
    # from the SAME session.  (DEVNOTES "Known one-off flake".)
    spark.dataSource.register(BinlogFixtureDataSource)
