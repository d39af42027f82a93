"""CDC operator queries (SURVEY.md §2.A/§2.B) with DuckDB oracle SQL.

Every function q_*(spark, sf_dir) -> DataFrame has a matching ORACLE[name]
ANSI-SQL string producing the same rows (same column names — the
correctness gate sorts columns by name and hash-compares values).

All queries derive the change stream via the shared contract in
``spark_binlog_spark.cdc`` (events table -> changes relation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_binlog_spark import POW13
from spark_binlog_spark.cdc import CHANGES_SQL, changes_df, load_table
from spark_binlog_spark.envelope import encode_envelope, envelope_schema
from spark_binlog_spark.operators import (
    cdc_apply,
    cell_run_rollup,
    event_type_filter,
    latest_image,
    max_offset_per_key,
    monotonic_dedup,
    offset_range,
    table_pattern_filter,
)
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

ORACLE: dict[str, str] = {}


def _pin(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# ---------------------------------------------------------------- S4 bootstrap
def q_bootstrap_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — batch bootstrap full-sync: snapshot scan + range repartition
    (README.md:128-153; repartitionByRange as in BinlogSuite.scala:96-102).
    Content is partitioning-invariant, which is exactly what the oracle
    checks."""
    _pin(spark)
    cust = load_table(spark, sf_dir, "customer")
    return cust.repartitionByRange(8, F.col("c_custkey"))


ORACLE["q_bootstrap_snapshot"] = "SELECT * FROM customer"


# ---------------------------------------------------------------- F1
def q_table_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — databaseNamePattern/tableNamePattern regex gate
    (BinLogSocketServerInExecutor.scala:219-237,277-281)."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    out = table_pattern_filter(ch, "^db_1$", "^t_(1|3)$")
    return out.select("cdc_offset", "database_name", "table_name")


ORACLE["q_table_filter"] = f"""
WITH changes AS ({CHANGES_SQL})
SELECT cdc_offset, database_name, table_name
FROM changes
WHERE regexp_matches(database_name, '^db_1$') AND regexp_matches(table_name, '^t_(1|3)$')
"""


# ---------------------------------------------------------------- F2
def q_event_type_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — keep only a subset of write kinds
    (BinLogSocketServerInExecutor.scala:239-257)."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    return event_type_filter(ch, ops=("insert", "delete")).select("cdc_offset", "pk", "op")


ORACLE["q_event_type_filter"] = f"""
WITH changes AS ({CHANGES_SQL})
SELECT cdc_offset, pk, op FROM changes WHERE op IN ('insert', 'delete')
"""


# ---------------------------------------------------------------- P1
def _project_decode_kernel(batches):
    """Arrow mirror of the P1 decode projection (see
    ``project_decode_wire_projection``) — one vectorized pass per batch
    instead of nine interpreted-or-allocating JVM expressions per row
    (guide §4.2; at sf10 the Catalyst chain costs ~1 s per expression
    class over 10M rows: StringDecode allocates a Java String + UTF8String
    re-encode per value, get_json_object runs Jackson per row, the BIT
    assembly round-trips through hex STRINGS).

    Value-identical to the Catalyst reference on the wire envelope,
    pinned by tests/test_decode.py::TestProjectDecodeKernel, including
    the byte-length edge semantics measured from Catalyst itself:
    bits_raw of length 0 -> b0 and b1 null; length 1 -> b0 valid, bitn
    null; length >= 2 -> first two bytes; null row -> all null.  Outside
    the envelope: a non-integer ``$.k`` yields null here while the ANSI
    Catalyst cast raises (the wire only carries integer k)."""
    import numpy as np
    import orjson
    import pyarrow as pa
    import pyarrow.compute as pc

    loads = orjson.loads
    for b in batches:
        n = b.num_rows
        pk = b.column("pk")
        # k: $.k extract + long cast (integer-or-absent on this wire)
        ks = []
        app = ks.append
        for s in b.column("props").to_pylist():
            v = None
            if s is not None:
                try:
                    v = loads(s).get("k")
                except Exception:
                    v = None
                if v is not None and not isinstance(v, int):
                    v = None
            app(v)
        k_arr = pa.array(ks, pa.int64())
        # BIT(16) little-endian assembly straight off the binary buffers
        bits = b.column("bits_raw")
        null_mask = bits.is_null().to_numpy(zero_copy_only=False)
        data = np.frombuffer(bits.buffers()[2] or b"", dtype=np.uint8)
        offs = np.frombuffer(bits.buffers()[1], dtype=np.int32)[
            bits.offset : bits.offset + n + 1
        ]
        lens = offs[1:] - offs[:-1]
        hi_cap = max(len(data) - 1, 0)
        i0 = np.minimum(offs[:-1], hi_cap)
        i1 = np.minimum(offs[:-1] + 1, hi_cap)
        b0 = data[i0].astype(np.int64) if len(data) else np.zeros(n, np.int64)
        b1 = data[i1].astype(np.int64) if len(data) else np.zeros(n, np.int64)
        b0_null = null_mask | (lens < 1)
        bitn_null = null_mask | (lens < 2)
        bit1 = pa.array((b0 & 1) == 1, mask=b0_null)
        bitn = pa.array(b0 + 256 * b1, type=pa.int64(), mask=bitn_null)
        # tiny: pk % 128 with Java remainder semantics (sign of dividend)
        pk_null = pk.is_null().to_numpy(zero_copy_only=False)
        pk_np = pk.fill_null(0).to_numpy()
        tiny = pa.array(np.fmod(pk_np, 128).astype(np.int32), mask=pk_null)
        # CHAR decode: utf-8 decode of binary IS the string cast; upper is
        # a vectorized Arrow kernel.  latin-1 is a per-row byte widening.
        dec_op = pc.utf8_upper(pc.cast(b.column("op_raw"), pa.string()))
        hi = pa.array(
            [None if v is None else v.decode("ISO-8859-1") for v in b.column("hi_raw").to_pylist()],
            pa.string(),
        )
        # date_format at second precision: truncate THEN format
        ts_str = pc.strftime(
            pc.cast(b.column("ts"), pa.timestamp("s"), safe=False),
            format="%Y-%m-%d %H:%M:%S",
        )
        yield pa.RecordBatch.from_arrays(
            [b.column("cdc_offset"), pk, k_arr, bit1, bitn, tiny, dec_op, hi, ts_str],
            ["cdc_offset", "pk", "k", "bit1", "bitn", "tiny", "decoded_op", "latin1_char", "ts_str"],
        )


_PROJECT_DECODE_SCHEMA = (
    "cdc_offset long, pk long, k long, bit1 boolean, bitn long, tiny int, "
    "decoded_op string, latin1_char string, ts_str string"
)


def project_decode_wire_projection(wire: DataFrame, kernel: bool = True) -> DataFrame:
    """The P1 decode projection over a wire relation carrying
    (cdc_offset, pk, props, ts, op_raw BINARY, hi_raw BINARY,
    bits_raw BINARY).  ``kernel=True`` (default) runs the fused Arrow
    pass (_project_decode_kernel); ``kernel=False`` is the Catalyst
    reference built from operators/decode.py — kept bit-for-bit
    equivalent on the wire envelope (TestProjectDecodeKernel)."""
    from spark_binlog_spark.operators.decode import (
        bit1_to_bool,
        bitn_to_long,
        decode_binary_columns,
    )

    if kernel:
        return wire.select(
            "cdc_offset", "pk", "props", "ts", "op_raw", "hi_raw", "bits_raw"
        ).mapInArrow(_project_decode_kernel, _PROJECT_DECODE_SCHEMA)
    decoded = decode_binary_columns(
        wire,
        ["op_raw", "hi_raw"],
        {"binlog.field.decode.op_raw": "utf-8", "binlog.field.decode.*": "ISO-8859-1"},
    )
    # BitSet.valueOf little-endian assembly: byte 0 holds bits 0-7
    hexs = F.hex(F.col("bits_raw"))
    b0 = F.conv(F.substring(hexs, 1, 2), 16, 10).cast("long")
    b1 = F.conv(F.substring(hexs, 3, 2), 16, 10).cast("long")
    return decoded.select(
        F.col("cdc_offset"),
        F.col("pk"),
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
        bit1_to_bool(b0).alias("bit1"),  # BIT(1) -> BooleanType
        bitn_to_long(b0 + b1 * 256).alias("bitn"),  # BIT(16) -> LongType
        (F.col("pk") % 128).cast("int").alias("tiny"),  # tinyint(1) -> IntegerType
        F.upper(F.col("op_raw")).alias("decoded_op"),  # decoded CHAR column
        F.col("hi_raw").alias("latin1_char"),  # per-column charset decode
        F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
    )


def q_project_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — row decode + projection over REAL wire bytes
    (MySQLCDCUtils.java:28-84): CHAR/BINARY arrive as raw byte arrays
    (compat mode CHAR_AND_BINARY_AS_BYTE_ARRAY) and are decoded per the
    ``binlog.field.decode.<col>`` charset options (SchemaTool.scala:43-50)
    via operators/decode.py; BIT(n) arrives as a byte array and is
    assembled little-endian (BitSet.valueOf, MySQLCDCUtils.java:45-53,
    bit-order probe Main2.java:11-27).  The query materializes binary
    columns first (encode / unhex), then decodes them — the decode logic
    itself is what the oracle checks.  r15: the decode projection runs
    as one Arrow kernel by default (guide §4.2 — measured 9.9 -> ~5 s
    over the 10M-row sf10 feed); the Catalyst reference stays available
    and pinned equal (project_decode_wire_projection(kernel=False))."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    # the wire: CHAR bytes (utf-8), a high-byte CHAR (latin-1), and a
    # 2-byte BIT(16) pattern [b0, b1]
    wire = ch.select(
        "cdc_offset",
        "pk",
        "props",
        "ts",
        F.encode(F.col("op"), "utf-8").alias("op_raw"),
        F.unhex(F.format_string("%02x", F.lit(128) + F.col("pk") % 128)).alias("hi_raw"),
        F.unhex(
            F.format_string("%02x%02x", F.col("pk") % 256, (F.col("pk") * 7) % 256)
        ).alias("bits_raw"),
    )
    return project_decode_wire_projection(wire)


ORACLE["q_project_decode"] = f"""
WITH changes AS ({CHANGES_SQL})
SELECT cdc_offset, pk,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       (pk % 2) = 1 AS bit1,
       CAST((pk % 256) + 256 * ((pk * 7) % 256) AS BIGINT) AS bitn,
       CAST(pk % 128 AS INTEGER) AS tiny,
       upper(op) AS decoded_op,
       chr(128 + CAST(pk % 128 AS INTEGER)) AS latin1_char,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
FROM changes
"""


# ---------------------------------------------------------------- P2
def q_update_after_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — UPDATE events emit after-images only
    (UpdateRowsWriter.java:45-62, esp. :54-57)."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    return ch.filter(F.col("op") == "update").select(
        F.col("cdc_offset"),
        F.col("pk"),
        F.col("value").alias("after_value"),
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("after_k"),
    )


ORACLE["q_update_after_image"] = f"""
WITH changes AS ({CHANGES_SQL})
SELECT cdc_offset, pk, value AS after_value,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS after_k
FROM changes WHERE op = 'update'
"""


# ---------------------------------------------------------------- P3
def q_flatten_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — one event with N rows -> N records (InsertRowsWriter.java:32-39):
    explode a per-event rows index (1 + event_id % 3 rows)."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    return ch.select(
        F.col("cdc_offset"),
        F.col("pk"),
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("cdc_offset") % 3)).alias("row_idx"),
    ).select(
        "cdc_offset",
        "row_idx",
        (F.col("pk") + F.col("row_idx")).alias("row_pk"),
    )


ORACLE["q_flatten_rows"] = f"""
WITH changes AS ({CHANGES_SQL}),
exploded AS (
  SELECT cdc_offset, pk, unnest(range(0, cdc_offset % 3 + 1)) AS row_idx FROM changes
)
SELECT cdc_offset, row_idx, pk + row_idx AS row_pk FROM exploded
"""


# ---------------------------------------------------------------- P4 + D1
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 -> D1 — encode the envelope with to_json
    (AbstractEventWriter.java:16-56), parse it back with from_json, project
    the payload.  The oracle computes the fields directly: the roundtrip
    must be the identity."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    row_schema = StructType(
        [StructField("pk", LongType()), StructField("value", DoubleType())]
    )
    enveloped = ch.select(
        F.col("cdc_offset"),
        encode_envelope(
            op=F.col("op"),
            timestamp_ms=F.col("cdc_offset"),
            database_name=F.col("database_name"),
            table_name=F.col("table_name"),
            rows=F.array(F.struct(F.col("pk").alias("pk"), F.col("value").alias("value"))),
        ).alias("value"),
    )
    # parse ONCE into a struct column in its own projection — referencing
    # the from_json expression per output field would re-parse the JSON
    # for every field (CollapseProject keeps this split because from_json
    # is non-cheap and multi-referenced)
    env = F.from_json(F.col("value"), envelope_schema(row_schema))
    parsed = enveloped.select(F.col("cdc_offset"), env.alias("env"))
    return parsed.select(
        F.col("cdc_offset"),
        F.col("env.type").alias("r_op"),
        F.col("env.timestamp").alias("r_ts"),
        F.col("env.databaseName").alias("r_db"),
        F.col("env.tableName").alias("r_table"),
        F.col("env.rows")[0]["pk"].alias("r_pk"),
        F.col("env.rows")[0]["value"].alias("r_value"),
    )


ORACLE["q_json_roundtrip"] = f"""
WITH changes AS ({CHANGES_SQL})
SELECT cdc_offset, op AS r_op, cdc_offset AS r_ts, database_name AS r_db,
       table_name AS r_table, pk AS r_pk, value AS r_value
FROM changes
"""


# ---------------------------------------------------------------- O1
def q_offset_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — BinlogOffset packing: offset = fileId*10^13 + pos, filename
    '<prefix>.%06d', and the decode inverse (protocols.scala:6-26)."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    df = ch.select(
        F.col("cdc_offset"),
        (F.expr("cdc_offset div 1000") + 1).alias("file_id"),
        ((F.col("cdc_offset") % 1000) * 4 + 4).alias("pos"),
    )
    df = df.withColumn("packed_offset", F.col("file_id") * F.lit(POW13) + F.col("pos"))
    return df.select(
        "cdc_offset",
        "file_id",
        "pos",
        "packed_offset",
        F.format_string("mysql-bin.%06d", F.col("file_id")).alias("file_name"),
        F.expr(f"packed_offset div {POW13}").alias("rt_file_id"),
        (F.col("packed_offset") % POW13).alias("rt_pos"),
    )


ORACLE["q_offset_encode"] = f"""
WITH changes AS ({CHANGES_SQL}),
enc AS (
  SELECT cdc_offset, cdc_offset // 1000 + 1 AS file_id, (cdc_offset % 1000) * 4 + 4 AS pos
  FROM changes
)
SELECT cdc_offset, file_id, pos,
       file_id * {POW13} + pos AS packed_offset,
       'mysql-bin.' || lpad(CAST(file_id AS VARCHAR), 6, '0') AS file_name,
       (file_id * {POW13} + pos) // {POW13} AS rt_file_id,
       (file_id * {POW13} + pos) % {POW13} AS rt_pos
FROM enc
"""


_SEG_STORE_CACHE: dict[tuple, tuple[tuple, str, int]] = {}


def _tmpdir(prefix: str) -> str:
    """mkdtemp registered for atexit removal — the stream queries make
    per-call checkpoint/scratch dirs, and a long bench process would
    otherwise accumulate them for its whole lifetime."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _segmented_store(events_path: str, n_segments: int = 4) -> tuple[str, int]:
    """Build (once per process per source table) the rotating-binlog
    fixture layout for the probe/replay queries — repeated parity and
    bench sweeps reuse the same store instead of re-splitting the events
    table per call.  Returns (seg_dir, eps)."""
    import os
    import shutil

    from spark_binlog_spark.sources.binlog_fixture import write_segments

    st = os.stat(events_path)
    # mtime+size in the freshness stamp: a fixture regenerated in-place
    # at the same path must invalidate the cached split — and the
    # superseded split's directory must go, not leak (one stale dir per
    # regeneration otherwise)
    key = (events_path, n_segments)
    stamp = (st.st_mtime_ns, st.st_size)
    hit = _SEG_STORE_CACHE.get(key)
    if hit is None or hit[0] != stamp:
        if hit is not None:
            shutil.rmtree(hit[1], ignore_errors=True)
        seg_dir = _tmpdir("binlog_seg_")
        eps = write_segments(events_path, seg_dir, n_segments=n_segments)
        _SEG_STORE_CACHE[key] = (stamp, seg_dir, eps)
    return _SEG_STORE_CACHE[key][1:]


# ---------------------------------------------------------------- O2
def q_latest_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — latest-offset probe over a ROTATING binlog: the event log
    split into four real ``mysql-bin.%06d`` segment files, probed from
    parquet FOOTER METADATA only (the same statistics probe the
    streaming reader's ``latestOffset`` runs each trigger,
    BinLogSocketServerInExecutor.scala:413-427), reporting each file's
    packed (fileId, pos) composite offsets — fileId advances across
    rotation boundaries, pos restarts at 4 per file
    (protocols.scala:6-26; ROTATE handling
    BinLogSocketServerInExecutor.scala:252-255).  The probe is
    driver-side and metadata-only by design — exactly what the real
    ``latestOffset`` does per planning round; no event data is read
    (the segmented store itself is cached fixture prep, built once per
    process by ``_segmented_store``)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from spark_binlog_spark.sources.binlog_fixture import _segment_index

    _pin(spark)
    seg_dir, _eps = _segmented_store(f"{sf_dir}/events.parquet")
    index = _segment_index(seg_dir)
    rows = [
        (
            s["fid"],
            f"mysql-bin.{s['fid']:06d}",
            s["rows"],
            s["fid"] * POW13 + 4,
            s["fid"] * POW13 + (s["max"] - s["min"] + 4),
            s["fid"] * POW13 + (s["max"] - s["min"] + 5),
        )
        for s in index
    ]
    schema = StructType(
        [
            StructField("file_id", LongType()),
            StructField("file_name", StringType()),
            StructField("n_events", LongType()),
            StructField("packed_first", LongType()),
            StructField("packed_last", LongType()),
            StructField("packed_next", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


# the oracle mirrors write_segments' split rule arithmetically:
# file for event e = e div eps + 1, eps = ceil((max+1)/4); pos of e =
# (e - file_min) + 4
ORACLE["q_latest_offset"] = f"""
WITH m AS (SELECT max(event_id) + 1 AS n FROM events),
seg AS (
  SELECT event_id // ((n + 3) // 4) + 1 AS file_id,
         count(*) AS n_events,
         min(event_id) AS mn, max(event_id) AS mx
  FROM events, m GROUP BY 1
)
SELECT file_id,
       'mysql-bin.' || lpad(CAST(file_id AS VARCHAR), 6, '0') AS file_name,
       n_events,
       file_id * {POW13} + 4 AS packed_first,
       file_id * {POW13} + (mx - mn + 4) AS packed_last,
       file_id * {POW13} + (mx - mn + 5) AS packed_next
FROM seg
"""


# ---------------------------------------------------------------- O3
def q_offset_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 — the micro-batch contract: half-open [start, end) offset scan
    (BinLogSocketServerInExecutor.scala:436-447).  Literal bounds push
    down to the parquet scan."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    return offset_range(ch, 2500, 7500).select("cdc_offset", "pk", "op")


ORACLE["q_offset_range"] = f"""
WITH changes AS ({CHANGES_SQL})
SELECT cdc_offset, pk, op FROM changes WHERE cdc_offset >= 2500 AND cdc_offset < 7500
"""


# ---------------------------------------------------------------- O4
def q_partition_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 — per-partition offset ranges from (from, until) maps; new
    partitions start at -1 (MLSQLHBaseWALDataSource.scala:220-241).
    Region key = 'r_' || pk % 8 (HBase region stand-in)."""
    _pin(spark)
    ch = changes_df(spark, sf_dir).withColumn(
        "region", F.concat(F.lit("r_"), (F.col("pk") % 8).cast("string"))
    )
    half = ch.agg(F.floor(F.max("cdc_offset") / 2).cast("long").alias("half"))
    from_map = (
        ch.crossJoin(F.broadcast(half))
        .filter(F.col("cdc_offset") < F.col("half"))
        .groupBy("region")
        .agg(F.max("cdc_offset").alias("offset"))
    )
    until_map = ch.groupBy("region").agg((F.max("cdc_offset") + 1).alias("offset"))
    from spark_binlog_spark.operators import partition_ranges

    return partition_ranges(from_map, until_map, partition_col="region")


ORACLE["q_partition_ranges"] = f"""
WITH changes AS ({CHANGES_SQL}),
regioned AS (SELECT *, 'r_' || CAST(pk % 8 AS VARCHAR) AS region FROM changes),
half AS (SELECT CAST(floor(max(cdc_offset) / 2) AS BIGINT) AS half FROM regioned),
fmap AS (SELECT region, max(cdc_offset) AS from_offset FROM regioned, half
         WHERE cdc_offset < half GROUP BY region),
umap AS (SELECT region, max(cdc_offset) + 1 AS until_offset FROM regioned GROUP BY region)
SELECT coalesce(f.region, u.region) AS region,
       coalesce(f.from_offset, -1) AS from_offset,
       u.until_offset AS until_offset
FROM fmap f FULL OUTER JOIN umap u ON f.region = u.region
"""


# ---------------------------------------------------------------- O5
def q_max_offset_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 — committedOffsets recovery: max offset per key
    (OriginalSourceServerInExecutor.scala:56-79)."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    return max_offset_per_key(ch, "pk")


ORACLE["q_max_offset_per_key"] = f"""
WITH changes AS ({CHANGES_SQL})
SELECT pk, max(cdc_offset) AS max_offset FROM changes GROUP BY pk
"""


# ---------------------------------------------------------------- O6
def q_monotonic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 — at-least-once replay -> effectively-once: the even-offset half
    of the stream is replayed (doubled) and deduped on (key, offset)
    (OriginalSourceServerInExecutor.scala:164-171)."""
    _pin(spark)
    ch = changes_df(spark, sf_dir).select("pk", "cdc_offset", "op")
    replayed = ch.unionByName(ch.filter(F.col("cdc_offset") % 2 == 0))
    return monotonic_dedup(replayed, "pk")


ORACLE["q_monotonic_dedup"] = f"""
WITH changes AS ({CHANGES_SQL}),
replayed AS (
  SELECT pk, cdc_offset, op FROM changes
  UNION ALL
  SELECT pk, cdc_offset, op FROM changes WHERE cdc_offset % 2 = 0
)
SELECT DISTINCT pk, cdc_offset, op FROM replayed
"""


# ---------------------------------------------------------------- P5
def q_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — HBase adjacent cell-run grouping (HBaseWALClient.scala:157-203):
    consecutive same-(rowkey, op) events fold into one row event."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    return cell_run_rollup(ch.select("cdc_offset", "pk", "op"))


ORACLE["q_cell_rollup"] = f"""
WITH changes AS ({CHANGES_SQL}),
flagged AS (
  SELECT cdc_offset, pk, op,
         CASE WHEN lag(pk) OVER w IS NULL
                   OR lag(pk) OVER w != pk
                   OR lag(op) OVER w != op THEN 1 ELSE 0 END AS brk
  FROM changes
  WINDOW w AS (ORDER BY cdc_offset)
),
runs AS (
  SELECT *, CAST(sum(brk) OVER (ORDER BY cdc_offset
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
  FROM flagged
)
SELECT run_id, min(pk) AS rowkey, min(op) AS op, count(*) AS n_cells,
       min(cdc_offset) AS from_offset, max(cdc_offset) AS to_offset
FROM runs GROUP BY run_id
"""


# ---------------------------------------------------------------- P5 regional
def q_cell_rollup_regional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 at scale: the SAME run grouping with the window PARTITIONED by
    region (region = 'r_' || pk % 8) — each region's WAL order is
    independent, exactly how the reference reads per-region WAL files
    (HBaseWALClient.scala:66,128), so state shards across executors
    instead of serializing on one global sort."""
    _pin(spark)
    ch = changes_df(spark, sf_dir).withColumn(
        "region", F.concat(F.lit("r_"), (F.col("pk") % 8).cast("string"))
    )
    return cell_run_rollup(
        ch.select("region", "cdc_offset", "pk", "op"), partition_cols=["region"]
    )


ORACLE["q_cell_rollup_regional"] = f"""
WITH changes AS ({CHANGES_SQL}),
regioned AS (SELECT *, 'r_' || CAST(pk % 8 AS VARCHAR) AS region FROM changes),
flagged AS (
  SELECT region, cdc_offset, pk, op,
         CASE WHEN lag(pk) OVER w IS NULL
                   OR lag(pk) OVER w != pk
                   OR lag(op) OVER w != op THEN 1 ELSE 0 END AS brk
  FROM regioned
  WINDOW w AS (PARTITION BY region ORDER BY cdc_offset)
),
runs AS (
  SELECT *, CAST(sum(brk) OVER (PARTITION BY region ORDER BY cdc_offset
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
  FROM flagged
)
SELECT region, run_id, min(pk) AS rowkey, min(op) AS op, count(*) AS n_cells,
       min(cdc_offset) AS from_offset, max(cdc_offset) AS to_offset
FROM runs GROUP BY region, run_id
"""


# ------------------------------------------------------- S2 binary WAL e2e
def wal_blob_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 1 of the S2 binary chain, exposed separately so a bench
    (or a user replaying stored WALs) can materialize the blobs ONCE
    and time only read -> parse -> rollup (VERDICT r12 ask #7: in
    production the bytes already exist on disk; timing their synthesis
    inside the query misread as a 5 s parse).  One spec-correct WAL
    blob per input partition via a file-granular Arrow pass."""
    _pin(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )

    def synth(batches):
        import pandas as _pd

        from spark_binlog_spark.sources.hbase_wal_format import (
            METAFAMILY,
            TYPE_DELETE,
            TYPE_PUT,
            WalCell,
            WalEntry,
            write_wal_file,
        )

        for pdf in batches:
            entries = []
            for eid, uid, etype in zip(
                pdf["event_id"], pdf["user_id"], pdf["event_type"]
            ):
                eid, uid = int(eid), int(uid)
                row = str(uid).encode()
                v1 = str(uid * 7 + eid).encode()
                v2 = str(eid % 97).encode()
                t1 = TYPE_DELETE if etype == "error" else TYPE_PUT
                t2 = TYPE_PUT if etype not in ("error", "purchase") else TYPE_DELETE
                cells = (
                    WalCell(row, METAFAMILY, b"meta", eid, TYPE_PUT, b"skip-me"),
                    WalCell(row, b"cf", b"a", eid, t1, v1),
                    WalCell(row, b"cf", b"b", eid, t2, v2),
                )
                entries.append(
                    WalEntry(
                        region=b"r_%d" % (uid % 4),
                        table=b"demo",
                        seqnum=eid,
                        write_time=eid * 1000 + 7,
                        cells=cells,
                    )
                )
            # one blob per ~2k events, not per Arrow batch (r14): the
            # blob is the parse-parallelism unit downstream — a 10k-row
            # batch emitting ONE blob caps the sf0.1 parse at 10 tasks
            # and the sf10 parse at ~100 regardless of cores
            chunk = 2000
            yield _pd.DataFrame(
                {
                    "content": [
                        write_wal_file(entries[i : i + chunk])
                        for i in range(0, len(entries), chunk)
                    ]
                },
                columns=["content"],
            )

    return ev.mapInPandas(synth, "content binary")


def wal_parse_rollup(blobs: DataFrame) -> DataFrame:
    """Stages 2+3 of the S2 binary chain over a ``content binary``
    relation (freshly synthesized or read back from disk): read_wal_file
    + entries_to_events run folds in a file-granular Arrow pass, then
    the per-(region, op) rollup in pure Catalyst."""

    def parse(batches):
        import pandas as _pd

        from spark_binlog_spark.sources.hbase_wal_format import (
            entries_to_events,
            read_wal_file,
        )

        for pdf in batches:
            regions: list = []
            seqnums: list = []
            ops: list = []
            rowkeys: list = []
            n_cells: list = []
            val_sums: list = []
            for blob in pdf["content"]:
                for e in entries_to_events(read_wal_file(bytes(blob))):
                    regions.append(e["region"].decode())
                    seqnums.append(e["seqnum"])
                    ops.append(e["op"])
                    rowkeys.append(int(e["row"]))
                    cells = e["cells"]
                    n_cells.append(len(cells))
                    val_sums.append(sum(int(c.value) for c in cells))
            yield _pd.DataFrame(
                {
                    "region": regions,
                    "seqnum": seqnums,
                    "op": ops,
                    "rowkey": rowkeys,
                    "n_cells": n_cells,
                    "val_sum": val_sums,
                }
            )

    from spark_binlog_spark.functions.dedup import spread_small_input

    # parallelism is bounded by blob-file splits, not cores: the bench's
    # cached blob table is ONE parquet file (the sf0.1 parse ran in one
    # task, paying the whole 2.9 s single-threaded); redistribute the
    # bounded blob rows once before the per-blob Arrow parse
    events = spread_small_input(blobs).mapInPandas(
        parse,
        "region string, seqnum long, op string, rowkey long, "
        "n_cells long, val_sum long",
    )
    return events.groupBy("region", "op").agg(
        F.count("*").alias("n_events"),
        F.sum("n_cells").alias("total_cells"),
        F.sum("val_sum").alias("total_val"),
        F.max("seqnum").alias("max_seq"),
    )


def q_wal_binary_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 end-to-end over REAL ProtobufLogWriter WAL BYTES (VERDICT r11
    ask #5): stage 1 synthesizes spec-correct binary WAL files from the
    events table with the in-repo writer (sources/hbase_wal_format.py
    write_wal_file — magic, delimited WALHeader/WALKey protobufs,
    KeyValue cells; ``wal_blob_synth``); stages 2+3 parse them back with
    read_wal_file + entries_to_events (the reference's WAL.Entry ->
    row-event mapping, HBaseWALClient.scala:157-203: consecutive
    same-row same-kind cell runs fold into one event, METAFAMILY cells
    skipped) and roll the recovered events up per (region, op) in pure
    Catalyst (``wal_parse_rollup``).  Each entry plants one META cell
    (must be skipped) and two data cells — same kind for error/other
    rows (ONE event, n_cells=2), put+delete for purchase rows (TWO
    events, the run-break case) — so the oracle, which recomputes the
    expectation straight from events arithmetic, grades the binary
    parse AND the run grouping, not just the agg.  Both mapInPandas
    stages are file-granular Arrow passes: at corpus scale each WAL
    blob decodes independently, exactly like the WARC and image decode
    paths.  NOTE the synthesis stage runs INSIDE this query (that is
    what lets the oracle grade the parse from events arithmetic);
    bench.py times the production shape instead — blobs cached on disk
    once, then read -> wal_parse_rollup (BASELINE.md r13 note)."""
    return wal_parse_rollup(wal_blob_synth(spark, sf_dir))


ORACLE["q_wal_binary_rollup"] = """
WITH e AS (
  SELECT event_id, user_id, event_type,
         'r_' || CAST(user_id % 4 AS VARCHAR) AS region,
         user_id * 7 + event_id AS v1,
         event_id % 97 AS v2
  FROM events
),
ev AS (  -- one row per ROW EVENT, mirroring entries_to_events' run folds
  SELECT region, event_id AS seqnum,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'put' END AS op,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 2 END AS n_cells,
         CASE WHEN event_type = 'purchase' THEN v1 ELSE v1 + v2 END AS val_sum
  FROM e
  UNION ALL  -- purchase entries break into a second (delete) run
  SELECT region, event_id, 'delete', 1, v2 FROM e WHERE event_type = 'purchase'
)
SELECT region, op, count(*) AS n_events,
       CAST(sum(n_cells) AS BIGINT) AS total_cells,
       CAST(sum(val_sum) AS BIGINT) AS total_val,
       max(seqnum) AS max_seq
FROM ev GROUP BY region, op
"""


# ---------------------------------------------------------------- D1
_ENV_ROW_SCHEMA = StructType(
    [StructField("pk", LongType()), StructField("value", DoubleType())]
)
_ENV_ROW_SCHEMA_JSON = _ENV_ROW_SCHEMA.json()


def q_envelope_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 — parse the JSON payload column into typed fields with from_json
    (what every consumer does first, BinlogSuite.scala:208-216), INCLUDING
    the reference's per-event embedded schema: every MySQL event carries
    the row StructType JSON (AbstractEventWriter.java:35-39), and
    downstream discovers column types from the event itself — the
    tinyint(1)->int discovery mechanism.  Round-trips the envelope with
    the schema embedded, then extracts field #2's name/type from the
    SHIPPED schema string (the BinlogSuite.scala:208-216 assertion as a
    query)."""
    _pin(spark)
    ev = load_table(spark, sf_dir, "events")
    enveloped = ev.select(
        F.col("event_id").alias("cdc_offset"),
        F.col("props"),
        encode_envelope(
            op=F.lit("insert"),
            timestamp_ms=F.col("event_id"),
            database_name=F.lit("db"),
            table_name=F.lit("t"),
            rows=F.array(
                F.struct(
                    F.col("user_id").cast("long").alias("pk"),
                    F.col("value").cast("double").alias("value"),
                )
            ),
            schema_json=F.lit(_ENV_ROW_SCHEMA_JSON),
        ).alias("wire"),
    )
    env = F.from_json(F.col("wire"), envelope_schema(_ENV_ROW_SCHEMA))
    parsed = enveloped.select("cdc_offset", "props", env.alias("env"))
    return parsed.select(
        F.col("cdc_offset"),
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
        F.col("props").isNotNull().alias("has_payload"),
        # type discovery FROM THE EVENT: parse the shipped schema JSON
        F.get_json_object(F.col("env.schema"), "$.fields[1].name").alias("col2_name"),
        F.get_json_object(F.col("env.schema"), "$.fields[1].type").alias("col2_type"),
        F.col("env.rows")[0]["pk"].alias("r_pk"),
    )


ORACLE["q_envelope_parse"] = f"""
SELECT event_id AS cdc_offset,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       props IS NOT NULL AS has_payload,
       json_extract_string('{_ENV_ROW_SCHEMA_JSON}', '$.fields[1].name') AS col2_name,
       json_extract_string('{_ENV_ROW_SCHEMA_JSON}', '$.fields[1].type') AS col2_type,
       user_id AS r_pk
FROM events
"""


# ---------------------------------------------------------------- D2
def q_route_by_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 — multi-table routing: one stream fans out to per-table sinks
    'mysql_{db}.{table}' (README.md:62-67,90-91)."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    return ch.groupBy("database_name", "table_name").agg(F.count("*").alias("n_rows")).select(
        "database_name",
        "table_name",
        F.concat(F.lit("mysql_"), F.col("database_name"), F.lit("."), F.col("table_name")).alias(
            "sink_table"
        ),
        "n_rows",
    )


ORACLE["q_route_by_table"] = f"""
WITH changes AS ({CHANGES_SQL})
SELECT database_name, table_name,
       'mysql_' || database_name || '.' || table_name AS sink_table,
       count(*) AS n_rows
FROM changes GROUP BY database_name, table_name
"""


# ---------------------------------------------------------------- D3
def q_latest_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 — latest change per primary key by offset order (the idCols
    upsert precondition, README.md:64,93)."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    li = latest_image(ch, ["pk"])
    return li.select(
        "pk",
        F.col("cdc_offset").alias("last_offset"),
        F.col("op").alias("last_op"),
        F.col("value").alias("last_value"),
    )


ORACLE["q_latest_image"] = f"""
WITH changes AS ({CHANGES_SQL}),
ranked AS (
  SELECT pk, cdc_offset, op, value,
         row_number() OVER (PARTITION BY pk ORDER BY cdc_offset DESC) AS rn
  FROM changes
)
SELECT pk, cdc_offset AS last_offset, op AS last_op, value AS last_value
FROM ranked WHERE rn = 1
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 materialization of the change stream: one version row
    per non-delete change, valid over [own offset, key's next change),
    open latest version flagged current; a delete closes the previous
    version without emitting one.  The audit-trail generalization of
    D3 (operators/images.py scd2_history) — 'how did this row look at
    offset X' over the same single key-partitioned window shuffle."""
    from spark_binlog_spark.operators import scd2_history

    _pin(spark)
    ch = changes_df(spark, sf_dir)
    return scd2_history(ch, key_col="pk", value_cols=["value"])


ORACLE["q_scd2_history"] = f"""
WITH changes AS ({CHANGES_SQL}),
versions AS (
  SELECT pk, op, value, cdc_offset AS valid_from,
         lead(cdc_offset) OVER (PARTITION BY pk ORDER BY cdc_offset) AS valid_to
  FROM changes
)
SELECT pk, value, valid_from, valid_to,
       (valid_to IS NULL) AS is_current
FROM versions WHERE op <> 'delete'
"""


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time reconstruction — "how did the table look at offset
    X": filter the SCD2 version intervals to valid_from <= X < valid_to
    (open intervals count).  X is pinned mid-stream (5000) so roughly
    half the keys resolve to an older version; the read is an interval
    filter over the history relation, no recompute of the change
    stream."""
    from spark_binlog_spark.operators import scd2_history

    _pin(spark)
    ch = changes_df(spark, sf_dir)
    hist = scd2_history(ch, key_col="pk", value_cols=["value"])
    as_of = 5000
    return hist.filter(
        (F.col("valid_from") <= as_of)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > as_of))
    ).select("pk", "value", "valid_from")


ORACLE["q_time_travel"] = f"""
WITH changes AS ({CHANGES_SQL}),
versions AS (
  SELECT pk, op, value, cdc_offset AS valid_from,
         lead(cdc_offset) OVER (PARTITION BY pk ORDER BY cdc_offset) AS valid_to
  FROM changes
)
SELECT pk, value, valid_from FROM versions
WHERE op <> 'delete' AND valid_from <= 5000
  AND (valid_to IS NULL OR valid_to > 5000)
"""


def q_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SCD2 maintenance under the batch oracle: the change
    stream arrives as two offset-ordered micro-batches (first half of
    offsets, then the second — one file per trigger) through a real
    Structured Streaming query into the incremental Scd2HistorySink
    (streaming/scd2_sink.py: close open versions whose key changed in
    the batch by appending closure rows, append new version rows,
    merge-on-read fold); the maintained history after the stream must
    hash-match the one-shot batch scd2_history recompute (the same
    oracle as q_scd2_history — VERDICT r5 ask #4)."""
    import glob
    import os

    from spark_binlog_spark.streaming.runner import run_files
    from spark_binlog_spark.streaming.scd2_sink import Scd2HistorySink

    _pin(spark)
    ch = changes_df(spark, sf_dir).select("pk", "value", "cdc_offset", "op")
    # offset midpoint split (NOT parity: SCD2's ordering contract is
    # per-key nondecreasing offsets across batches, which an offset
    # range split preserves and a parity split would violate)
    mid = ch.agg(F.max("cdc_offset")).collect()[0][0] // 2
    d = _tmpdir("scd2_stream_")
    batches = os.path.join(d, "changes")
    os.makedirs(batches)
    for i, pred in enumerate(
        [F.col("cdc_offset") <= mid, F.col("cdc_offset") > mid]
    ):
        out = os.path.join(d, f"w{i}")
        ch.filter(pred).coalesce(1).write.parquet(out)
        (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
        dst = os.path.join(batches, f"batch-{i}.parquet")
        os.replace(part, dst)
        # Spark's file stream orders candidates by mtime — pin ascending
        os.utime(dst, (1_000_000_000 + i * 100, 1_000_000_000 + i * 100))
    sink = run_files(
        spark,
        batches,
        "pk long, value double, cdc_offset long, op string",
        os.path.join(d, "ck"),
        Scd2HistorySink(spark, os.path.join(d, "store")),
    )
    return sink.history()


# identical oracle: the incremental history must equal the recompute
ORACLE["q_stream_scd2"] = ORACLE["q_scd2_history"]


def q_latest_image_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 with a COMPOSITE key: latest change per (database, table, pk)
    — the idCols="a,b,..." form of the delta-plus contract (README.md:64
    takes a comma-separated column list).  Same single window shuffle,
    keyed on all id columns."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    li = latest_image(ch, ["database_name", "table_name", "pk"])
    return li.select(
        "database_name",
        "table_name",
        "pk",
        F.col("cdc_offset").alias("last_offset"),
        F.col("op").alias("last_op"),
    )


ORACLE["q_latest_image_composite"] = f"""
WITH changes AS ({CHANGES_SQL}),
ranked AS (
  SELECT database_name, table_name, pk, cdc_offset, op,
         row_number() OVER (PARTITION BY database_name, table_name, pk
                            ORDER BY cdc_offset DESC) AS rn
  FROM changes
)
SELECT database_name, table_name, pk, cdc_offset AS last_offset, op AS last_op
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------- D4
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 — apply the change stream onto the customer snapshot: latest
    image per key, deletes drop the row, upserts overwrite c_acctbal
    (delta-plus contract, README.md:45,88-99)."""
    _pin(spark)
    base = load_table(spark, sf_dir, "customer")
    ch = changes_df(spark, sf_dir)
    return cdc_apply(base, ch, key_col="c_custkey", set_cols={"c_acctbal": "value"})


ORACLE["q_cdc_apply"] = f"""
WITH changes AS ({CHANGES_SQL}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY cdc_offset DESC) AS rn FROM changes
),
latest AS (SELECT * FROM ranked WHERE rn = 1),
untouched AS (
  SELECT cu.* FROM customer cu
  WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.pk = cu.c_custkey)
),
upserts AS (
  SELECT l.pk AS c_custkey, b.c_name, b.c_nationkey, l.value AS c_acctbal, b.c_mktsegment
  FROM latest l LEFT JOIN customer b ON b.c_custkey = l.pk
  WHERE l.op != 'delete'
)
SELECT * FROM untouched UNION ALL SELECT * FROM upserts
"""


# ---------------------------------------------------------------- D4 + MV
def q_mv_segment_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained materialized view: aggregate over the CDC-applied
    state (D4) — per-mktsegment balance totals AFTER replaying the
    change stream.  The downstream contract of a binlog pipeline: any
    view computed over the maintained table equals the same view over a
    fresh snapshot.  Plan: the MERGE-shaped apply (base never shuffled)
    feeding one partial+final hash agg."""
    _pin(spark)
    base = load_table(spark, sf_dir, "customer")
    ch = changes_df(spark, sf_dir)
    applied = cdc_apply(base, ch, key_col="c_custkey", set_cols={"c_acctbal": "value"})
    return applied.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        # DECIMAL ⊕-exact internally, integer-cents on the wire
        (F.sum(F.col("c_acctbal").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("total_balance_c"),
    )


ORACLE["q_mv_segment_balance"] = f"""
WITH changes AS ({CHANGES_SQL}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY cdc_offset DESC) AS rn FROM changes
),
latest AS (SELECT * FROM ranked WHERE rn = 1),
untouched AS (
  SELECT cu.* FROM customer cu
  WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.pk = cu.c_custkey)
),
upserts AS (
  SELECT l.pk AS c_custkey, b.c_name, b.c_nationkey, l.value AS c_acctbal, b.c_mktsegment
  FROM latest l LEFT JOIN customer b ON b.c_custkey = l.pk
  WHERE l.op != 'delete'
),
applied AS (SELECT * FROM untouched UNION ALL SELECT * FROM upserts)
SELECT c_mktsegment, count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_balance_c
FROM applied GROUP BY c_mktsegment
"""


def q_stream_mv_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END INCREMENTAL MV: run the streaming source through the
    per-key-delta aggregate sink (streaming/mv.py) to completion, then
    return the maintained aggregate.  Same oracle as
    q_mv_segment_balance — the incremental path must land on exactly
    the batch-recompute answer (DECIMAL arithmetic makes ⊕ exact)."""
    import tempfile

    from spark_binlog_spark.streaming.mv import IncrementalAggSink
    from spark_binlog_spark.streaming.pipeline import parse_stream, read_stream
    from spark_binlog_spark.streaming.runner import run_foreach_batch

    _pin(spark)
    base = load_table(spark, sf_dir, "customer")
    tmp = _tmpdir("mv_state_")
    sink = IncrementalAggSink(
        spark,
        f"{tmp}/state",
        f"{tmp}/agg",
        base,
        key_col="c_custkey",
        group_col="c_mktsegment",
        val_col="c_acctbal",
    )
    wire = read_stream(
        spark,
        f"{sf_dir}/events.parquet",
        numPartitions=_source_partitions(spark, f"{sf_dir}/events.parquet"),
    )
    run_foreach_batch(parse_stream(wire), sink, f"{tmp}/ck")
    return sink.current_agg().select(
        "c_mktsegment",
        F.col("n_rows").alias("n_customers"),
        (F.col("total") * 100).cast("long").alias("total_balance_c"),
    )


# identical oracle: the incremental result must equal the recompute
ORACLE["q_stream_mv_maintain"] = ORACLE["q_mv_segment_balance"]


def q_churned_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-ops surface (SURVEY §2.C): keys present in the snapshot but
    GONE after replaying the change stream — snapshot keys EXCEPT
    applied keys.  The churn/attrition report of a CDC pipeline;
    Catalyst rewrites EXCEPT into a left-anti aggregate, no custom
    code."""
    _pin(spark)
    base = load_table(spark, sf_dir, "customer")
    ch = changes_df(spark, sf_dir)
    applied = cdc_apply(base, ch, key_col="c_custkey", set_cols={"c_acctbal": "value"})
    return base.select("c_custkey").exceptAll(applied.select("c_custkey"))


ORACLE["q_churned_keys"] = f"""
WITH changes AS ({CHANGES_SQL}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY cdc_offset DESC) AS rn FROM changes
),
latest AS (SELECT * FROM ranked WHERE rn = 1),
untouched AS (
  SELECT cu.* FROM customer cu
  WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.pk = cu.c_custkey)
),
upserts AS (
  SELECT l.pk AS c_custkey, b.c_name, b.c_nationkey, l.value AS c_acctbal, b.c_mktsegment
  FROM latest l LEFT JOIN customer b ON b.c_custkey = l.pk
  WHERE l.op != 'delete'
),
applied AS (SELECT * FROM untouched UNION ALL SELECT * FROM upserts)
SELECT c_custkey FROM customer
EXCEPT ALL
SELECT c_custkey FROM applied
"""


def q_retained_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-ops complement of q_churned_keys: snapshot keys that SURVIVE
    the change stream — snapshot INTERSECT applied (Catalyst rewrites
    to a left-semi aggregate).  churned ∪ retained = snapshot keys, the
    partition a retention report needs."""
    _pin(spark)
    base = load_table(spark, sf_dir, "customer")
    ch = changes_df(spark, sf_dir)
    applied = cdc_apply(base, ch, key_col="c_custkey", set_cols={"c_acctbal": "value"})
    return base.select("c_custkey").intersect(applied.select("c_custkey"))


ORACLE["q_retained_keys"] = f"""
WITH changes AS ({CHANGES_SQL}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY cdc_offset DESC) AS rn FROM changes
),
latest AS (SELECT * FROM ranked WHERE rn = 1),
untouched AS (
  SELECT cu.* FROM customer cu
  WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.pk = cu.c_custkey)
),
upserts AS (
  SELECT l.pk AS c_custkey, b.c_name, b.c_nationkey, l.value AS c_acctbal, b.c_mktsegment
  FROM latest l LEFT JOIN customer b ON b.c_custkey = l.pk
  WHERE l.op != 'delete'
),
applied AS (SELECT * FROM untouched UNION ALL SELECT * FROM upserts)
SELECT c_custkey FROM customer
INTERSECT
SELECT c_custkey FROM applied
"""


# ---------------------------------------------------------------- D5
def q_change_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 — per (db, table, op) monitoring counts (numInputRows-style,
    README.md:256-300) + an exact decimal total."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    return ch.groupBy("database_name", "table_name", "op").agg(
        F.count("*").alias("n_events"),
        # exact DECIMAL sum internally; output as integer cents (BIGINT) —
        # engines canonicalize DECIMAL text differently, integers never
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("total_value_c"),
    )


ORACLE["q_change_counts"] = f"""
WITH changes AS ({CHANGES_SQL})
SELECT database_name, table_name, op, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_value_c
FROM changes GROUP BY database_name, table_name, op
"""


# ---------------------------------------------------------------- D6
def q_snapshot_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 — snapshot + incremental union with schema alignment
    (README.md:106-126): unionByName of the bootstrap snapshot and the
    stream projected to a common schema."""
    _pin(spark)
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pk"),
        F.lit("snapshot").alias("src"),
        F.col("c_acctbal").alias("value"),
    )
    ch = changes_df(spark, sf_dir).select(
        F.col("pk"), F.lit("stream").alias("src"), F.col("value")
    )
    return base.unionByName(ch)


ORACLE["q_snapshot_union"] = f"""
WITH changes AS ({CHANGES_SQL})
SELECT c_custkey AS pk, 'snapshot' AS src, c_acctbal AS value FROM customer
UNION ALL
SELECT pk, 'stream' AS src, value FROM changes
"""


# ---------------------------------------------------------------- HBase cells
def q_hbase_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-less (HBase) payload path: events JSON-encoded as dynamic
    ``{rowkey, family:qualifier -> string}`` maps (PutWriter.java:28-36),
    parsed with the registry's MAP fallback (null-schema convention,
    hbase-wal AbstractEventWriter.java:39), then exploded one row per
    cell — the columnar inverse of the reference's cell loop."""
    from spark_binlog_spark.schema_registry import SchemaRegistry

    _pin(spark)
    ch = changes_df(spark, sf_dir)
    wire = ch.select(
        "cdc_offset",
        F.to_json(
            F.array(
                F.create_map(
                    F.lit("rowkey"), F.col("pk").cast("string"),
                    F.lit("f:k"), F.get_json_object(F.col("props"), "$.k"),
                    F.lit("f:value"), F.col("value").cast("string"),
                )
            )
        ).alias("rows_json"),
    )
    reg = SchemaRegistry()  # 'unknown' table -> HBASE_FALLBACK map schema
    # r15: fused Arrow parse+explode (guide §4.2) — from_json into
    # ARRAY<MAP> was ~6.5 s of this query's 11.5 s at sf10; the
    # Catalyst reference stays as parse_rows_cells(kernel=False)
    return reg.parse_rows_cells(wire, "hbase_db", "t", "rows_json")


ORACLE["q_hbase_cells"] = f"""
WITH changes AS ({CHANGES_SQL}),
cells AS (
  SELECT cdc_offset, CAST(pk AS VARCHAR) AS rowkey, 'f:k' AS qualifier,
         json_extract_string(props, '$.k') AS cell_value
  FROM changes
  UNION ALL
  SELECT cdc_offset, CAST(pk AS VARCHAR) AS rowkey, 'f:value' AS qualifier,
         CAST(value AS VARCHAR) AS cell_value
  FROM changes
)
SELECT cdc_offset, rowkey, qualifier, cell_value FROM cells
"""


# ---------------------------------------------------------------- D5 windowed
def q_change_counts_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 streaming-style monitoring as event-time tumbling-window counts
    (1-hour windows on the envelope timestamp) — the batch equivalent of
    ``groupBy(window(ts), op).count()`` with a watermark."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    win = F.window(F.col("ts"), "1 hour")
    return (
        ch.groupBy(win.alias("w"), F.col("op"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "op",
            "n_events",
        )
    )


ORACLE["q_change_counts_windowed"] = f"""
WITH changes AS ({CHANGES_SQL})
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       op, count(*) AS n_events
FROM changes GROUP BY 1, 2
"""


# ---------------------------------------------------------------- D5 sliding
def q_change_counts_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 as SLIDING event-time windows (2-hour width, 1-hour slide):
    each event lands in exactly two overlapping windows.  Spark's
    ``window(ts, width, slide)`` expands rows generator-side before one
    hash agg; the oracle derives the same windows from first principles
    (bucket minus k·slide)."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    win = F.window(F.col("ts"), "2 hours", "1 hour")
    return (
        ch.groupBy(win.alias("w"), F.col("op"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "op",
            "n_events",
        )
    )


ORACLE["q_change_counts_sliding"] = f"""
WITH changes AS ({CHANGES_SQL}),
expanded AS (
  SELECT op, time_bucket(INTERVAL 1 HOUR, ts) - k.k * INTERVAL 1 HOUR AS wstart
  FROM changes CROSS JOIN (SELECT unnest([0, 1]) AS k) k
)
SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start, op, count(*) AS n_events
FROM expanded GROUP BY 1, 2
"""


# ---------------------------------------------------------------- as-of join
def q_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN (the temporal operator Spark lacks natively): each
    change event picks up the latest BUSY-hour marker of its table at
    or before its event time (the "last known reference state" join —
    rates, configs, feature snapshots).  Spark side: union +
    last-ignorenulls window, ONE key shuffle, no range explosion;
    oracle side: DuckDB's native ASOF JOIN — two independent
    formulations that must agree exactly."""
    from spark_binlog_spark.operators.asof import asof_join

    _pin(spark)
    ch = changes_df(spark, sf_dir)
    hours = ch.groupBy(
        "table_name", F.date_trunc("hour", F.col("ts")).alias("hour_start")
    ).agg(F.count("*").alias("hour_events"))
    busy = hours.filter(F.col("hour_events") >= 8).select(
        "table_name", "hour_start", "hour_events"
    )
    left = ch.select("cdc_offset", "table_name", "ts")
    joined = asof_join(
        left,
        busy.withColumnRenamed("hour_start", "ref_ts"),
        on=["table_name"],
        left_time="ts",
        right_time="ref_ts",
        value_cols=["ref_ts", "hour_events"],
    )
    return joined.select(
        "cdc_offset",
        "table_name",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.date_format("ref_ts", "yyyy-MM-dd HH:mm:ss").alias("busy_hour"),
        F.col("hour_events").alias("busy_hour_events"),
    )


ORACLE["q_asof_enrich"] = f"""
WITH changes AS ({CHANGES_SQL}),
hours AS (
  SELECT table_name, date_trunc('hour', ts) AS ref_ts, count(*) AS hour_events
  FROM changes GROUP BY 1, 2
),
busy AS (SELECT * FROM hours WHERE hour_events >= 8)
SELECT c.cdc_offset, c.table_name,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       strftime(b.ref_ts, '%Y-%m-%d %H:%M:%S') AS busy_hour,
       b.hour_events AS busy_hour_events
FROM changes c
ASOF LEFT JOIN busy b
  ON c.table_name = b.table_name AND c.ts >= b.ref_ts
"""


# ---------------------------------------------------------------- range join
def q_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN: classify each event into its table's quartile value
    band — a non-equi join against a derived (lo, hi] band dimension.
    The scale shape: the band table is dimension-sized, so it
    BROADCASTS and the equi key (table_name) keeps it a hash join with
    a residual range filter — no shuffle of the fact side, no row
    explosion.  (Large×large range joins instead bucketize both sides
    on a grid; not needed when one side is a dimension.)  Quartile
    boundaries come from ``percentile`` ⇔ ``quantile_cont`` — the
    shared linear-interpolation definition both engines evaluate
    bit-identically."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    qs = ch.groupBy("table_name").agg(
        F.expr("percentile(value, array(0.25, 0.5, 0.75))").alias("q")
    )
    band_structs = F.array(
        F.struct(F.lit(0).alias("band_id"), F.lit(None).cast("double").alias("lo"),
                 F.element_at("q", 1).alias("hi")),
        F.struct(F.lit(1).alias("band_id"), F.element_at("q", 1).alias("lo"),
                 F.element_at("q", 2).alias("hi")),
        F.struct(F.lit(2).alias("band_id"), F.element_at("q", 2).alias("lo"),
                 F.element_at("q", 3).alias("hi")),
        F.struct(F.lit(3).alias("band_id"), F.element_at("q", 3).alias("lo"),
                 F.lit(None).cast("double").alias("hi")),
    )
    bands = qs.select(
        "table_name", F.explode(band_structs).alias("b")
    ).select("table_name", F.col("b.band_id").alias("band_id"),
             F.col("b.lo").alias("lo"), F.col("b.hi").alias("hi"))
    bands = F.broadcast(bands.withColumnRenamed("table_name", "b_table"))
    joined = ch.join(
        bands,
        (F.col("table_name") == F.col("b_table"))
        & (F.col("lo").isNull() | (F.col("value") > F.col("lo")))
        & (F.col("hi").isNull() | (F.col("value") <= F.col("hi"))),
    )
    return joined.groupBy("table_name", "band_id").agg(
        F.count("*").alias("n_events")
    ).select("table_name", F.col("band_id").cast("long").alias("band_id"), "n_events")


ORACLE["q_range_band"] = f"""
WITH changes AS ({CHANGES_SQL}),
qs AS (SELECT table_name, quantile_cont(value, [0.25, 0.5, 0.75]) AS q
       FROM changes GROUP BY table_name),
bands AS (
  SELECT table_name, 0 AS band_id, NULL AS lo, q[1] AS hi FROM qs
  UNION ALL SELECT table_name, 1, q[1], q[2] FROM qs
  UNION ALL SELECT table_name, 2, q[2], q[3] FROM qs
  UNION ALL SELECT table_name, 3, q[3], NULL FROM qs
)
SELECT c.table_name, CAST(b.band_id AS BIGINT) AS band_id, count(*) AS n_events
FROM changes c JOIN bands b
  ON c.table_name = b.table_name
 AND (b.lo IS NULL OR c.value > b.lo)
 AND (b.hi IS NULL OR c.value <= b.hi)
GROUP BY c.table_name, b.band_id
"""


def q_grid_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LARGE×LARGE range containment, count output: every insert
    event's [value, value+2) window counts the update events it
    contains, per table.  r14 reshape (caught by the CDC sf10 rung the
    same day it landed): the grid JOIN's pair relation is ~10^10 rows
    at 10M dense-valued events — when only the COUNT is needed, the
    scale-correct plan is the distributed prefix-count difference
    (operators/rangejoin.py grid_range_count: linear shuffle at any
    density).  The pair-LISTING operator ``grid_range_join`` stays for
    sparse joins that need the matched rows."""
    from spark_binlog_spark.operators.rangejoin import grid_range_count

    _pin(spark)
    ch = changes_df(spark, sf_dir)
    intervals = ch.filter(F.col("op") == "insert").select(
        "table_name",
        F.col("cdc_offset").alias("interval_offset"),
        F.col("value").alias("lo"),
        (F.col("value") + F.lit(2.0)).alias("hi"),
    )
    points = ch.filter(F.col("op") == "update").select(
        "table_name", F.col("cdc_offset").alias("point_offset"), F.col("value")
    )
    counted = grid_range_count(
        points, intervals, on=["table_name"], id_cols=["interval_offset"],
        point_col="value", lo_col="lo", hi_col="hi", grid=2.0,
    )
    return counted.filter(F.col("n_inside") > 0)


ORACLE["q_grid_range_join"] = f"""
WITH changes AS ({CHANGES_SQL}),
iv AS (SELECT table_name, cdc_offset AS interval_offset, value AS lo, value + 2.0 AS hi
       FROM changes WHERE op = 'insert'),
pt AS (SELECT table_name, cdc_offset AS point_offset, value FROM changes WHERE op = 'update')
SELECT pt.table_name, iv.interval_offset, count(*) AS n_inside
FROM pt JOIN iv ON pt.table_name = iv.table_name
              AND pt.value >= iv.lo AND pt.value < iv.hi
GROUP BY pt.table_name, iv.interval_offset
"""


def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many pairs of insert windows [value, value+2) overlap, per
    table — both sides large.  r14 reshape (the q_grid_range_join
    lesson applied to self-overlap): true-overlap volume grows ~n²
    with density, and this was the slowest sf10 sweep survivor (110 s)
    as a pair stream.  A per-table COUNT needs no pairs — C(n,2) minus
    a distributed prefix count of disjoint orderings
    (operators/rangejoin.py interval_overlap_count: O(n) shuffle at
    any density).  The pair-LISTING operator ``grid_interval_overlap``
    stays for consumers that need the matched pairs."""
    from spark_binlog_spark.operators.rangejoin import interval_overlap_count

    _pin(spark)
    iv = changes_df(spark, sf_dir).filter(F.col("op") == "insert").select(
        "table_name",
        F.col("value").alias("lo"),
        (F.col("value") + F.lit(2.0)).alias("hi"),
    )
    return interval_overlap_count(
        iv, on=["table_name"], lo_col="lo", hi_col="hi", grid=2.0,
        out_col="n_overlaps",
    )


ORACLE["q_interval_overlap"] = f"""
WITH changes AS ({CHANGES_SQL}),
iv AS (SELECT table_name, cdc_offset, value AS lo, value + 2.0 AS hi
       FROM changes WHERE op = 'insert')
SELECT a.table_name, count(*) AS n_overlaps
FROM iv a JOIN iv b ON a.table_name = b.table_name
              AND a.cdc_offset < b.cdc_offset
              AND a.lo < b.hi AND b.lo < a.hi
GROUP BY a.table_name
"""


# ---------------------------------------------------------------- payload drift
def q_payload_key_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-payload drift report: which JSON keys appear in each
    table's payloads, with counts — the monitoring query behind the
    per-(db,table) schema registry (S3/D1): a new key showing up here
    is a schema change upstream.  MAP-typed parse (the HBase null-
    schema convention) so unknown keys need no declared schema."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    keys = ch.select(
        "table_name",
        F.explode(F.map_keys(F.from_json(F.col("props"), "map<string,string>"))).alias("key"),
    )
    return keys.groupBy("table_name", "key").agg(F.count("*").alias("n_rows"))


ORACLE["q_payload_key_stats"] = f"""
WITH changes AS ({CHANGES_SQL}),
keys AS (SELECT table_name, unnest(json_keys(props)) AS key FROM changes)
SELECT table_name, key, count(*) AS n_rows FROM keys GROUP BY table_name, key
"""


# ---------------------------------------------------------------- datetime quirk
def q_datetime_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's DATETIME decode quirk (MySQLCDCUtils.java:63-69):
    a binlog DATETIME is a zoneless wall-clock reading in the server's
    zone; the reference subtracts the raw zone offset to normalize
    before formatting.  Spark equivalents: from_utc_timestamp (UTC
    instant -> server wall reading) and to_utc_timestamp (the quirk's
    minus-offset normalization).  A fixed-offset zone (+05:30) keeps
    the arithmetic exact in both engines (no DST table dependence)."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return ch.select(
        "cdc_offset",
        F.date_format(F.col("ts"), fmt).alias("wall_utc"),
        F.date_format(F.from_utc_timestamp(F.col("ts"), "+05:30"), fmt).alias("wall_server"),
        F.date_format(F.to_utc_timestamp(F.col("ts"), "+05:30"), fmt).alias("normalized"),
    )


ORACLE["q_datetime_normalize"] = f"""
WITH changes AS ({CHANGES_SQL})
SELECT cdc_offset,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS wall_utc,
       strftime(ts + INTERVAL 330 MINUTE, '%Y-%m-%d %H:%M:%S') AS wall_server,
       strftime(ts - INTERVAL 330 MINUTE, '%Y-%m-%d %H:%M:%S') AS normalized
FROM changes
"""


# ---------------------------------------------------------------- schema evolution
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload schema evolution (SURVEY §7 hard-part #3): the first half
    of the stream carries v1 rows {pk, value}; the second half carries
    v2 rows {pk, value, k} (column added mid-stream, as a live ALTER
    TABLE would).  One from_json with the MERGED schema reads both —
    missing keys resolve to null, exactly the reference's omitted-column
    convention (InsertRowsWriter.java:51-53)."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    half = ch.agg(F.floor(F.max("cdc_offset") / 2).cast("long").alias("half"))
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    wire = ch.crossJoin(F.broadcast(half)).select(
        "cdc_offset",
        F.when(
            F.col("cdc_offset") < F.col("half"),
            F.to_json(F.struct(F.col("pk"), F.col("value"))),
        )
        .otherwise(F.to_json(F.struct(F.col("pk"), F.col("value"), k.alias("k"))))
        .alias("row_json"),
        (F.col("cdc_offset") >= F.col("half")).alias("is_v2"),
    )
    parsed = wire.select(
        "cdc_offset",
        "is_v2",
        F.from_json(F.col("row_json"), "pk BIGINT, value DOUBLE, k BIGINT").alias("r"),
    )
    return parsed.select(
        "cdc_offset",
        F.when(F.col("is_v2"), F.lit(2)).otherwise(F.lit(1)).cast("long").alias("schema_ver"),
        F.col("r.pk").alias("pk"),
        F.col("r.value").alias("value"),
        F.col("r.k").alias("k"),
    )


ORACLE["q_schema_evolution"] = f"""
WITH changes AS ({CHANGES_SQL}),
half AS (SELECT CAST(floor(max(cdc_offset) / 2) AS BIGINT) AS half FROM changes)
SELECT cdc_offset,
       CASE WHEN cdc_offset >= half THEN 2 ELSE 1 END AS schema_ver,
       pk, value,
       CASE WHEN cdc_offset >= half
            THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
FROM changes CROSS JOIN half
"""


# ---------------------------------------------------------------- relational Q3
def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping priority: 3-table join (customer filter →
    orders → lineitem) + grouped revenue + global top-10.  The stock
    join-heavy snapshot-analytics path: the customer filter broadcasts,
    orders⋈lineitem is the one big shuffle, top-k is
    TakeOrderedAndProject (no global sort materialized).  Revenue is
    floor(extendedprice·(1-discount)·100) per row — exact integer cents,
    deterministic across engines."""
    _pin(spark)
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    rev_c = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
    ).cast("long")
    return (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev_c).alias("revenue_c"))
        .select(
            F.col("o_orderkey"),
            F.date_format(F.col("o_orderdate"), "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
            "revenue_c",
        )
        .orderBy(F.col("revenue_c").desc(), F.col("o_orderkey"))
        .limit(10)
    )


ORACLE["q_ship_priority"] = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_orderpriority,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT)) AS BIGINT) AS revenue_c
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_c DESC, o_orderkey
LIMIT 10
"""


# ---------------------------------------------------------------- sessions
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time sessionization: per-key session windows with a
    30-minute inactivity gap (``session_window`` — the streaming-native
    sessionizer, run in batch).  Oracle = classic gaps-and-islands SQL,
    proving the window semantics against first principles."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    sw = F.session_window(F.col("ts"), "30 minutes")
    return (
        ch.groupBy(sw.alias("w"), F.col("pk"))
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("session_value_c"),
        )
        .select(
            "pk",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "session_value_c",
        )
    )


ORACLE["q_user_sessions"] = f"""
WITH changes AS ({CHANGES_SQL}),
flagged AS (
  SELECT pk, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
  FROM changes
  WINDOW w AS (PARTITION BY pk ORDER BY ts, cdc_offset)
),
runs AS (
  SELECT *, CAST(sum(brk) OVER (PARTITION BY pk ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
  FROM flagged
)
SELECT pk, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS session_value_c
FROM runs GROUP BY pk, sid
"""


# ---------------------------------------------------------------- distincts
def q_distinct_users(
    spark: SparkSession, sf_dir: str, approx: bool = False
) -> DataFrame:
    """Distinct-key counts per table.  Default exact (Catalyst expands
    countDistinct into a two-stage partial aggregation; the oracle gate
    needs exact equality across engines).  ``approx=True`` is the
    100 TB form AS CODE (VERDICT r5 ask #7): ``approx_count_distinct``
    — HLL++, one pass, fixed-size mergeable sketch, no expand — with a
    tolerance test (tests/test_units.py::TestApproxVariants)."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    ndist = F.approx_count_distinct("pk") if approx else F.countDistinct("pk")
    return ch.groupBy("table_name").agg(
        ndist.alias("n_users"),
        F.count("*").alias("n_events"),
    )


ORACLE["q_distinct_users"] = f"""
WITH changes AS ({CHANGES_SQL})
SELECT table_name, count(DISTINCT pk) AS n_users, count(*) AS n_events
FROM changes GROUP BY table_name
"""


# ---------------------------------------------------------------- relational
def q_enriched_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-enrichment join: change stream joined to dimension tables
    (customer -> nation), the stock-relational path the reference
    delegates to Spark (SURVEY §2.C joins).  Small dims broadcast."""
    _pin(spark)
    ch = changes_df(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        ch.join(F.broadcast(cust), ch["pk"] == cust["c_custkey"], "inner")
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"], "inner")
        .groupBy("n_name", "c_mktsegment", "op")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("total_value_c"),
        )
    )


ORACLE["q_enriched_changes"] = f"""
WITH changes AS ({CHANGES_SQL})
SELECT n_name, c_mktsegment, op, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_value_c
FROM changes
JOIN customer ON pk = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, c_mktsegment, op
"""


def q_stream_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC JOIN under the oracle: the live change stream joins
    the static customer dimension inside the streaming query (broadcast
    per micro-batch), aggregated per (mktsegment, op) in the sink.
    Stream-static joins are stateless in Spark — each batch joins
    against the table as-of that batch, the standard enrichment shape
    for a CDC pipeline feeding per-dimension monitoring."""
    import tempfile
    import uuid

    from spark_binlog_spark.streaming.pipeline import parse_stream, read_stream

    _pin(spark)
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    wire = read_stream(
        spark,
        f"{sf_dir}/events.parquet",
        numPartitions=_source_partitions(spark, f"{sf_dir}/events.parquet"),
    )
    enriched = parse_stream(wire).join(cust, F.col("pk") == F.col("c_custkey"), "inner")
    partials = _drain_aggregated(
        spark,
        enriched.select("c_mktsegment", "op"),
        lambda b: b.groupBy("c_mktsegment", "op").agg(F.count("*").alias("n")),
        "c_mktsegment string, op string, n long",
    )
    return partials.groupBy("c_mktsegment", "op").agg(
        F.sum("n").cast("long").alias("n_events")
    )


ORACLE["q_stream_enriched_counts"] = f"""
WITH changes AS ({CHANGES_SQL})
SELECT c_mktsegment, op, count(*) AS n_events
FROM changes JOIN customer ON pk = c_custkey
GROUP BY c_mktsegment, op
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary over lineitem — demonstrates the
    stock columnar agg path (partial agg + single shuffle) the engine
    inherits for snapshot analytics."""
    _pin(spark)
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            # DECIMAL-exact sums internally; integer fixed-point on the
            # wire (cents / ten-thousandths) so the hash is engine-neutral
            (F.sum(dec("l_quantity")) * 100).cast("long").alias("sum_qty_c"),
            (F.sum(dec("l_extendedprice")) * 100).cast("long").alias("sum_base_price_c"),
            (
                F.sum(
                    dec("l_extendedprice")
                    * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
                )
                * 10000
            ).cast("long").alias("sum_disc_price_c4"),
            F.count("*").alias("count_order"),
        )
    )


def q_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item ranking: 4-table join
    (lineitem filtered to returns ⋈ orders window ⋈ customer ⋈ nation)
    + grouped revenue + global top-20.  Two broadcast dims, ONE big
    shuffle (the grouped agg); top-k via TakeOrderedAndProject.
    Revenue in exact integer cents (floor per row)."""
    _pin(spark)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev_c = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
    ).cast("long")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev_c).alias("revenue_c"))
        .orderBy(F.col("revenue_c").desc(), F.col("c_custkey"))
        .limit(20)
    )


ORACLE["q_returned_top_customers"] = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT)) AS BIGINT) AS revenue_c
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue_c DESC, c_custkey
LIMIT 20
"""


# ---------------------------------------------------------------- top-k
def q_top_events_per_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per table — the grouped-top-k pattern
    (rank window + filter; Spark pushes a per-partition limit into the
    sort via WindowGroupLimit)."""
    from pyspark.sql import Window

    _pin(spark)
    ch = changes_df(spark, sf_dir)
    w = Window.partitionBy("table_name").orderBy(F.col("value").desc(), F.col("cdc_offset"))
    return (
        ch.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("table_name", F.col("rnk").cast("long").alias("rnk"), "cdc_offset", "value")
    )


ORACLE["q_top_events_per_table"] = f"""
WITH changes AS ({CHANGES_SQL}),
ranked AS (
  SELECT table_name, cdc_offset, value,
         row_number() OVER (PARTITION BY table_name ORDER BY value DESC, cdc_offset) AS rnk
  FROM changes
)
SELECT table_name, CAST(rnk AS BIGINT) AS rnk, cdc_offset, value FROM ranked WHERE rnk <= 3
"""


# ---------------------------------------------------------------- integrity
def q_offset_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-loss detection: find holes in the offset sequence (the
    condition the reference turns into an error when until < from —
    MLSQLHBaseWALDataSource.scala:220-241).  Gaps are synthesized by
    dropping offsets divisible by 97.

    SCALE SHAPE: a global ``Window.orderBy(offset)`` would funnel the
    whole relation through one partition.  Instead, two-level
    gaps-and-islands: (1) in-bucket lag, windows partitioned by
    ``offset div B`` — fully parallel over the big relation; (2) a lag
    over the per-bucket min/max summary (|offsets|/B rows; B=8192 cuts
    the ordered set by 4 decimal orders, and the reduction can be
    applied recursively if the summary is still large) catches gaps
    that cross bucket boundaries, including wholly-empty buckets.  A
    cross-boundary consecutive pair is provably (bucket-max,
    next-nonempty-bucket-min), so the union is exactly the global-lag
    answer — same oracle."""
    from pyspark.sql import Window

    from pyspark.storagelevel import StorageLevel

    _pin(spark)
    B = 8192
    ch = changes_df(spark, sf_dir).filter(F.col("cdc_offset") % 97 != 0)
    # two consumers (in-bucket windows + bucket summary): persist so the
    # scan + filter + bucket projection run once
    kept = ch.select(
        "cdc_offset", F.expr(f"cdc_offset div {B}").alias("bucket")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    w_in = Window.partitionBy("bucket").orderBy("cdc_offset")
    in_bucket = kept.select(
        "cdc_offset", F.lag("cdc_offset").over(w_in).alias("prev_offset")
    ).filter(
        F.col("prev_offset").isNotNull() & (F.col("cdc_offset") - F.col("prev_offset") > 1)
    )
    summary = kept.groupBy("bucket").agg(
        F.min("cdc_offset").alias("b_min"), F.max("cdc_offset").alias("b_max")
    )
    w_b = Window.orderBy("bucket")  # reduced relation only
    boundary = (
        summary.select("b_min", F.lag("b_max").over(w_b).alias("prev_offset"))
        .filter(F.col("prev_offset").isNotNull() & (F.col("b_min") - F.col("prev_offset") > 1))
        .select(F.col("b_min").alias("cdc_offset"), "prev_offset")
    )
    gaps = in_bucket.select("cdc_offset", "prev_offset").unionByName(boundary)
    return gaps.select(
        (F.col("prev_offset") + 1).alias("gap_start"),
        (F.col("cdc_offset") - 1).alias("gap_end"),
        (F.col("cdc_offset") - F.col("prev_offset") - 1).alias("n_missing"),
    )


ORACLE["q_offset_gaps"] = f"""
WITH changes AS ({CHANGES_SQL}),
kept AS (SELECT cdc_offset FROM changes WHERE cdc_offset % 97 != 0),
seq AS (SELECT cdc_offset, lag(cdc_offset) OVER (ORDER BY cdc_offset) AS prev_offset FROM kept)
SELECT prev_offset + 1 AS gap_start, cdc_offset - 1 AS gap_end,
       cdc_offset - prev_offset - 1 AS n_missing
FROM seq WHERE prev_offset IS NOT NULL AND cdc_offset - prev_offset > 1
"""


# ---------------------------------------------------------------- streaming
def _source_partitions(spark: SparkSession, events_path: str) -> int:
    """Scale-adaptive task count for binlog_fixture reads (guide §2.6).

    The r14 constant (8) served ``local[8]`` and starved ``local[32]``
    — at sf10 a 10M-event drain ran 8 Python-source tasks of 1.25M
    events each (~15 s) with 24 cores idle.  Follow the session's
    ``defaultParallelism`` instead (the same rule bench.py's stream
    entries already use), bounded by the event count so tiny logs don't
    schedule near-empty Python workers (the source's own per-batch
    rule, ``_task_budget``, which region mode does not apply).  The
    probe is parquet footer metadata only — no data read."""
    from spark_binlog_spark.sources.binlog_fixture import _probe_end, _task_budget

    dp = int(spark.sparkContext.defaultParallelism)
    return _task_budget(_probe_end(events_path), max(4, dp))


def _drain_aggregated(spark: SparkSession, df: DataFrame, agg_fn, schema: str) -> DataFrame:
    """Run a streaming DataFrame to completion, aggregating EACH
    micro-batch distributedly via ``agg_fn`` (a bounded per-batch
    partial aggregation) inside foreachBatch, and return the collected
    partial rows as a DataFrame for the caller's final re-aggregation.

    Why not a memory sink of the parsed rows (r14, found by the new
    CDC sf10 rung): ``format("memory")`` materializes the WHOLE stream
    on the driver — at 10M events the final driver-side aggregation
    GC-thrashed past the 150 s watchdog (q_hbase_rolled_wal never
    finished), and at 100 TB the shape is disqualifying outright.
    With foreachBatch the corpus-sized relation never leaves the
    executors; only group-count-bounded partials cross to the driver
    (the same additive-partial contract every ingest sink here uses)."""
    from spark_binlog_spark.streaming.runner import run_foreach_batch

    rows: list = []

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        rows.extend(agg_fn(batch_df).collect())

    run_foreach_batch(df, sink, _tmpdir("stream_ck_") + "/ck")
    return spark.createDataFrame(rows, schema)


def q_stream_change_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END STREAMING correctness: run the binlog_fixture source to
    completion (availableNow micro-batches through the Python DataSource,
    envelope JSON wire format, from_json parse, flatten), then count per
    op.  The replay is deterministic, so the result hash-matches the
    batch SQL oracle — the streaming path itself is under the oracle.
    Per-batch partials aggregate on the executors (_drain_aggregated);
    only op-count rows reach the driver."""
    from spark_binlog_spark.streaming.pipeline import parse_stream, read_stream

    _pin(spark)
    wire = read_stream(
        spark,
        f"{sf_dir}/events.parquet",
        numPartitions=_source_partitions(spark, f"{sf_dir}/events.parquet"),
    )
    partials = _drain_aggregated(
        spark,
        parse_stream(wire).select("op"),
        lambda b: b.groupBy("op").agg(F.count("*").alias("n")),
        "op string, n long",
    )
    return partials.groupBy("op").agg(F.sum("n").cast("long").alias("n_events"))


ORACLE["q_stream_change_counts"] = f"""
WITH changes AS ({CHANGES_SQL})
SELECT op, count(*) AS n_events FROM changes GROUP BY op
"""


def q_rotate_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROTATION end-to-end under the oracle: replay the event log from
    a real four-file ``mysql-bin.%06d`` segmented store THROUGH the
    source (multi-file scan, wire encode, envelope parse), then
    aggregate per binlog file: event count and the min/max packed
    (fileId, pos) composite offsets.  Every event must cross its
    rotation boundary exactly once (protocols.scala:6-26;
    BinLogSocketServerInExecutor.scala:252-255)."""
    from spark_binlog_spark.sources.binlog_fixture import register
    from spark_binlog_spark.streaming.pipeline import parse_stream

    _pin(spark)
    seg_dir, eps = _segmented_store(f"{sf_dir}/events.parquet")
    register(spark)
    wire = (
        spark.read.format("binlog_fixture")
        .option("path", seg_dir)
        .option("numPartitions", _source_partitions(spark, f"{sf_dir}/events.parquet"))
        .load()
    )
    parsed = parse_stream(wire)  # same D1 parse; works on the batch view
    fid = F.expr(f"cdc_offset div {eps}") + 1
    packed = fid * F.lit(POW13) + (F.col("cdc_offset") % eps) + 4
    return (
        parsed.select(fid.alias("file_id"), packed.alias("packed"))
        .groupBy("file_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("packed").alias("packed_first"),
            F.max("packed").alias("packed_last"),
        )
    )


ORACLE["q_rotate_offsets"] = f"""
WITH m AS (SELECT (max(event_id) + 1 + 3) // 4 AS eps FROM events)
SELECT event_id // eps + 1 AS file_id,
       count(*) AS n_events,
       min((event_id // eps + 1) * {POW13} + event_id % eps + 4) AS packed_first,
       max((event_id // eps + 1) * {POW13} + event_id % eps + 4) AS packed_last
FROM events, m GROUP BY 1
"""


def _rolled_region_store(events_path: str, n_regions: int = 4, n_segments: int = 3) -> tuple[str, int]:
    """Build (once per process per source table) the rolled-WAL region
    layout ``region=K/wal.%06d`` — same freshness/eviction contract as
    ``_segmented_store``."""
    import os
    import shutil

    from spark_binlog_spark.sources.binlog_fixture import write_region_wal_segments

    st = os.stat(events_path)
    key = (events_path, "rolled", n_regions, n_segments)
    stamp = (st.st_mtime_ns, st.st_size)
    hit = _SEG_STORE_CACHE.get(key)
    if hit is None or hit[0] != stamp:
        if hit is not None:
            shutil.rmtree(hit[1], ignore_errors=True)
        store = _tmpdir("hbase_wals_")
        eps = write_region_wal_segments(
            events_path, store, n_regions=n_regions, n_segments=n_segments
        )
        _SEG_STORE_CACHE[key] = (stamp, store, eps)
    return _SEG_STORE_CACHE[key][1:]


def q_hbase_rolled_wal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLED-WAL REGION MODE end-to-end under the oracle: the event log
    laid out as a real HBase-style rolled-WAL store — ``region=K``
    directories each holding three ``wal.%06d`` segment files (oldWALs +
    active sets, HBaseWALClient.scala:66,128) — replayed THROUGH the
    streaming source (region-map offsets, one task per region per WAL
    file, partitions never spanning a roll), then aggregated per region:
    event count, offset span, and the number of distinct WAL files each
    region's events crossed (must be all three — every region reads
    across both roll boundaries).  Per-batch partials (count/min/max +
    the bounded distinct-file SET per region) aggregate on the
    executors; the raw parsed log never reaches the driver."""
    from spark_binlog_spark.streaming.pipeline import parse_stream, read_stream

    _pin(spark)
    store, eps = _rolled_region_store(f"{sf_dir}/events.parquet")
    wire = read_stream(
        spark,
        store,
        regions=4,
        numPartitions=_source_partitions(spark, f"{sf_dir}/events.parquet"),
    )
    parsed = parse_stream(wire).select(
        (F.col("pk") % 4).alias("region"),
        "cdc_offset",
        F.expr(f"cdc_offset div {eps}").alias("wal_file"),
    )
    partials = _drain_aggregated(
        spark,
        parsed,
        lambda b: b.groupBy("region").agg(
            F.count("*").alias("n"),
            F.min("cdc_offset").alias("mn"),
            F.max("cdc_offset").alias("mx"),
            F.collect_set("wal_file").alias("files"),
        ),
        "region long, n long, mn long, mx long, files array<bigint>",
    )
    return partials.groupBy("region").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.min("mn").alias("min_offset"),
        F.max("mx").alias("max_offset"),
        F.size(F.array_distinct(F.flatten(F.collect_list("files"))))
        .cast("long")
        .alias("n_wal_files"),
    )


ORACLE["q_hbase_rolled_wal"] = """
WITH m AS (SELECT (max(event_id) + 1 + 2) // 3 AS eps FROM events)
SELECT user_id % 4 AS region, count(*) AS n_events,
       min(event_id) AS min_offset, max(event_id) AS max_offset,
       count(DISTINCT event_id // eps) AS n_wal_files
FROM events, m GROUP BY 1
"""


def q_stream_schema_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MID-STREAM SCHEMA CHANGE under the oracle: the source flips its
    embedded schema to v2 (adds ts_ms) at the half-way offset — the
    reference re-ships the schema on every TABLE_MAP, so a live ALTER
    TABLE appears in the next event
    (BinLogSocketServerInExecutor.scala:228-236).  The consumer parses
    with the MERGED schema and recovers each event's epoch FROM ITS OWN
    embedded schema; per-epoch row counts, ts_ms coverage and sums must
    match the batch oracle exactly."""
    import tempfile
    import uuid

    from spark_binlog_spark.sources.binlog_fixture import _probe_end
    from spark_binlog_spark.streaming.pipeline import (
        parse_stream_evolving,
        read_stream,
    )

    _pin(spark)
    events = f"{sf_dir}/events.parquet"
    epoch = _probe_end(events) // 2  # metadata-only probe
    wire = read_stream(
        spark,
        events,
        numPartitions=_source_partitions(spark, events),
        schemaEpochOffset=epoch,
    )
    partials = _drain_aggregated(
        spark,
        parse_stream_evolving(wire).select("schema_ver", "ts_ms", "cdc_offset"),
        lambda b: b.groupBy("schema_ver").agg(
            F.count("*").alias("n"),
            F.count("ts_ms").alias("nt"),
            F.sum("ts_ms").alias("st"),
            F.min("cdc_offset").alias("mn"),
            F.max("cdc_offset").alias("mx"),
        ),
        "schema_ver int, n long, nt long, st long, mn long, mx long",
    )
    return partials.groupBy("schema_ver").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.sum("nt").cast("long").alias("n_with_ts"),
        F.sum("st").alias("sum_ts_ms"),
        F.min("mn").alias("min_offset"),
        F.max("mx").alias("max_offset"),
    )


ORACLE["q_stream_schema_epochs"] = """
WITH m AS (SELECT (max(event_id) + 1) // 2 AS half FROM events)
SELECT CASE WHEN event_id >= half THEN 2 ELSE 1 END AS schema_ver,
       count(*) AS n_events,
       count(CASE WHEN event_id >= half THEN 1 END) AS n_with_ts,
       CAST(sum(CASE WHEN event_id >= half THEN epoch_ns(ts) // 1000000 END) AS BIGINT) AS sum_ts_ms,
       min(event_id) AS min_offset,
       max(event_id) AS max_offset
FROM events, m GROUP BY 1
"""


ORACLE["q_pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_c,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_base_price_c,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) * 10000 AS BIGINT) AS sum_disc_price_c4,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SESSIONIZATION under the oracle: the change stream is
    forced through MULTIPLE capped micro-batches; each batch is
    sessionized DISTRIBUTEDLY with a batch ``session_window`` inside
    foreachBatch, and sessions that span a batch boundary merge in the
    final interval-merge step — the per-batch partial is the interval
    hull [first_event, last_event + gap), and two hulls overlap exactly
    when some pair of their member events would chain under the gap
    rule, so merging hulls by overlap reproduces global sessionization
    exactly (connectivity proof in the r15 notes).  The final table
    hash-matches a gaps-and-islands oracle computed on the same
    millisecond-truncated event times the wire carries.

    r15 (verdict ask #7): this was the last ``format("memory")`` sink in
    a query path — complete-mode session_window re-emitted the ENTIRE
    session table to the driver every micro-batch and kept all session
    state in the store.  Now only each batch's own partial sessions
    cross to the driver, once, like every other drain
    (_drain_aggregated pattern; the availableNow helper itself can't be
    used because a capped Python DataSource needs the processing-time
    drain below — DEVNOTES)."""
    from spark_binlog_spark.sources.binlog_fixture import _probe_end
    from spark_binlog_spark.streaming.pipeline import parse_stream, read_stream

    _pin(spark)
    events = f"{sf_dir}/events.parquet"
    n = _probe_end(events)
    # cap to ~1/3 of the log per trigger -> >= 3 micro-batches, so
    # sessions MUST merge across batch boundaries
    wire = read_stream(
        spark,
        events,
        numPartitions=_source_partitions(spark, events),
        maxEventsPerTrigger=max(1, n // 3),
    )
    parsed = parse_stream(wire)
    sw = F.session_window(F.timestamp_millis(F.col("ts_ms")), "30 minutes")

    def batch_sessions(b: DataFrame) -> DataFrame:
        return (
            b.groupBy(sw.alias("w"), F.col("pk"))
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
            )
            .select(
                "pk",
                F.unix_millis(F.col("w.start")).alias("ws"),
                F.unix_millis(F.col("w.end")).alias("we"),
                "n",
                "sv",
            )
        )

    rows: list = []

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        rows.extend(batch_sessions(batch_df).collect())

    # availableNow on a Python DataSource falls back to ONE batch
    # (DEVNOTES), which with the cap would truncate the stream — run a
    # processing-time trigger and drain it: processAllAvailable blocks
    # until the capped cursor has ratcheted through the whole log
    q = (
        parsed.select("pk", "ts_ms", "value")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", _tmpdir("stream_ck_") + "/ck")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    partials = spark.createDataFrame(
        rows, "pk long, ws long, we long, n long, sv decimal(28,2)"
    )
    # interval merge (gaps-and-islands on the partials, a
    # sessions-bounded relation): a partial opens a new session exactly
    # when its start is at/after every earlier partial's end — the same
    # strict-gap rule session_window applies between events
    from pyspark.sql import Window

    w_ord = Window.partitionBy("pk").orderBy("ws", "we")
    prev_end = F.max("we").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(prev_end.isNull() | (F.col("ws") >= prev_end), 1).otherwise(0)
    sid = F.sum(brk).over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
    return (
        partials.select("pk", "ws", "n", "sv", sid.alias("sid"))
        .groupBy("pk", "sid")
        .agg(
            F.date_format(
                F.timestamp_millis(F.min("ws")), "yyyy-MM-dd HH:mm:ss"
            ).alias("session_start"),
            F.sum("n").cast("long").alias("n_events"),
            (F.sum("sv") * 100).cast("long").alias("session_value_c"),
        )
        .select("pk", "session_start", "n_events", "session_value_c")
    )


ORACLE["q_stream_sessions"] = f"""
WITH changes AS ({CHANGES_SQL}),
ms AS (SELECT pk, value, cdc_offset, epoch_ms(ts) AS tms FROM changes),
flagged AS (
  SELECT pk, value, tms, cdc_offset,
         CASE WHEN lag(tms) OVER w IS NULL
                   OR tms - lag(tms) OVER w >= 30 * 60 * 1000 THEN 1 ELSE 0 END AS brk
  FROM ms
  WINDOW w AS (PARTITION BY pk ORDER BY tms, cdc_offset)
),
runs AS (
  SELECT *, CAST(sum(brk) OVER (PARTITION BY pk ORDER BY tms, cdc_offset
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
  FROM flagged
)
SELECT pk,
       strftime(make_timestamp(min(tms) * 1000), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS session_value_c
FROM runs GROUP BY pk, sid
"""
