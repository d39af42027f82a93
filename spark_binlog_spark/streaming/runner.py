"""Run a stream to completion through a foreachBatch sink."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def run_foreach_batch(stream_df: DataFrame, sink, checkpoint_dir: str):
    """Drain everything ``stream_df``'s source has now (availableNow)
    through ``sink`` and wait for it; returns the sink.  A second run on
    the same checkpoint applies only what arrived since."""
    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sink


def run_files(spark: SparkSession, src_dir: str, schema, checkpoint_dir: str, sink):
    """Stream a directory of parquet files through ``sink``, one file per
    micro-batch; returns the sink, whose serving methods read the
    maintained store."""
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src_dir)
    return run_foreach_batch(stream, sink, checkpoint_dir)
