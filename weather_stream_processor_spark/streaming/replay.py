"""Replay sources: drive the streaming pipeline from fixture parquet.

The test twin of the Kafka source (SURVEY §2.1 S1/S3): a FileStreamSource
over the `events` table, processed with ``trigger(availableNow=True)`` so a
bounded replay runs the *real* streaming engine (state store, watermarks,
output modes) to completion, synchronously — the pattern the driver's
correctness harness can call like any batch query.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def _as_stream_dir(parquet_file: str) -> str:
    """FileStreamSource requires a directory; stage a symlink dir per file.

    The dir name is a stable function of the source path: a checkpointed
    query that restarts must see the SAME source directory, or its
    committed offsets would not cover the (re-staged) file and the batch
    would be reprocessed.
    """
    import hashlib

    digest = hashlib.sha256(parquet_file.encode()).hexdigest()[:16]
    d = os.path.join(tempfile.gettempdir(), f"stream_replay_{digest}")
    os.makedirs(d, exist_ok=True)
    if os.path.isdir(parquet_file):
        # a Spark-written table is a DIRECTORY of part files; FileStream-
        # Source does not follow a symlinked subdirectory, so stage each
        # part file individually (the 10x scale-probe replicas hit this)
        for f in sorted(os.listdir(parquet_file)):
            if not f.endswith(".parquet"):
                continue
            link = os.path.join(d, f)
            if not os.path.exists(link):
                os.symlink(os.path.join(parquet_file, f), link)
    else:
        link = os.path.join(d, os.path.basename(parquet_file))
        if not os.path.exists(link):
            os.symlink(parquet_file, link)
    return d


def events_replay_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DataFrame over `events` with the same schema/columns the
    batch loader produces (ts restored from nanos to TimestampType)."""
    from weather_stream_processor_spark.sources import ensure_session_defaults
    from weather_stream_processor_spark.sources.tables import parquet_scan

    ensure_session_defaults(spark)
    path = os.path.join(sf_dir, "events.parquet")
    # TIMESTAMP(NANOS) fixtures arrive as LongType (via nanosAsLong) and need
    # the nanos->micros restore; micros fixtures arrive as TimestampType
    # already (NTZ inference pinned off) and pass through untouched. The
    # schema comes from the session's parquet schema memo, which a batch
    # load_table of the same file has usually filled already.
    schema = parquet_scan(spark, path).schema
    stream = spark.readStream.schema(schema).parquet(_as_stream_dir(path))
    from pyspark.sql import types as T

    if isinstance(schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def events_as_weather_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-encode the events replay as the reference's Kafka wire format —
    a binary `value` column of JSON messages (weather_stream.py:131-138):
    ``{"timestamp": <epoch-str>, "total_precipitation": x, "location":
    {"lat": .., "lon": ..}}`` with user_id standing in for the location.

    This exercises the full consumer path including the binary cast and
    permissive JSON parse, end to end, without a broker.
    """
    ev = events_replay_source(spark, sf_dir)
    payload = F.to_json(
        F.struct(
            F.unix_timestamp("ts").cast("string").alias("timestamp"),
            F.col("value").alias("total_precipitation"),
            F.struct(
                F.col("user_id").cast("double").alias("lat"),
                (-F.col("user_id")).cast("double").alias("lon"),
            ).alias("location"),
        )
    )
    return ev.select(F.encode(payload, "utf-8").alias("value"))


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "complete", timeout_s: float = 300
) -> DataFrame:
    """Run a bounded streaming plan to completion into a memory sink and
    return the result as a batch DataFrame (``TimeoutError`` if it has not
    drained after ``timeout_s``; see ``await_drained``).

    availableNow + awaitTermination = deterministic, synchronous replay
    through the incremental execution engine (StateStore save/restore,
    watermark advancement) — NOT a batch shortcut.
    """
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q, timeout_s)
    return spark.table(name)


def await_drained(q: StreamingQuery, timeout_s: float) -> None:
    """Block until a bounded (availableNow) query has drained its input.

    A query still running at the deadline is stopped, so it neither hands
    a partial result to the caller nor keeps the executors busy, and
    ``TimeoutError`` names it. A query that failed re-raises its error.
    """
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name!r} (id {q.id}) did not drain within "
            f"{timeout_s} s; stopped it"
        )
    ex = q.exception()
    if ex is not None:
        raise ex
